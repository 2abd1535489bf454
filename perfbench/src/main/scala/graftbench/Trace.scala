package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** A span around one call from the benchmark into a layer. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Span recorder. Each span sets the Spark job group to its own id while its
  * body runs, so every job the call submits becomes a child of the span.
  * When tracing is off, [[span]] only runs the body.
  */
final class Trace(sc: SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var lastId = 0
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val start = nowMs
      try body
      finally {
        spans += Span(id, parent, name, start, nowMs)
        stack.pop()
        if (stack.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(s"span-${stack.head}", name, interruptOnCancel = false)
      }
    }

  /** Spans whose name starts with `prefix`. */
  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  /** Jobs submitted while `s` was the innermost open span. */
  def jobsOf(s: Span, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(_.group == s"span-${s.id}")

  /** Self time of `s`: its duration minus the part of it covered by its
    * child spans and by the Spark jobs it submitted directly.
    */
  def selfMs(s: Span, jobs: Seq[JobRec]): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
      jobsOf(s, jobs).map(j => (j.startMs.toDouble, j.endMs.toDouble))
    var covered = 0.0
    var reach = s.startMs
    kids.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0.0, s.ms - covered)
  }

  /** Writes every span and job as JSON, parents linked by id. */
  def write(path: java.nio.file.Path, jobs: Seq[JobRec]): Unit = {
    def str(s: String) = Json.str(s)
    val spanJson = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""self_ms":${selfMs(s, jobs)}}"""
    }
    val jobJson = jobs.map { j =>
      val parent = Option(j.group).filter(_.startsWith("span-"))
        .map(_.stripPrefix("span-")).getOrElse("0")
      s"""{"job":${j.id},"parent":$parent,"start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},"ok":${j.ok},""" +
        s""""site":${str(j.site.linesIterator.take(3).mkString(" | "))}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      spanJson.mkString("{\"spans\":[\n", ",\n", "],\n") +
        jobJson.mkString("\"jobs\":[\n", ",\n", "]}\n"))
  }
}
