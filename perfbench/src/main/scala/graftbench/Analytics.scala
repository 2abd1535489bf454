package graftbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The traced run's probe of the `analytics` layer (with the `functions`,
  * `similarity` and `multimodal` code its queries call): every
  * `SparkEntry.queries` entry once, in a seed-permuted order, over the
  * query tables at scale factor 0.01 (`data/sf0.01`, a copy of the tables
  * the library's DuckDB oracle check runs on). Each query's result is
  * collected and hashed, and the hash must equal the committed expected
  * one; the time of that call is the query's per-layer time (the first run
  * of its plans in this JVM). A query that throws is not timed.
  */
object Analytics {
  def probe(w: Workload, ctx: Ctx): Seq[Metric] = {
    val dir = ctx.benchDir.resolve("data").resolve("sf0.01").toString
    val queries = graft.SparkEntry.queries
    val order = new scala.util.Random(ctx.seed).shuffle(Catalog.queryKeys)
    val from = ctx.probe.mark()
    val got = order.map { k =>
      ctx.trace.span(s"query.$k") {
        try {
          val (hash, s) = Main.time(resultHash(queries(k)(ctx.spark, dir)))
          (k, hash, Some(s))
        } catch { case NonFatal(e) => (k, s"error: $e", None) }
      }
    }
    val jobs = ctx.probe.jobsBetween(from, ctx.probe.mark()).size.toDouble

    val file = ctx.benchDir.resolve("expected_query_hashes.tsv")
    if (sys.props.contains("perfbench.writeExpected"))
      Files.write(file, got.map(_._1).sorted.map(k =>
        s"$k\t${got.find(_._1 == k).get._2}").asJava)
    else {
      val want = Files.readAllLines(file).asScala
        .map(_.split("\t", 2)).collect { case Array(k, h) => k -> h }.toMap
      got.foreach { case (k, h, _) =>
        w.check(want.get(k).contains(h), s"$k result hash $h, expected ${want.get(k)}")
      }
    }
    got.collect { case (k, _, Some(s)) => Metric(s"query.${k}_ms", s * 1e3, "ms") } ++
      Seq(Metric("analytics.jobs_total", jobs, "count"),
        Metric("analytics.jobs_per_query", jobs / got.size, "count"))
  }

  /** Hash of a result that ignores row and column order and reads
    * floating-point values to six significant digits.
    */
  def resultHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(c => col(s"`$c`")).toSeq: _*).collect()
      .map(r => r.toSeq.map(canon).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.update(cols.mkString(",").getBytes("UTF-8"))
    s"${rows.length}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toPlainString

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
