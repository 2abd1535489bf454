package graft.lineage

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskContext, TestBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, MapPartitions}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Page
import graft.synth.SynthPages

/** C1 resume semantics (FIXTURES.md `resume` family): kill after K waves,
  * restart, no double-processing, final output == single-run output.
  */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs `body` with `l` listening, and returns once every event that
    * `body` posted has reached `l`.
    */
  private def listening[T](l: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { val r = body; TestBus.drain(sc); r }
    finally sc.removeSparkListener(l)
  }

  /** Spark jobs that `body` submits from this thread, or from threads it
    * starts, and how many of them had not ended when `body` returned or
    * threw (counted once the listener bus is drained).
    */
  private def scopedJobs(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val (key, tag) = ("graft.test.scope", java.util.UUID.randomUUID().toString)
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val open = new AtomicInteger(-1)
    sc.setLocalProperty(key, tag)
    try listening(l) {
      try body
      finally {
        TestBus.drain(sc)
        open.set(started.asScala.count(j => !ended.contains(j)))
      }
    } finally sc.setLocalProperty(key, null)
    (started.size, open.get)
  }

  /** Spark jobs that `body` submits from this thread. */
  private def jobsOf(body: => Unit): Int = scopedJobs(body)._1

  test("killed run resumes at partition granularity; output equals single run") {
    val base = Files.createTempDirectory("graft_lineage").toString
    val pages = SynthPages.pages(spark, 1200L)

    // single uninterrupted run = golden output
    ResumableRunner.run(pages, s"$base/golden", s"$base/lin_golden", "golden",
      numChunks = 8, waveSize = 2)

    // killed run: fails after 1 wave (2 of 8 chunks)
    intercept[SimulatedFailure] {
      ResumableRunner.run(pages, s"$base/out", s"$base/lin", "run1",
        numChunks = 8, waveSize = 2, failAfterWaves = Some(1))
    }
    val store = new LineageStore(spark, s"$base/lin")
    val afterKill = store.completedChunks("run1")
    assert(afterKill.size == 2, s"expected 2 completed chunks, got $afterKill")

    // resume: must process exactly the remaining 6, never the completed 2
    val resumed = ResumableRunner.run(pages, s"$base/out", s"$base/lin", "run1",
      numChunks = 8, waveSize = 2)
    assert(resumed.size == 6)
    assert(resumed.toSet.intersect(afterKill).isEmpty, "chunk double-processed")
    assert(store.completedChunks("run1") == (0 until 8).toSet)

    // lineage rows: one per chunk, no duplicates
    val rows = store.all().collect().filter(_.run_id == "run1")
    assert(rows.length == 8)
    assert(rows.map(_.chunk_id).distinct.length == 8)
    assert(rows.map(_.docs_in).sum == 1200L)

    // final output byte-equals the uninterrupted golden run
    val out = spark.read.parquet(s"$base/out").drop("chunk_id")
      .orderBy(col("url")).collect()
    val golden = spark.read.parquet(s"$base/golden").drop("chunk_id")
      .orderBy(col("url")).collect()
    assert(out.length == 1200 && out.sameElements(golden))
  }

  test("each wave scores ONLY its own chunks (no per-wave full-corpus rescan)") {
    val base = Files.createTempDirectory("graft_lineage3").toString
    val pages = SynthPages.pages(spark, 800L)

    // the optimized plan of every wave's write: scoring the full corpus per
    // wave (annotate BELOW the chunk filter) would be O(waves × corpus)
    val plans = ArrayBuffer.empty[LogicalPlan]
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        qe.optimizedPlan.foreach {
          case w: DataWritingCommand => plans.synchronized(plans += w.query)
          case _ =>
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      ResumableRunner.run(pages, s"$base/out", s"$base/lin", "scan",
        numChunks = 8, waveSize = 2)
      TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(ql)

    def isChunkFilter(p: LogicalPlan) = p match {
      case Filter(cond, _) => cond.exists(_.isInstanceOf[XxHash64])
      case _ => false
    }
    assert(plans.size == 4, s"expected one write per wave, got ${plans.size}")
    plans.foreach { p =>
      val scorers = p.collect { case m: MapPartitions => m }
      assert(scorers.size == 1, p.treeString)
      val below = scorers.head.child.collect { case f if isChunkFilter(f) => f }
      assert(below.nonEmpty, s"no chunk filter below the scorer:\n${p.treeString}")
      assert(p.collect { case f if isChunkFilter(f) => f }.size == below.size,
        s"a chunk filter sits above the scorer:\n${p.treeString}")
    }
  }

  test("a run of W waves submits exactly W Spark jobs; the lineage log submits none") {
    val base = Files.createTempDirectory("graft_lineage5").toString
    val pages = SynthPages.pages(spark, 800L)
    val runJobs = jobsOf {
      ResumableRunner.run(pages, s"$base/out", s"$base/lin", "jobs",
        numChunks = 8, waveSize = 2)
    }
    assert(runJobs == 4, s"4 waves submitted $runJobs jobs")

    val store = new LineageStore(spark, s"$base/lin")
    val logJobs = jobsOf {
      assert(store.completedChunks("jobs") == (0 until 8).toSet)
      store.append(Seq(LineageRecord("other", 3, "done", 1L, 0L, 0L)))
      assert(store.completedChunks("other") == Set(3))
    }
    assert(logJobs == 0, s"lineage reads and commits submitted $logJobs jobs")
  }

  test("lineage counts are exact when every task's first attempt fails") {
    val base = Files.createTempDirectory("graft_lineage6").toString
    import spark.implicits._
    // each attempt 0 fails after its last page, once every row has passed
    // through the scorer and the observed counts
    val flaky = SynthPages.pages(spark, 800L).mapPartitions { it =>
      val first = TaskContext.get.attemptNumber() == 0
      new Iterator[Page] {
        def hasNext: Boolean = {
          val more = it.hasNext
          if (!more && first) throw new IllegalStateException("injected first-attempt failure")
          more
        }
        def next(): Page = it.next()
      }
    }
    val failed = new AtomicInteger
    listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failed.incrementAndGet()
    }) {
      ResumableRunner.run(flaky, s"$base/out", s"$base/lin", "retry",
        numChunks = 8, waveSize = 4)
    }
    assert(failed.get > 0, "no task attempt failed: the injection did not fire")

    val fromOutput = spark.read.parquet(s"$base/out").groupBy("chunk_id")
      .agg(count(lit(1)), sum(col("keep").cast("long")))
      .as[(Int, Long, Long)].collect().map { case (c, n, k) => c -> (n, k) }.toMap
    val lineage = new LineageStore(spark, s"$base/lin").all().collect()
    assert(lineage.length == 8)
    lineage.foreach { r =>
      assert((r.docs_in, r.docs_kept) == fromOutput.getOrElse(r.chunk_id, (0L, 0L)),
        s"chunk ${r.chunk_id}")
    }
    assert(lineage.map(_.docs_in).sum == 800L)
  }

  test("the commit log is crash-safe") {
    val base = Files.createTempDirectory("graft_lineage7").toString

    // no lineage directory yet: nothing is complete
    val none = new LineageStore(spark, s"$base/never")
    assert(none.completedChunks("crash").isEmpty)
    assert(none.all().collect().isEmpty)

    val pages = SynthPages.pages(spark, 800L)
    ResumableRunner.run(pages, s"$base/out", s"$base/lin", "crash",
      numChunks = 8, waveSize = 2)
    val lin = Paths.get(s"$base/lin")
    def names = Files.list(lin).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.exists(_.endsWith(".crc")), s"no checksum files beside the commits: $names")

    // a crash mid-commit leaves a hidden, torn temp file behind
    Files.write(lin.resolve(".0-torn.json.tmp"), """{"run_id":"crash","chu""".getBytes)
    val store = new LineageStore(spark, s"$base/lin")
    assert(store.completedChunks("crash") == (0 until 8).toSet)
    assert(store.all().collect().length == 8)

    // a crash after a wave's write but before its commit: the wave's data is
    // on disk and its chunks re-run on resume, with no duplicate rows
    Files.delete(lin.resolve(names.filter(n => n.endsWith(".json") && !n.startsWith(".")).min))
    val lost = (0 until 8).toSet -- store.completedChunks("crash")
    assert(lost.size == 2)
    val rerun = ResumableRunner.run(pages, s"$base/out", s"$base/lin", "crash",
      numChunks = 8, waveSize = 2)
    assert(rerun.toSet == lost)
    assert(store.completedChunks("crash") == (0 until 8).toSet)
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 800L && out.select("url").distinct().count() == 800L)
  }

  test("metrics in lineage match the pipeline decisions") {
    val base = Files.createTempDirectory("graft_lineage2").toString
    val pages = SynthPages.pages(spark, 600L)
    ResumableRunner.run(pages, s"$base/out", s"$base/lin", "m1",
      numChunks = 4, waveSize = 4)
    val store = new LineageStore(spark, s"$base/lin")
    val rows = store.all().collect()
    val keptTotal = rows.map(_.docs_kept).sum
    val expected = graft.pipeline.QualityPipeline
      .annotate(pages).filter(_.keep).count()
    assert(keptTotal == expected)
  }

  test("a wave that fails while its sibling is in flight commits neither; " +
      "resume re-runs both without duplicates") {
    val base = Files.createTempDirectory("graft_lineage8").toString
    import spark.implicits._
    val pages = SynthPages.pages(spark, 800L)
    // rows of wave 0 (chunks 0 and 1) fail on every attempt. The chunk
    // filter is pushed below this projection, so wave 1 (chunks 2 and 3),
    // submitted beside wave 0, reads none of them and writes its output
    val chunk = pmod(xxhash64(col("url")), lit(8))
    val failing = pages.withColumn("text",
      when(chunk.isin(0, 1), raise_error(lit("injected wave-0 failure")))
        .otherwise(col("text"))).as[Page]
    val (jobs, open) = scopedJobs {
      val e = intercept[Exception] {
        ResumableRunner.run(failing, s"$base/out", s"$base/lin", "sib",
          numChunks = 8, waveSize = 2)
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("injected wave-0")), e)
    }
    assert(jobs == 2, s"waves 2 and 3 must not start: $jobs jobs")
    assert(open == 0, s"$open jobs outlived the failed run")
    val store = new LineageStore(spark, s"$base/lin")
    assert(store.completedChunks("sib").isEmpty)
    val landed = spark.read.parquet(s"$base/out").select("chunk_id").distinct()
      .as[Int].collect().toSet
    assert(landed == Set(2, 3), s"the sibling's write landed uncommitted: $landed")

    val rerun = ResumableRunner.run(pages, s"$base/out", s"$base/lin", "sib",
      numChunks = 8, waveSize = 2)
    assert(rerun == (0 until 8))
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 800L && out.select("url").distinct().count() == 800L)
    assert(store.all().collect().map(_.docs_in).sum == 800L)
  }

  test("failAfterWaves = k submits exactly k write jobs and commits k waves") {
    val base = Files.createTempDirectory("graft_lineage9").toString
    val pages = SynthPages.pages(spark, 800L)
    Seq(0, 1, 2, 3).foreach { k =>
      val (jobs, open) = scopedJobs {
        intercept[SimulatedFailure] {
          ResumableRunner.run(pages, s"$base/out$k", s"$base/lin$k", "k",
            numChunks = 8, waveSize = 2, failAfterWaves = Some(k))
        }
      }
      assert(jobs == k, s"failAfterWaves = $k submitted $jobs jobs")
      assert(open == 0, s"failAfterWaves = $k: $open jobs outlived the run")
      assert(new LineageStore(spark, s"$base/lin$k").completedChunks("k") ==
        (0 until 2 * k).toSet, s"failAfterWaves = $k")
    }
  }

  test("commit files land in wave order, and no job outlives the run") {
    val base = Files.createTempDirectory("graft_lineage10").toString
    val pages = SynthPages.pages(spark, 800L)
    val (jobs, open) = scopedJobs {
      ResumableRunner.run(pages, s"$base/out", s"$base/lin", "order",
        numChunks = 8, waveSize = 2)
    }
    assert(jobs == 4 && open == 0, s"jobs=$jobs open=$open")
    val commits = Files.list(Paths.get(s"$base/lin")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith(".")).toSeq.sorted
    val waves = commits.map { n =>
      Files.readAllLines(Paths.get(s"$base/lin", n)).asScala.filter(_.nonEmpty)
        .map(LineageStore.Json.readValue(_, classOf[LineageRecord]).chunk_id).toSet
    }
    assert(waves == Seq(Set(0, 1), Set(2, 3), Set(4, 5), Set(6, 7)), s"$commits")
  }
}
