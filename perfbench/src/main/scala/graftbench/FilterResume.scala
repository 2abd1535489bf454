package graftbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.lineage.{LineageStore, ResumableRunner, SimulatedFailure}
import graft.model.Page
import graft.pipeline.QualityPipeline
import graft.synth.SynthPages

/** `filter_resume`: the quality filter as a resumable batch job. Set-up
  * generates a `SynthPages` corpus and writes it as parquet. One iteration
  * runs `ResumableRunner.run` until an injected failure after half its
  * waves, resumes it, and verifies the output: the digest of
  * `(url, keep, md5(scrubbed_text))` equals that of an uninterrupted
  * `annotate` over the same pages, and the lineage table counts every page
  * once. At the default seed the kept/dropped rows also match the
  * committed golden decisions.
  */
final class FilterResume(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._

  val layers = Set("synth", "stages", "pipeline", "lineage", "analytics")

  val Docs = 12000L
  val Chunks = 16
  val WaveSize = 4
  val KillAfterWaves = 2
  val Waves: Int = Chunks / WaveSize

  private val pagesDir = ctx.work.resolve("pages").toString
  private val outDir = ctx.work.resolve("out").toString
  private val lineageDir = ctx.work.resolve("lineage").toString
  private var pages: Dataset[Page] = _
  private var expected: Row3 = _
  private var runs = 0

  private type Row3 = (Long, Long, Long)

  /** Order-free digest of the decisions and scrubbed text: row count, xor
    * and low-bits sum of a per-row hash.
    */
  private def digest(df: DataFrame): Row3 = {
    val h = xxhash64(col("url"), col("keep"), md5(col("scrubbed_text")))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(0xFFFFFFFL)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def setup(): Unit = {
    SynthPages.pages(ctx.spark, Docs, ctx.seed, partitions = ctx.nproc * 2)
      .write.mode("overwrite").parquet(pagesDir)
    pages = ctx.spark.read.parquet(pagesDir).as[Page]
  }

  override def prepare(): Unit =
    expected = digest(QualityPipeline.annotate(pages).toDF)

  override def reset(): Unit = {
    Main.rmTree(java.nio.file.Paths.get(outDir))
    Main.rmTree(java.nio.file.Paths.get(lineageDir))
  }

  private def run(runId: String, failAfter: Option[Int]): Seq[Int] =
    ResumableRunner.run(pages, outDir, lineageDir, runId, numChunks = Chunks,
      waveSize = WaveSize, failAfterWaves = failAfter)

  def iterate(): Option[Map[String, Double]] = {
    val runId = s"run$runs"
    runs += 1
    val (killed, killS) = Main.time(ctx.trace.span("lineage.run.killed") {
      try { run(runId, Some(KillAfterWaves)); false }
      catch { case _: SimulatedFailure => true }
    })
    val (resumed, resumeS) = Main.time(
      ctx.trace.span("lineage.run.resumed")(run(runId, None)))
    val got = digest(ctx.spark.read.parquet(outDir))
    val lin = new LineageStore(ctx.spark, lineageDir).all()
      .filter(col("run_id") === runId)
      .agg(count(lit(1)), countDistinct(col("chunk_id")), sum(col("docs_in")))
      .head()
    val ok = check(killed &&
        resumed.size == Chunks - KillAfterWaves * WaveSize &&
        got == expected &&
        lin.getLong(0) == Chunks && lin.getLong(1) == Chunks &&
        lin.getLong(2) == Docs,
      s"$runId: killed=$killed resumed=${resumed.size} digest=$got " +
        s"expected=$expected lineage=$lin")
    if (ok) Some(Map("kill_s" -> killS, "resume_s" -> resumeS,
      "pipeline_s" -> (killS + resumeS)))
    else None
  }


  /** At the default seed, the first 2000 pages are the golden fixture's:
    * the resumed output must reproduce its decisions and scrubbed text.
    */
  override def finish(): Unit =
    if (ctx.seed == SynthPages.DefaultSeed && runs > 0) {
      val csv = ctx.root.resolve("src/test/resources/golden_decisions.csv")
      val golden = Files.readAllLines(csv).toArray(Array.empty[String])
        .drop(1).map { line =>
          val Array(url, keep, md5) = line.split(",", 3)
          (url, keep.toBoolean, md5)
        }.toSeq
      val got = ctx.spark.read.parquet(outDir)
        .select(col("url"), col("keep"), md5(col("scrubbed_text")))
        .join(golden.toDF("url", "g_keep", "g_md5"), Seq("url"))
        .as[(String, Boolean, String, Boolean, String)].collect()
      val bad = got.count { case (_, k, m, gk, gm) => k != gk || m != gm }
      check(golden.size == 2000 && got.length == golden.size && bad == 0,
        s"golden decisions: ${got.length}/${golden.size} rows found, $bad differ")
    }

  def endToEnd(iters: Seq[Iter]): Seq[Metric] =
    Seq(Metric("docs_per_s", Docs / Stats.median(iters.map(_.parts("pipeline_s"))), "1/s"))

  def perLayer(traced: Seq[Iter]): Seq[Metric] = {
    val t = ctx.trace
    val sample = pages.select(col("text")).as[String].limit(1000).collect().toSeq
    val gen = Layers.usPer((0L until 1000L).toVector)(SynthPages.gen(_, ctx.seed))

    // pipeline layer: annotate to a noop sink, then the salted repartition
    // and partitioned write over pre-annotated pages
    val (_, annotateS) = Main.time(t.span("pipeline.annotate") {
      QualityPipeline.annotate(pages).write.format("noop").mode("overwrite").save()
    })
    val annotated = graft.analytics.Materialize.dataset(QualityPipeline.annotate(pages))
    val from = ctx.probe.mark()
    val (_, saltS) = Main.time(t.span("pipeline.write_annotated") {
      QualityPipeline.writeAnnotated(annotated, ctx.work.resolve("salted").toString)
    })
    val salt = ctx.probe.totals(ctx.probe.jobsBetween(from, ctx.probe.mark()))

    // lineage layer, from the traced iterations' spans and jobs
    val all = ctx.probe.jobsBetween(0, Int.MaxValue)
    val runSpans = t.named("lineage.run.")
    val runJobs = runSpans.flatMap(t.jobsOf(_, all))
    val n = traced.size.toDouble
    def siteMs(p: String => Boolean) =
      runJobs.filter(j => p(j.site)).map(_.ms).sum / 1e3 / n
    val lin = ctx.probe.totals(runJobs)

    Seq(Metric("synth.gen_us_per_doc", gen, "us")) ++
      Layers.stages(t, sample) ++ Analytics.probe(this, ctx) ++
      Seq(Metric("pipeline.annotate_s", annotateS, "s"),
        Metric("pipeline.salted_repartition_s", saltS, "s"),
        Metric("pipeline.shuffle_bytes_per_doc", salt.shuffleWrite.toDouble / Docs, "bytes"),
        Metric("pipeline.salt_task_skew", salt.taskSkew, "ratio"),
        Metric("lineage.wave_s",
          Stats.median(traced.map(_.parts("pipeline_s"))) / Waves, "s"),
        Metric("lineage.jobs_per_wave", runJobs.size / (n * Waves), "count"),
        Metric("lineage.scan_rows_per_doc", lin.recordsRead / (n * Docs), "count"),
        Metric("lineage.readback_s", siteMs(Sites.readback), "s"),
        Metric("lineage.manifest_s", siteMs(Sites.manifest), "s"),
        Metric("lineage.resume_s", Stats.median(traced.map(_.parts("resume_s"))), "s"))
  }
}

/** Which lineage-layer call submitted a job, read from its call site:
  * `LineageStore` reads and appends the lineage manifest; the runner's own
  * reads (not its wave write) scan a finished wave's output back.
  */
object Sites {
  def manifest(site: String): Boolean = site.contains("LineageStore")
  def readback(site: String): Boolean =
    site.contains("ResumableRunner") && !manifest(site) &&
      !site.contains("DataFrameWriter")
}
