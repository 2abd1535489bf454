package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.model.{AnnotatedPage, Page, Thresholds}
import graft.stages.{HeuristicsScalar, LangIdModel, PerplexityModel, ScrubScalar}

/** Row shape entering the batched scorer (matched by name in `.as[...]`).
  * Heuristics, scrub and scoring all happen in ONE `mapPartitions` pass:
  * the Column equivalents exist ([[graft.stages.Heuristics]],
  * [[graft.stages.Scrub]], cross-validated by parity specs) but Catalyst
  * higher-order functions are CodegenFallback (interpreted, one re-tokenize
  * per metric) and every regexp expression re-materializes the UTF8String —
  * the fused scalar pass touches the text a minimal number of times.
  */
final case class PipeRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    crawl_snapshot: String,
    text: String,
    lang: String
)

/** The flagship quality pipeline (north rule): langid (N1) + perplexity (N2)
  * + Gopher/C4 heuristics (N3) + PII/toxicity scrub (N4) + keep/drop (N5)
  * over Common-Crawl-style pages.
  *
  * Physical shape (see SURVEY.md §4.3): a column-pruned projection feeding
  * one shuffle-free batched `mapPartitions` in which scrub, heuristics,
  * langid and perplexity run as scalar kernels, row by row (one broadcast
  * deref per partition), then the only shuffle: a salted
  * repartition before the partitioned write (skewed-host handling).
  */
object QualityPipeline {

  /** Crawl-snapshot label derived from warc_ts (partition key; the
    * reference's natural partition key is the `dump` snapshot name,
    * `fineweb/fineweb2_download.py:19`). Uses the ISO week-YEAR (not the
    * calendar year) so the pair is consistent at year boundaries: Jan 1-3
    * of week 52/53 labels into the OLD year's snapshot, late-Dec dates in
    * week 1 into the NEW year's — never a mixed `2024-53`/`2023-01` label.
    */
  def snapshotCol(warcTs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    format_string("CC-MAIN-%d-%02d",
      date_part(lit("YEAROFWEEK"), warcTs), weekofyear(warcTs))

  /** Pure-scala keep decision — shared by the distributed scorer and the
    * scalar golden-label generator so decision semantics live in ONE place.
    * Conjunction shape mirrors F1/F2 threshold composition
    * (`small_model_inference/filter.py:22`, `ro_vs_eng/filter_jql.py:27`).
    */
  def decide(th: Thresholds, langPred: String, langConf: Double, ppl: Double,
      docLen: Int, meanWordLen: Double, symbolRatio: Double,
      stopwordFrac: Double, dupLineFrac: Double, nSlurs: Int): Boolean =
    langPred == "ron" && langConf >= th.minLangConf &&
      ppl <= th.maxPpl &&
      docLen >= th.minWords && docLen <= th.maxWords &&
      meanWordLen >= th.minMeanWordLen && meanWordLen <= th.maxMeanWordLen &&
      symbolRatio <= th.maxSymbolWordRatio &&
      stopwordFrac >= th.minStopwordFrac &&
      dupLineFrac <= th.maxDupLineFrac &&
      nSlurs <= th.maxSlurs

  /** Full annotation: Dataset[Page] → Dataset[AnnotatedPage]. No shuffle. */
  def annotate(pages: Dataset[Page],
      th: Thresholds = Thresholds.default): Dataset[AnnotatedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._

    // column-prune early: html (the heavy binary) never leaves the scan
    val projected = pages.toDF.select(
      col("url"), col("warc_ts"), snapshotCol(col("warc_ts")).as("crawl_snapshot"),
      col("text"), col("lang")).as[PipeRow]

    val bLangW = spark.sparkContext.broadcast(LangIdModel.weights)
    val bLm = spark.sparkContext.broadcast(PerplexityModel.default)

    projected.mapPartitions { iter =>
      val w = bLangW.value // one deref per partition
      val lm = bLm.value
      iter.grouped(64).flatMap { batch =>
        batch.map { r =>
          val s = ScrubScalar(r.text) // compiled-regex scrub, guarded
          val h = HeuristicsScalar.compute(r.text) // one pass, all 5 metrics
          val (pred, conf) = LangIdModel.predict(r.text, w)
          val ronConf = if (pred == "ron") conf else 1.0 - conf
          val ppl = lm.perplexity(r.text)
          val keep = decide(th, pred, ronConf, ppl, h.docLenWords,
            h.meanWordLen, h.symbolWordRatio, h.stopwordFrac,
            h.dupLineFrac, s.nSlurs)
          AnnotatedPage(r.url, r.warc_ts, r.crawl_snapshot, r.lang,
            pred, ronConf, ppl, h.docLenWords, h.meanWordLen,
            h.symbolWordRatio, h.stopwordFrac, h.dupLineFrac,
            s.scrubbed, s.nEmails, s.nPhones, s.nCnps, s.nSlurs,
            keep)
        }
      }
    }
  }

  /** Salted, snapshot-partitioned write — the pipeline's only shuffle.
    * Salting spreads zipf-skewed hosts across `saltBuckets` writers per
    * snapshot (north rule: "salted repartitioning for skewed hosts");
    * at cluster scale the same call writes an Iceberg table
    * (`.writeTo(t).overwritePartitions()`) — parquet here because the
    * sandbox ships no Iceberg runtime.
    */
  def writeAnnotated(ds: Dataset[AnnotatedPage], outPath: String,
      saltBuckets: Int = 32): Unit = {
    ds.repartition(saltBuckets, col("crawl_snapshot"),
        pmod(xxhash64(col("url")), lit(saltBuckets)))
      .write.mode("overwrite")
      .partitionBy("crawl_snapshot")
      .parquet(outPath)
  }

  /** annotate + keep-only + write, end-to-end. */
  def run(pages: Dataset[Page], outPath: String,
      th: Thresholds = Thresholds.default,
      keepOnly: Boolean = false, saltBuckets: Int = 32): Unit = {
    val annotated = annotate(pages, th)
    val out = if (keepOnly) annotated.filter(_.keep) else annotated
    writeAnnotated(out, outPath, saltBuckets)
  }
}
