package graft.lineage

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.io.Source

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.{Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Page, Thresholds}
import graft.pipeline.QualityPipeline

/** C1/C5 — partition-granular checkpoint/resume with a lineage commit log.
  *
  * The reference's protocol is "processed ⇔ output file exists; poll & skip"
  * (`small_model_inference/small_model_inference.py:106-114`,
  * `fineweb/big_inference.py:296-309`, `shard_manager.py:19-26`). Here each
  * wave of chunks is one Spark job, the annotate + partitioned write, and the
  * calling process then commits one lineage file for the wave:
  *
  *  1. the write carries a `Dataset.observe` of `docs_in`/`docs_kept` per
  *     chunk. The write is a result stage, so only successful task attempts
  *     merge into the counts: they are exact under task retry, and the
  *     output is never scanned back to count it;
  *  2. [[LineageStore.append]] writes the wave's `(run_id, chunk_id, status,
  *     docs_in, docs_kept, completed_at_ms)` rows as JSON lines under a
  *     hidden temporary name, then renames the file into place (the shape of
  *     Delta's `_delta_log`). A crash leaves a whole commit or none;
  *  3. on restart the chunk manifest minus the committed chunks is the work
  *     left. Every chunk write is an idempotent overwrite of its own
  *     partition directory, so a chunk whose data landed but whose commit did
  *     not re-runs with no duplicates.
  *
  * Reading the log lists and parses the commit files in the calling process,
  * with no Spark job.
  *
  * A "chunk" is the resume granule. The synthetic corpus chunks by
  * `pmod(xxhash64(url), n)`; on a real Iceberg deployment the chunk is the
  * crawl-snapshot partition (or a shard range within it) so each chunk job
  * prunes to its own files instead of re-scanning the input.
  */
final case class LineageRecord(
    run_id: String,
    chunk_id: Int,
    status: String,
    docs_in: Long,
    docs_kept: Long,
    completed_at_ms: Long
)

final class LineageStore(spark: SparkSession, path: String) {
  import spark.implicits._

  private val dir = new Path(path)
  private def fs: FileSystem = dir.getFileSystem(spark.sessionState.newHadoopConf())

  /** Every committed record. A missing directory is an empty log. */
  private def records(): Seq[LineageRecord] = {
    val fs = this.fs
    val commits =
      try fs.listStatus(dir, LineageStore.Committed).map(_.getPath).sortBy(_.getName)
      catch { case _: FileNotFoundException => Array.empty[Path] }
    commits.toSeq.flatMap { p =>
      val src = Source.fromInputStream(fs.open(p), UTF_8.name)
      try src.getLines().filter(_.nonEmpty)
        .map(LineageStore.Json.readValue(_, classOf[LineageRecord])).toVector
      finally src.close()
    }
  }

  def completedChunks(runId: String): Set[Int] =
    records().collect {
      case r if r.run_id == runId && r.status == "done" => r.chunk_id
    }.toSet

  /** Commits `records` as one file: written under a hidden name, then
    * renamed into place, so readers see all of them or none.
    */
  def append(records: Seq[LineageRecord]): Unit = {
    val fs = this.fs
    val name = f"${System.currentTimeMillis()}%013d-${UUID.randomUUID()}.json"
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, false)
    try records.foreach { r =>
      out.write(LineageStore.Json.writeValueAsBytes(r))
      out.write('\n')
    } finally out.close()
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new IOException(s"lineage commit $name did not land in $path")
  }

  def all(): Dataset[LineageRecord] = records().toDS()
}

private object LineageStore {
  val Json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Commit files only: hidden and `_` names are in-flight temp files or
    * filesystem side files such as `LocalFileSystem`'s `.crc` checksums.
    */
  val Committed: PathFilter = p => {
    val n = p.getName
    n.endsWith(".json") && !n.startsWith(".") && !n.startsWith("_")
  }
}

/** Injected mid-run failure for the resume test (reference pattern: a killed
  * worker leaves unprocessed shards behind).
  */
final class SimulatedFailure(msg: String) extends RuntimeException(msg)

object ResumableRunner {
  /** Runs the quality pipeline chunk-wave by chunk-wave with lineage
    * checkpointing. Returns the chunk ids processed in THIS invocation.
    *
    * @param failAfterWaves if set, throws [[SimulatedFailure]] after that
    *                       many completed waves (test hook).
    */
  def run(
      pages: Dataset[Page],
      outDir: String,
      lineageDir: String,
      runId: String,
      numChunks: Int = 16,
      waveSize: Int = 4,
      th: Thresholds = Thresholds.default,
      failAfterWaves: Option[Int] = None): Seq[Int] = {
    val store = new LineageStore(pages.sparkSession, lineageDir)

    // anti-join of the chunk manifest against completed lineage (manifest is
    // tiny — numChunks rows — so this is a driver-side set difference; at
    // Iceberg scale the same thing is a metadata-table anti-join)
    val done = store.completedChunks(runId)
    val remaining = (0 until numChunks).filterNot(done)

    // chunk_id is a pure function of url, so the wave filter is applied to
    // the RAW pages, BELOW annotate: each wave scores only its own chunks
    // (scoring the full corpus per wave would be O(waves × corpus) — the
    // 100 TB killer). On a real Iceberg deployment chunk_id is the physical
    // partition and this filter prunes files instead of rows.
    def chunkId = pmod(xxhash64(col("url")), lit(numChunks)).cast("int")

    val processed = scala.collection.mutable.ArrayBuffer.empty[Int]
    remaining.grouped(waveSize).zipWithIndex.foreach { case (wave, waveIdx) =>
      failAfterWaves.foreach { k =>
        if (waveIdx >= k) throw new SimulatedFailure(
          s"injected failure before wave $waveIdx (processed ${processed.size} chunks)")
      }
      val obs = Observation()
      val counts = wave.flatMap { c =>
        val inChunk = col("chunk_id") === c
        Seq(count_if(inChunk).as(s"in_$c"), count_if(inChunk && col("keep")).as(s"kept_$c"))
      }
      // idempotent per-chunk overwrite: re-running a chunk replaces exactly
      // its own partition directories, never duplicates
      QualityPipeline.annotate(pages.filter(chunkId.isin(wave: _*)), th)
        .withColumn("chunk_id", chunkId)
        .observe(obs, counts.head, counts.tail: _*)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("chunk_id")
        .parquet(outDir)
      val seen = obs.get
      def n(key: String) = seen(key).asInstanceOf[Long]
      val now = System.currentTimeMillis()
      store.append(wave.map(c => LineageRecord(runId, c, "done", n(s"in_$c"), n(s"kept_$c"), now)))
      processed ++= wave
    }
    processed.toSeq
  }
}
