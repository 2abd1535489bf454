package graft.lineage

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
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
  * calling process then commits one lineage file for the wave. Two waves are
  * in flight at once, so the next wave's planning and tasks fill the cores
  * that a draining wave leaves idle; commits still land one wave at a time,
  * in wave order, each after its own write succeeded:
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
    val name = f"${LineageStore.nextStamp()}%013d-${UUID.randomUUID()}.json"
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

  private val lastStamp = new AtomicLong

  /** Epoch milliseconds, strictly increasing within this process, so that
    * commit names sort in commit order even when two commits land in the
    * same millisecond.
    */
  def nextStamp(): Long =
    lastStamp.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

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
    * Two waves are in flight at once: wave i+1 is planned and its write
    * submitted while wave i's tasks drain. Waves are committed in wave
    * order, each only after its own write succeeded. When a wave fails,
    * the runner waits for the wave still in flight, commits nothing more
    * and rethrows the failure; no Spark job outlives the call.
    *
    * @param failAfterWaves if set, waves from that index on never start,
    *                       and [[SimulatedFailure]] is thrown once the
    *                       earlier waves are committed (test hook).
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

    /** One wave's annotate + partitioned write; returns the observed
      * `in_<c>`/`kept_<c>` counts of its chunks.
      */
    def write(wave: Seq[Int]): Map[String, Any] = {
      val obs = Observation()
      val counts = wave.flatMap { c =>
        val inChunk = col("chunk_id") === c
        Seq(count_if(inChunk).as(s"in_$c"), count_if(inChunk && col("keep")).as(s"kept_$c"))
      }
      // idempotent per-chunk overwrite: re-running a chunk replaces exactly
      // its own partition directories, never duplicates. Two waves' chunks
      // are disjoint and each dynamic-overwrite job stages under its own
      // `.spark-staging-<jobId>`, so two waves may write at once.
      QualityPipeline.annotate(pages.filter(chunkId.isin(wave: _*)), th)
        .withColumn("chunk_id", chunkId)
        .observe(obs, counts.head, counts.tail: _*)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("chunk_id")
        .parquet(outDir)
      obs.get
    }

    val waves = remaining.grouped(waveSize).toVector
    val started = failAfterWaves.fold(waves.size)(math.min(_, waves.size))
    // Created here, not shared: a new thread copies the caller's Spark local
    // properties (job group, scheduler pool) when it is created, so the
    // waves' jobs are attributed as if the caller had submitted them.
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val inFlight = mutable.Queue.empty[Future[Map[String, Any]]]
    def submit(i: Int): Unit = if (i < started) inFlight.enqueue(Future(write(waves(i))))
    try {
      submit(0)
      submit(1)
      for (i <- 0 until started) {
        val seen = Await.result(inFlight.head, Duration.Inf)
        inFlight.dequeue()
        def n(key: String) = seen(key).asInstanceOf[Long]
        val now = System.currentTimeMillis()
        store.append(waves(i).map(c =>
          LineageRecord(runId, c, "done", n(s"in_$c"), n(s"kept_$c"), now)))
        submit(i + 2)
      }
    } finally {
      // a failed wave or commit leaves its sibling running: let it finish
      // (uncommitted) so that no job outlives this call
      inFlight.foreach(Await.ready(_, Duration.Inf))
      pool.shutdown()
    }
    val processed = waves.take(started).flatten
    if (started < waves.size) throw new SimulatedFailure(
      s"injected failure before wave $started (processed ${processed.size} chunks)")
    processed
  }
}
