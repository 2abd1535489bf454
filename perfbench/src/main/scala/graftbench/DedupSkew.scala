package graftbench

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Materialize
import graft.dedup.Dedup
import graft.synth.ScaleCorpus

/** `dedup_skew`: the near-duplicate family over a zipf-clustered
  * `ScaleCorpus`, materialized in set-up. One iteration runs capped MinHash
  * LSH, connected components over its pairs, the exact prefix-filter
  * jaccard join in rare-first order over the bounded-cluster slice, and
  * capped SimHash, each to a materialized result. Its pair counts must
  * repeat exactly for the seed; after the loop, recall is checked against
  * the planted clusters.
  */
final class DedupSkew(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._

  val layers = Set("synth", "stages", "dedup")

  val Docs = 6000L
  val BucketCap = 64
  val MinJ = 0.8
  /** The exact join runs on unique docs and the zipf tail: clusters from
    * this rank on are small, while all-pairs over a head cluster is
    * quadratic by definition (the capped LSH path owns that mass).
    */
  val SliceFromCluster = 2000L
  /** Intact share of planted clusters below which MinHash recall failed. */
  val MinIntactFrac = 0.95

  /** A pass takes about ten seconds on 4 vCPUs, most of it fixed cost, and
    * the run budget holds two timed ones after a warm-up pass over the first
    * WarmupDocs documents.
    */
  override val minIters = 2
  val WarmupDocs = 1500L

  private var corpus: DataFrame = _
  private var slice: DataFrame = _
  private var reference: Seq[Long] = Nil
  private var last: Map[String, DataFrame] = Map.empty

  def setup(): Unit =
    corpus = Materialize(
      ScaleCorpus.docs(ctx.spark, Docs, ctx.seed, partitions = ctx.nproc * 2).toDF())

  private def sliceOf(docs: DataFrame): DataFrame =
    docs.filter(col("cluster") === -1L || col("cluster") >= SliceFromCluster)
      .withColumn("grp", lit("all"))

  override def prepare(): Unit = slice = sliceOf(corpus)

  override def warmup(): Unit = {
    val small = Materialize(corpus.filter(col("doc_id") < WarmupDocs))
    pass(small, sliceOf(small))
  }

  def iterate(): Option[Map[String, Double]] = {
    val (counts, parts) = pass(corpus, slice)
    if (reference.isEmpty) reference = counts
    val ok = Seq("minhash" -> (0 to 3), "clusters" -> (4 to 6),
      "jaccard_freq" -> (7 to 7), "simhash" -> (8 to 11)).map { case (op, ix) =>
      check(ix.forall(i => counts(i) == reference(i)),
        s"$op counts ${ix.map(counts)} differ from the first iteration's ${ix.map(reference)}")
    }.forall(identity)
    if (ok) Some(parts) else None
  }

  /** The four calls over `docs` (the exact join over `docsSlice`): their
    * counts and seconds.
    */
  private def pass(docs: DataFrame, docsSlice: DataFrame): (Seq[Long], Map[String, Double]) = {
    val t = ctx.trace
    val ((pairs, nPairs, mh), minhashS) = Main.time(t.span("dedup.minhash") {
      val (p, st) = Dedup.minhashNearDupsWithStats(docs, "doc_id", "text",
        minJaccard = MinJ, bucketCap = BucketCap)
      val m = Materialize(p)
      (m, m.count(), st)
    })
    val ((labels, nLabels, nComponents, ccIters), clustersS) =
      Main.time(t.span("dedup.clusters") {
        val (l, it) = Dedup.dupClustersWithStats(pairs, maxIter = 30)
        val r = l.agg(count(lit(1)), countDistinct(col("cluster_id"))).head()
        (l, r.getLong(0), r.getLong(1), it)
      })
    val ((jPairs, nJ), jaccardS) = Main.time(t.span("dedup.jaccard_freq") {
      val j = Materialize(Dedup.jaccardPrefixJoin(docsSlice, "doc_id", "text", "grp",
        MinJ, freqOrder = true, assumeUniqueIds = true))
      (j, j.count())
    })
    val ((sPairs, nS, sh), simhashS) = Main.time(t.span("dedup.simhash") {
      val (p, st) = Dedup.simhashNearDupsWithStats(docs, "doc_id", "text",
        maxHamming = 3, bucketCap = BucketCap)
      val m = Materialize(p)
      (m, m.count(), st)
    })
    last = Map("labels" -> labels, "jaccard" -> jPairs, "simhash" -> sPairs)

    (Seq(nPairs, mh.nBuckets, mh.cappedBuckets, mh.skippedPairs,
      nLabels, nComponents, ccIters.toLong, nJ, nS, sh.nBuckets,
      sh.cappedBuckets, sh.skippedPairs),
     Map("minhash_s" -> minhashS, "clusters_s" -> clustersS,
      "jaccard_freq_s" -> jaccardS, "simhash_s" -> simhashS,
      "pass_s" -> (minhashS + clustersS + jaccardS + simhashS),
      "cluster_iterations" -> ccIters.toDouble, "verified_pairs" -> nPairs.toDouble,
      "capped_buckets" -> mh.cappedBuckets.toDouble,
      "skipped_pairs_upper_bound" -> mh.skippedPairs.toDouble))
  }

  /** Σ C(k, 2) over the clusters of `members` (one row per member). */
  private def pairsOf(members: DataFrame): Long =
    members.groupBy("cluster").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum(col("k") * (col("k") - 1) / 2), lit(0.0)))
      .head().getDouble(0).toLong

  /** Pairs of `pairs` whose two members are in one cluster of `meta`. */
  private def sameCluster(pairs: DataFrame, meta: DataFrame): DataFrame = {
    def side(s: String) = meta.select(col("doc_id").as(s"id_$s"),
      col("cluster").as(s"cl_$s"))
    pairs.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
      .filter(col("cl_a") === col("cl_b"))
  }

  override def finish(): Unit = if (last.nonEmpty) {
    val planted = corpus.filter(col("cluster") >= 0)
    // the exact join is lossless: it finds every planted pair of the slice
    // (each has jaccard >= 0.815 by construction)
    val sliceMeta = slice.filter(col("cluster") >= 0)
    val jWant = pairsOf(sliceMeta)
    val jGot = sameCluster(last("jaccard"), sliceMeta).count()
    check(jWant == jGot, s"jaccard_freq recall: $jGot of $jWant planted pairs")

    // pristine members of one cluster are identical texts with identical
    // fingerprints. Where a band bucket is capped, SimHash keeps only star
    // and chain edges, so pairs may be missing, but equal fingerprints sort
    // next to each other: its pairs must still join each planted cluster's
    // pristine members into one group (possibly through other documents
    // with the same fingerprint)
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def root(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = root(p); parent(x) = r; r }
    }
    last("simhash").select("id_a", "id_b").as[(Long, Long)].collect()
      .foreach { case (a, b) => parent(root(a)) = root(b) }
    val groups = planted.filter(col("n_edits") === 0)
      .select(col("doc_id"), col("cluster")).as[(Long, Long)].collect()
      .groupBy(_._2).values.filter(_.length >= 2).toSeq
    val split = groups.count(_.map(m => root(m._1)).distinct.length > 1)
    check(split == 0,
      s"simhash: $split of ${groups.size} planted pristine groups are not connected")

    // MinHash + components: a planted cluster is intact when all its
    // members carry one label (a missing member is an LSH miss)
    val r = planted.select(col("doc_id").as("id"), col("cluster"))
      .join(last("labels"), Seq("id"), "left")
      .groupBy("cluster").agg(count(lit(1)).as("members"),
        count(col("cluster_id")).as("labeled"),
        countDistinct(col("cluster_id")).as("labels"))
      .filter(col("members") >= 2)
      .agg(count(lit(1)), sum(when(col("labels") === 1 &&
        col("labeled") === col("members"), 1L).otherwise(0L)))
      .head()
    val intact = r.getLong(1).toDouble / math.max(1L, r.getLong(0))
    check(intact >= MinIntactFrac,
      s"minhash clusters: $intact of planted clusters intact, want >= $MinIntactFrac")

    // the counts repeat across runs of one seed and one version of the
    // sources, not only within a run. The bucket, cap and iteration counts
    // are the implementation's own, so a changed implementation starts a
    // new record
    val file = ctx.root.resolve(".bench_build").resolve("expected")
      .resolve(s"dedup_skew-${ctx.stamp.take(16)}-seed${ctx.seed}.txt")
    val now = reference.mkString(",")
    if (Files.exists(file)) {
      val before = Files.readString(file).trim
      check(before == now, s"counts $now differ from an earlier run's $before")
    } else {
      Files.createDirectories(file.getParent)
      Files.writeString(file, now)
    }
  }

  def endToEnd(iters: Seq[Iter]): Seq[Metric] =
    Seq(Metric("docs_per_s", Docs / Stats.median(iters.map(_.parts("pass_s"))), "1/s"))

  def perLayer(traced: Seq[Iter]): Seq[Metric] = {
    val sample = corpus.select(col("text")).as[String].limit(1000).collect().toSeq
    val gen = Layers.usPer((0L until 1000L).toVector)(ScaleCorpus.gen(_, ctx.seed))
    def med(k: String) = Stats.median(traced.map(_.parts(k)))
    Seq(Metric("synth.gen_us_per_doc", gen, "us")) ++
      Layers.stages(ctx.trace, sample) ++
      Seq("minhash_s", "clusters_s", "jaccard_freq_s", "simhash_s")
        .map(k => Metric(s"dedup.$k", med(k), "s")) ++
      Seq("cluster_iterations", "verified_pairs", "capped_buckets",
        "skipped_pairs_upper_bound").map(k => Metric(s"dedup.$k", med(k), "count"))
  }
}
