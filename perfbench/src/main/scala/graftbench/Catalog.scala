package graftbench

/** Every metric the benchmark reports, with its unit, in report order.
  * A traced run reports every per-layer metric on every workload: each
  * metric of a layer the workload calls must have been measured, and the
  * metrics of a layer it does not call read 0.
  */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "docs_per_s" -> "1/s")

  val queryKeys: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted

  val perLayer: Seq[(String, String)] =
    Seq("synth.gen_us_per_doc" -> "us") ++
    Seq("scrub", "heuristics", "langid", "perplexity")
      .map(s => s"stages.${s}_us_per_doc" -> "us") ++
    Seq("pipeline.annotate_s" -> "s", "pipeline.salted_repartition_s" -> "s",
      "pipeline.shuffle_bytes_per_doc" -> "bytes",
      "pipeline.salt_task_skew" -> "ratio") ++
    Seq("lineage.wave_s" -> "s", "lineage.jobs_per_wave" -> "count",
      "lineage.scan_rows_per_doc" -> "count", "lineage.readback_s" -> "s",
      "lineage.manifest_s" -> "s", "lineage.resume_s" -> "s") ++
    Seq("minhash", "clusters", "jaccard_freq", "simhash")
      .map(s => s"dedup.${s}_s" -> "s") ++
    Seq("cluster_iterations", "verified_pairs", "capped_buckets",
      "skipped_pairs_upper_bound").map(s => s"dedup.$s" -> "count") ++
    queryKeys.map(k => s"query.${k}_ms" -> "ms") ++
    Seq("analytics.jobs_per_query" -> "count", "analytics.jobs_total" -> "count") ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
      "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.task_skew" -> "ratio", "spark.task_failures" -> "count",
      "spark.job_p50_ms" -> "ms", "spark.job_p90_ms" -> "ms") ++
    Seq("trace.wall_s" -> "s", "trace.overhead_s" -> "s",
      "run.cpu_s" -> "s", "run.peak_rss_mb" -> "MB",
      "run.ops_failed_frac" -> "fraction")

  /** Layers of every workload: the runtime and the run as a whole. */
  val common: Set[String] = Set("spark", "trace", "run")

  /** The layer a metric belongs to: its name's prefix, where the per-query
    * times are the `analytics` layer's.
    */
  def layerOf(name: String): String = name.takeWhile(_ != '.') match {
    case "query" => "analytics"
    case l => l
  }

  /** `measured` laid out in catalog order. Every metric `required` names
    * must have been measured; any other that was not reads 0.
    */
  def fill(catalog: Seq[(String, String)], measured: Seq[Metric],
      required: String => Boolean): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m.value).toMap
    val unknown = byName.keySet -- catalog.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalog: $unknown")
    catalog.map { case (n, u) =>
      require(!required(n) || byName.contains(n), s"metric $n was not measured")
      Metric(n, byName.getOrElse(n, 0.0), u)
    }
  }
}
