package graftbench

import graft.stages.{HeuristicsScalar, LangIdModel, PerplexityModel, ScrubScalar}

/** Single-thread probes of the scalar layers, called from the traced run. */
object Layers {
  private var sink = 0L

  /** Microseconds per item of `f` on one thread: two warm-up passes over
    * `items`, then the median of five timed passes.
    */
  def usPer[A](items: Seq[A])(f: A => Any): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      items.foreach(x => sink += f(x).hashCode)
      (System.nanoTime() - t0) / 1e3 / items.size
    }
    pass(); pass()
    Stats.median((1 to 5).map(_ => pass()))
  }

  /** The four scorer kernels of the `stages` layer over the workload's own
    * documents. Scrub is timed through `ScrubScalar.apply`, the guarded path
    * the pipeline runs, not through the unguarded regexes.
    */
  def stages(trace: Trace, texts: Seq[String]): Seq[Metric] = {
    val w = LangIdModel.weights
    val lm = PerplexityModel.default
    Seq[(String, String => Any)](
      "scrub" -> (t => ScrubScalar(t)),
      "heuristics" -> (t => HeuristicsScalar.compute(t)),
      "langid" -> (t => LangIdModel.predict(t, w)),
      "perplexity" -> (t => lm.perplexity(t))
    ).map { case (name, f) =>
      Metric(s"stages.${name}_us_per_doc",
        trace.span(s"stages.$name")(usPer(texts)(f)), "us")
    }
  }
}
