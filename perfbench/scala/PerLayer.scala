package perfbench

/** The traced run's per-layer metrics, per traced round. Every name is
  * emitted on every workload; a layer a workload does not reach reads 0.
  * They come from the program's own calls: listener events, the call
  * sites of its jobs and samples of its threads' stacks.
  */
object PerLayer {
  /** Suite modules: every query belongs to one Registry module map. */
  val modules: Seq[(String, Set[String])] = Seq(
    "ops.Relational" -> graft.ops.Relational.queries.keySet,
    "ops.Aggregates" -> graft.ops.Aggregates.queries.keySet,
    "ops.Joins" -> graft.ops.Joins.queries.keySet,
    "ops.Windows" -> graft.ops.Windows.queries.keySet,
    "ops.SetsSorts" -> graft.ops.SetsSorts.queries.keySet,
    "ops.Functions" -> graft.ops.Functions.queries.keySet,
    "ops.Subqueries" -> graft.ops.Subqueries.queries.keySet,
    "ops.EventAnalytics" -> graft.ops.EventAnalytics.queries.keySet,
    "ops.Graph" -> graft.ops.Graph.queries.keySet,
    "ops.Warehouse" -> graft.ops.Warehouse.queries.keySet,
    "ops.Tpch" -> graft.ops.Tpch.queries.keySet,
    "hic.HicQueries" -> graft.hic.HicQueries.queries.keySet,
    "hic.Matrix" -> graft.hic.Matrix.queries.keySet,
    "llm.LlmQueries" -> graft.llm.LlmQueries.queries.keySet,
    "llm.EmbedQueries" -> graft.llm.EmbedQueries.queries.keySet,
    "llm.CorpusStats" -> graft.llm.CorpusStats.queries.keySet,
    "llm.SpanDedup" -> graft.llm.SpanDedup.queries.keySet,
    "llm.Selection" -> graft.llm.Selection.queries.keySet,
    "stream.StreamQueries" -> graft.stream.StreamQueries.queries.keySet)

  // spans around the benchmark's own calls: total seconds per traced round
  private val spanMetrics = Seq("ops.caches_drain", "stream.refit")
  // sampled thread seconds in the program's own code
  private val sampled = Seq("sources.read", "sources.write",
    "functions.binom_sf", "hic.spline")
  private val layers = Seq("sources", "hic", "functions", "ops", "stream")
  // ratios and maxima: not divided by the traced round count
  private val unscaled = Set("spark.gap_frac", "spark.util",
    "stream.state_rows", "stream.state_mb", "trace.attributed_frac")

  def metrics(tracer: Tracer, probes: Probes, sampler: Sampler,
      windows: Seq[Window], counters: Map[String, Double], cores: Int,
      rounds: Double, traced: Seq[(String, Double)],
      untraced: Seq[(String, Double)]): Seq[(String, Double)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    (probes.sparkMetrics(windows, cores) ++ probes.streamMetrics(windows) ++
      probes.stageMetrics(windows))
      .foreach { case (k, v) => m(k) = if (unscaled(k)) v else v / rounds }
    val tot = tracer.totals
    spanMetrics.foreach(s => m(s + "_s") = tot.get(s).fold(0.0)(_._1) / rounds)
    val (smp, busy) = sampler.seconds
    sampled.foreach(s => m(s + "_s") = smp(s) / rounds)
    Seq("sources.write_mb", "functions.binom_sf_rows")
      .foreach(c => m(c) = counters.getOrElse(c, 0.0) / rounds)
    modules.foreach { case (mod, qs) =>
      val ws = windows.filter(w => qs(w.key))
      val js = ws.map(probes.jobsIn)
      m(s"$mod.wall_s") = ws.map(w => w.endMs - w.startMs).sum / 1e3 / rounds
      m(s"$mod.jobs") = js.map(_._1).sum / rounds
      m(s"$mod.gap_s") = js.map(_._2).sum / rounds
    }
    layers.foreach(l => m(s"self.${l}_s") = smp("self." + l) / rounds)
    m("trace.lib_self_frac") =
      if (busy > 0) Seq("sources", "hic", "functions")
        .map(l => smp("self." + l)).sum / busy
      else 0.0
    // tracing overhead: traced minus untraced op wall, paired by key where
    // keys repeat (suite queries, the CLI), else by position
    val tm = traced.groupMap(_._1)(_._2).view.mapValues(mean).toMap
    val um = untraced.groupMap(_._1)(_._2).view.mapValues(mean).toMap
    val both = tm.keySet.intersect(um.keySet)
    val perRound = traced.size / rounds
    val (over, base) =
      if (both.nonEmpty) {
        val f = perRound / both.size
        (both.toSeq.map(k => tm(k) - um(k)).sum * f,
          both.toSeq.map(um).sum * f)
      } else if (traced.nonEmpty && untraced.nonEmpty)
        ((mean(traced.map(_._2)) - mean(untraced.map(_._2))) * perRound,
          mean(untraced.map(_._2)) * perRound)
      else (0.0, 0.0)
    m("trace.round_wall_s") = traced.map(_._2).sum / rounds
    m("trace.overhead_s") = over
    m("trace.overhead_frac") = if (base > 0) over / base else 0.0
    m.toSeq
  }

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
