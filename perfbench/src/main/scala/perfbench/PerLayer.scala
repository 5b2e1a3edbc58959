package perfbench

import perfbench.Main.Op

/** The per-layer metrics of a traced run. Every traced run prints every
  * name; a span a workload never enters reads 0. */
object PerLayer {

  val Spans: Seq[String] = Seq("functions.parse", "ml.comp_featurize", "ml.transform",
    "ml.predict_one", "ml.struct_featurize", "ml.fit", "sources.scan") ++
    Corpus.QueryNames.flatMap(q => Seq(s"operators.$q.cold", s"operators.$q.warm"))

  /** Per-span counters: mean per call. */
  val Counters: Seq[(String, String)] = Seq("self_s" -> "s", "jobs" -> "count",
    "task_cpu_s" -> "s", "shuffle_bytes" -> "bytes", "idle_s" -> "s")

  /** Workload figures, each printed by every traced run (0 when the
    * workload has none). */
  val Figures: Seq[(String, String)] = Seq("ml.fit.holdout_rmse" -> "log10",
    "operators.pair_recall" -> "ratio", "operators.ann_recall" -> "ratio",
    "operators.cache_mb" -> "MB")

  def metrics(t: Tracer, samples: Map[String, Seq[Op]],
      figures: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val sum = t.summary
    val spanVals = Spans.flatMap { s =>
      val v = sum.get(s)
      Seq(v.map(_.selfS), v.map(_.jobs), v.map(_.taskCpuS), v.map(_.shuffleBytes), v.map(_.idleS))
        .zip(Counters).map { case (x, (c, u)) => (s"$s.$c", x.getOrElse(0.0), u) }
    }
    val opRecs = t.records.filter(_.name.startsWith("operators."))
    val warmRecs = opRecs.filter(_.name.endsWith(".warm"))
    val builds = if (opRecs.isEmpty) 0.0 else opRecs.map(_.newPersisted).sum.toDouble / opRecs.size
    val reuse = if (warmRecs.isEmpty) 0.0 else warmRecs.count(_.newPersisted == 0).toDouble / warmRecs.size
    // each traced op runs between two untraced runs of the same op; their
    // mean stands for the untraced op at the traced op's place in the run
    val around = samples.getOrElse("warm", Nil).grouped(2).toSeq
    val triples = samples.getOrElse("traced", Nil).zip(around).collect {
      case (tr, Seq(a, b)) if tr.ok && a.ok && b.ok => (tr, (a.wallS + b.wallS) / 2)
    }
    val overhead = Main.median(triples.map { case (tr, un) => tr.wallS - un })
    val residual = Main.median(triples.map { case (tr, un) => un - tr.layerS })
    val figs = figures.toMap
    spanVals ++ Seq(
      ("operators.artifact_builds", builds, "count"),
      ("operators.artifact_reuse_ratio", reuse, "ratio"),
      ("trace.overhead_s", overhead, "s"),
      ("trace.residual_s", residual, "s")) ++
      Figures.map { case (n, u) => (n, figs.getOrElse(n, 0.0), u) }
  }
}
