package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.SparkEntry

/** Non-contract query variants worth timing/auditing (not registered
  * driver queries) — shared by [[QueryTime]] and [[PlanAudit]] so scale
  * probes can reach raw forms of the export-gate rows. */
object ExtraQueries {
  val extras: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "dd_substring_spans_fast" ->
        ((s, d) => graft.operators.SubstringDedup.duplicatedSpans(s, d, fastHash = true)),
      // the fitted end-to-end SemDeDup (the driver query reads a fixed
      // sf0.01 cell export, so scale evidence must refit per corpus)
      "dd_semdedup_full" ->
        ((s, d) => graft.operators.SemDedup.semDedup(s, d)),
      // bounded-state quantile forms (the oracle rows keep exact
      // percentile; these are the 100 TB plans under timing)
      "tx_quality_adaptive_approx" ->
        ((s, d) => graft.operators.TextAnalysis.adaptiveQuality(s, d, exactQuantiles = false)),
      "report_corpus_approx" ->
        ((s, d) => graft.operators.Chunking.corpusReport(s, d, exactQuantiles = false)),
      // the sketch build+merge (the registered gate row reads a Verify
      // export, so the scale cost lives here)
      "ds_hll_estimates" ->
        ((s, d) => graft.operators.Sketches.mergedEstimates(s, d)),
      // KLL sketch build+merge (same reasoning as ds_hll_estimates)
      "ds_kll_estimates" ->
        ((s, d) => graft.operators.Sketches.kllEstimates(s, d)),
      // theta sketch build + pairwise set ops (the gate row reads a
      // Verify export; the scale cost is the sketch table build)
      "ds_theta_estimates" ->
        ((s, d) => graft.operators.Sketches.overlapEstimates(s, d)),
      // the uncapped pair join (A/B for the WinMaxFpDf stop-list cost)
      "dd_winnow_pairs_uncapped" ->
        ((s, d) => graft.operators.TextAnalysis.winnowPairsImpl(s, d, Int.MaxValue)),
      // raw recurrence forms (the registered rows are export-gates)
      "q32_pagerank_raw" ->
        ((s, d) => graft.operators.Graphs.pagerankRaw(s, d)),
      "ds_doremi_raw" ->
        ((s, d) => graft.operators.Doremi.domainWeightsRaw(s, d)),
    )
}

/** Shared probe-session knobs (QueryTime, PlanAudit, PhaseTime and
  * ExplainDump — one definition so the probes can never measure different
  * planner regimes). */
object ProbeConfs {
  def apply(spark: SparkSession): Unit = {
    // scale-probe headroom: big shuffles open at 512 partitions and AQE
    // coalesces small ones back to ~32 — the local stand-in for sizing
    // shuffle partitions to the data (the 100× probe's 336M-row pair
    // dedup sort-spilled to disk exhaustion at a fixed 32)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 512)
    // degrade-path probes (GRAFT_AUTOBCAST=-1, usually with
    // GRAFT_BROADCAST_BUDGET=1): at probe SFs Catalyst re-broadcasts the
    // small tables the JoinBacks fallback declines to hint, masking the
    // fallback's physical shape — on the target cluster the same tables
    // exceed the planner's threshold too, so -1 is the faithful stand-in
    sys.env.get("GRAFT_AUTOBCAST").foreach { v =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
    }
  }
}

/** Ad-hoc wall-clock timing for named SparkEntry queries against any data
  * dir (the scale-evidence companion to Bench: point it at the ScaleUp
  * output to see how an operator's cost moves with 10× rows). Two passes
  * per query — pass 1 is cold (plan compile + any artifact build), pass 2
  * warm. Results sink to the noop format so the full plan executes
  * without measuring local-disk write throughput.
  *
  * Usage: runMain graft.tools.QueryTime <dir> <query> [query ...]
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = Sessions.local(32)
    ProbeConfs(spark)
    names.foreach { n =>
      // benchOverrides LAST: a gate-form name probes its RAW operator,
      // exactly what Bench times — probing the gate would re-run the
      // exact quadratic oracle recompute at scale (the r7 bench lesson)
      val fn = (SparkEntry.queries ++ ExtraQueries.extras ++ SparkEntry.benchOverrides).getOrElse(n,
        sys.error(s"unknown query: $n (see SparkEntry.queries)"))
      (1 to 2).foreach { pass =>
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[qt] $n pass$pass $secs%.2f s")
      }
    }
    spark.stop()
  }
}
