package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions
import graft.operators.{CdcChunking, Chunking, NgramLm, Sharding, SubstringDedup}

/** Plan-shape gates for the round-5 batch-2 operators: the chunkers and
  * the shard assigner must stay scan-bound (no Exchange except their
  * final presentation sort), and the heavy text operators must never
  * take a quadratic join. */
class NewOpsPlanSpec extends AnyFunSuite {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Sessions.local(4)

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize the adaptive plan
    // keep only the final adaptive plan: the trailing "== Initial Plan =="
    // section repeats every operator and would double exchange counts
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  /** Exchanges other than the single rangepartitioning of the final
    * ORDER BY (the presentation sort the oracle contract requires). */
  private def nonSortExchanges(plan: String): Int =
    "Exchange (hash|SinglePartition|rangepartitioning)".r.findAllIn(plan)
      .toSeq.count(!_.contains("rangepartitioning"))

  test("tx_chunks: scan-bound — no Exchange except the final sort") {
    val plan = planOf(Chunking.chunks(spark, sf))
    assert(nonSortExchanges(plan) == 0, s"chunking shuffles:\n${plan.take(900)}")
  }

  test("tx_cdc_chunks: scan-bound — the only non-sort Exchange is the under-split spread") {
    // the fixture is one parquet file (one input split), so Tables.spread
    // legitimately adds exactly ONE keyed repartition to unlock the
    // window-md5 map stage (the flat-13 s-wall find, BENCH_NOTES r9);
    // a pre-split input takes none (PlanSpec pins that branch) and the
    // operator itself stays shuffle-free
    val plan = planOf(CdcChunking.cdcChunks(spark, sf))
    assert(nonSortExchanges(plan) == 1, s"CDC chunking shuffles:\n${plan.take(900)}")
    // and the spread frame must have REAL width: the whole point is that
    // the md5 stage runs at defaultParallelism, which AQE's coalescing
    // silently defeated for an un-counted repartition (the r9 find)
    val parts = graft.sources.Tables.spread(spark,
      graft.sources.Tables.documents(spark, sf)).rdd.getNumPartitions
    assert(parts == spark.sparkContext.defaultParallelism,
      s"spread produced $parts partitions")
  }

  test("ds_shards: deterministic assignment is a pure scan projection") {
    val plan = planOf(Sharding.shardAssign(spark, sf))
    assert(nonSortExchanges(plan) == 0, s"shard assign shuffles:\n${plan.take(900)}")
  }

  test("dd_substring_spans: no quadratic join; window input is duplicated positions only") {
    val df = SubstringDedup.duplicatedSpans(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"quadratic shape:\n${plan.take(900)}")
    // the gaps-and-islands window must sit ABOVE the duplicate-hash join
    // (windowing the full position stream would be corpus-sized state)
    val wIdx = plan.indexOf("Window")
    val jIdx = plan.indexOf("Join")
    assert(wIdx >= 0 && jIdx >= 0 && wIdx < jIdx,
      s"window not above the dup join:\n${plan.take(900)}")
  }

  test("q28_interval_join: binned equi join, not a nested loop") {
    val plan = planOf(graft.operators.EventAnalytics.intervalJoin(spark, sf))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"interval join went quadratic:\n${plan.take(900)}")
  }

  test("tx_perplexity: count tables broadcast; occurrence stream is never exchange-joined") {
    val plan = planOf(NgramLm.perplexity(spark, sf))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"))
    // AQE turns both count-table joins into broadcasts: the only
    // non-broadcast exchanges left are aggregations + the final sort
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n${plan.take(900)}")
    assert(!plan.contains("SortMergeJoin"),
      s"occurrence stream shuffled for a join:\n${plan.take(900)}")
  }

  test("ds_dsir: log-ratio table broadcast; the gram stream is never sort-merge joined") {
    val plan = planOf(graft.operators.Dsir.weights(spark, sf))
    // the only nested loop allowed is the 1-row totals cross join riding
    // a broadcast (BuildRight, Cross) — it touches ≤4096 lr rows, never
    // the gram stream
    assert(!plan.contains("CartesianProduct"))
    assert(!"NestedLoop".r.findAllIn(plan.replace(
      "BroadcastNestedLoopJoin BuildRight, Cross", "")).hasNext,
      s"unexpected nested loop:\n${plan.take(900)}")
    // the ≤4096-row lr table must ride a broadcast back onto the gram
    // fan-out — a shuffle of the gram stream for this join would move
    // corpus-scale rows for a constant-size table
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n${plan.take(900)}")
    assert(!plan.contains("SortMergeJoin"),
      s"gram stream shuffled for the lr join:\n${plan.take(900)}")
  }

  test("dd_semdedup: within-cell pruning is an equi join on cell — never quadratic") {
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    val idx = graft.operators.Similarity.buildIvfIndex(spark, sf,
      nClusters = graft.operators.SemDedup.semClusters(n))
    val plan = planOf(graft.operators.SemDedup.pruneCells(spark, sf,
      idx.assignments.select("vec_id", "cell")))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"semdedup prune went quadratic:\n${plan.take(900)}")
  }

  test("dd_incremental: store lookup is an equi band join — never quadratic") {
    val plan = planOf(graft.operators.Dedup.incrementalPairs(spark, sf))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"incremental dedup went quadratic:\n${plan.take(900)}")
  }

  test("q29_sessionize: one shuffle — window and session aggregate share the user partitioning") {
    val plan = planOf(graft.operators.EventAnalytics.sessionize(spark, sf))
    // lag window, running-sum window, and the per-session aggregate must
    // all reuse the single hashpartitioning(user_id) Exchange; a second
    // hash Exchange would re-shuffle the event log for no reason
    assert(nonSortExchanges(plan) == 1, s"expected exactly 1 hash exchange:\n${plan.take(1200)}")
  }

  test("ann_pca: the reduced-space scan is the broadcast-query shape, shortlist is id-only") {
    val df = graft.operators.Similarity.pcaTopK(spark, sf)
    val plan = planOf(df)
    // the ≤20-query side is broadcast over the projected corpus (the
    // deliberate reduced-bandwidth scan); a CartesianProduct would mean
    // the broadcast hint was lost
    assert(!plan.contains("CartesianProduct"), s"lost the broadcast:\n${plan.take(900)}")
    // full-width vectors appear only in the re-rank joins ABOVE the
    // shortlist window: the window operates on (q_id, nbr_id, red) rows
    val wIdx = plan.indexOf("Window")
    assert(wIdx >= 0, "shortlist window missing")
  }
}
