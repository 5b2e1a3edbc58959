package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions
import graft.SparkEntry

/** Repo-wide physical-plan audit: EVERY registered driver query is
  * planned (not executed) against the small fixture and checked for
  * accidental quadratic join shapes. Individual PlanSpec cases gate
  * specific operators deeply; this sweep guarantees no FUTURE query
  * ships a CartesianProduct, and that nested-loop joins only appear
  * where they are the documented design (brute-force oracle forms and
  * broadcast-tiny-side scans). */
class PlanAuditSpec extends AnyFunSuite {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Sessions.local(4)

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * either the exact quadratic ORACLE role (the scale path is a sibling
    * query), or a deliberately-broadcast ≤20-row query side / 1-row
    * totals frame driving a scan. */
  private val nlAllowed: Set[String] = Set(
    // exact/brute-force oracle forms — the quadratic shape IS the spec
    "dd_embed_cos", "dd_ngram_jaccard", "ann_topk", "mine_bitext",
    // recall GATES (r7): each embeds the brute-force exact reference +
    // 1-row agg cross joins — oracle harness, not the scale path (the
    // raw operators bench via SparkEntry.benchOverrides and keep their
    // equi-join shapes, audited through the *_top1 rows)
    "ann_lsh_topk", "ann_ivf_topk", "ann_ivfpq_topk", "ann_pca_topk",
    "mine_bitext_ann", "dd_embed_cos_lsh",
    // broadcast query-set (≤20 rows) over the corpus scan
    "ann_pca_top1",
    // broadcast query-set over the 8-byte binary-code scan
    "ann_binary_top1",
    // 1-row broadcast totals cross joins (dq_checks: the referential
    // row's total riding liAgg's 1-row count instead of a second scan)
    "ds_dsir", "ds_dsir_select", "ds_source_kl", "tx_bm25", "dq_checks",
    "ds_hll_range", // 1-row day-cutoff frame cross joined to the scan
    // 1-row broadcast query-vector cross join driving the dense leg
    "tx_hybrid_rrf",
    // non-equi range predicate with a broadcast-small side (G6 is the
    // declared nested-loop capability row)
    "q6_range_join",
  )

  test("every registered query plans without a CartesianProduct; nested loops only where designed") {
    // the sketch, BPE, SemDeDup and quality-classifier gate queries read
    // exports that Verify writes ahead of its dump; write them here so
    // the sweep plans those queries whatever ran before it. exportCells
    // also records the dir SemDedup's oracle SQL names, which only
    // Verify's oracle dump reads, in its own JVM
    graft.operators.Sketches.exportEstimates(spark, sf)
    graft.operators.Bpe.exportStates(spark, sf)
    graft.operators.SemDedup.exportCells(spark, sf)
    graft.ml.QualityClassifier.exportScored(spark, sf)
    var audited = 0
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val planned =
        try Some(fn(spark, sf).queryExecution.executedPlan.toString)
        catch { case _: Throwable => None } // fixture-export inputs absent in a bare test run
      planned.foreach { plan =>
        audited += 1
        if (plan.contains("CartesianProduct"))
          offenders += s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") && !nlAllowed(name))
          offenders += s"$name: unexpected BroadcastNestedLoopJoin"
      }
    }
    // planning the sweep registered persisted slots / fitted indexes in
    // the SHARED suite session — drop them so later plan-shape suites
    // (PlanSpec) see scans, not InMemoryRelations
    graft.operators.ArtifactCaches.clear()
    spark.catalog.clearCache()
    assert(offenders.isEmpty, s"plan audit failures:\n${offenders.mkString("\n")}")
    // the sweep must actually cover the surface — a broken fixture path
    // would otherwise pass vacuously (a few queries read the reference
    // checkout or other Verify-only exports, which a bare test
    // environment may lack)
    assert(audited >= SparkEntry.queries.size - 6,
      s"only $audited of ${SparkEntry.queries.size} queries auditable")
    // and the allow-list must not rot: every entry still names a query
    val unknown = nlAllowed -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"allow-list entries for unregistered queries: $unknown")
  }

  test("benched gate-form queries all carry a raw bench override") {
    // A RecallGates entry embeds the brute-force exact reference (the
    // X×Y cartesian / full top-k recompute) — timing the gate form in
    // Bench records the oracle harness's quadratic cost as the
    // operator's headline number (BENCH_r07's mine_bitext_ann did
    // exactly that). Any headline query registered through RecallGates
    // must therefore be re-pointed at its raw operator.
    val benchedGates = SparkEntry.benchQueries.toSet
      .intersect(graft.operators.RecallGates.queries.keySet)
    val missing = benchedGates -- SparkEntry.benchOverrides.keySet
    assert(missing.isEmpty,
      s"benched gate-form queries without a raw override: $missing")
    // and overrides must not rot: every key names a registered headline
    val stale = SparkEntry.benchOverrides.keySet -- SparkEntry.benchQueries.toSet
    assert(stale.isEmpty, s"bench overrides for non-headline queries: $stale")
    // every headline name must resolve: Bench silently FILTERS unknown
    // names (a typo'd entry would vanish from the artifact, shrinking
    // warm_full with no failure anywhere)
    val unresolved = SparkEntry.benchQueries.toSet --
      (SparkEntry.queries ++ SparkEntry.benchOverrides).keySet
    assert(unresolved.isEmpty, s"headline queries that resolve nowhere: $unresolved")
  }

  test("ANN join-back construction fires no sizing job against a warm index") {
    // VERDICT r8 #3's done-criterion, executable: building the
    // mine_bitext_ann / dd_embed_cos_lsh frames against a warm LshIndex
    // must fire ZERO Spark jobs — the old broadcast branch paid a
    // full-table count() action per invocation (every bench pass, every
    // production call) just to pick the join strategy; the corpus count
    // now rides in the index. Listener events are FIFO, so a sentinel
    // action posted AFTER construction bounds the wait: once the
    // sentinel's job-start lands, any construction-time job would
    // already have been counted.
    val idx = graft.operators.Similarity.buildLshIndex(spark, sf) // warm the memo
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        descs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("") +
          " | " + j.stageInfos.map(_.name).mkString("; "))
        ()
      }
    }
    def await(n: Int): Unit = {
      val t0 = System.currentTimeMillis
      while (jobs.get < n && System.currentTimeMillis - t0 < 30000) Thread.sleep(20)
      assert(jobs.get >= n, s"listener saw ${jobs.get} of $n expected job(s)")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // wiring control — an RDD action (NOT a Dataset one): its stage
      // name carries THIS file's callsite, so sentinels are tellable
      // apart from any Dataset action the operators might fire (those
      // all run through the opaque SQL-execution thread-pool wrapper)
      spark.sparkContext.parallelize(1 to 2, 1).count()
      await(1)
      descs.clear()
      val before = jobs.get
      graft.operators.Mining.mineBitextAnn(spark, sf, Some(idx))
      graft.operators.Dedup.embeddingCosineBucketed(spark, sf, index = Some(idx))
      spark.sparkContext.parallelize(1 to 2, 1).count() // sentinel
      await(before + 1)
      // allowed in the construction window: the sentinel itself, and the
      // O(one-footer) parquet schema-inference job every read of the
      // path pays (pre-existing, not a sizing action). ANY other job —
      // in particular any Dataset action (count/head/collect show as the
      // SQL-execution wrapper) — is a construction-time sizing job.
      val offenders = descs.toArray.map(_.toString).filterNot(d =>
        d.contains("PlanAuditSpec") || d.contains("parquet at Tables.scala"))
      assert(offenders.isEmpty,
        s"join-back plan construction fired sizing job(s):\n${offenders.mkString("\n")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("funnel/retention carry no broadcast hints on per-user frames") {
    // An explicit broadcast() hint on a user-cardinality frame overrides
    // the size-based planner and kills the job past the 8 GB broadcast
    // limit at corpus scale. These queries must leave the join-side choice
    // to statistics/AQE — assert the ANALYZED plan (where hints live
    // before the planner consumes them) contains none.
    Seq("q26_funnel", "q27_retention").foreach { name =>
      val analyzed = SparkEntry.queries(name)(spark, sf)
        .queryExecution.analyzed.toString
      assert(!analyzed.contains("UnresolvedHint") && !analyzed.contains("ResolvedHint"),
        s"$name: forced join hint in logical plan")
    }
  }
}
