package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics over relational-derived graphs — the web-graph side of
  * a training-data pipeline (link-based quality signals à la PageRank are
  * a standard corpus-curation feature: Common Crawl ranks hosts by
  * harmonic/PageRank centrality, and "page rank of the source domain" is
  * a classic quality column), plus triangle counting, the standard
  * cohesion/clustering-coefficient primitive.
  *
  * Both operators follow the Hash-Min CC discipline already in
  * [[Dedup.clusterPairs]]: per-iteration state lives in a node-keyed
  * DataFrame, every round is one uniform-key shuffle, and nothing graph-
  * sized ever lands on the driver.
  */
object Graphs {

  /** Damping factor (Brin & Page 1998). */
  val Damping = 0.85

  /** Fixed iteration count — both engines run EXACTLY this many rounds,
    * making the result a deterministic recurrence rather than a
    * convergence race. 5 rounds on a diameter-2 co-occurrence graph is
    * well past the interesting movement. */
  val PrIters = 5

  /** Supplier co-occurrence edges: s1 ↔ s2 iff both supplied one order.
    * Symmetric by construction, so every node in the edge list has both
    * in- and out-edges — no dangling-mass redistribution term needed
    * (nodes outside the edge list are outside the graph, consistently in
    * both engines). */
  private def supplierEdges(spark: SparkSession, dir: String): DataFrame = {
    val os = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("s")).distinct()
    os.select(col("o"), col("s").as("src"))
      .join(os.select(col("o"), col("s").as("dst")), Seq("o"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
  }

  /** PageRank (raw doubles), PrIters rounds of
    * r' = (1−d)/N + d·Σ_in r(u)/outdeg(u).
    *
    * Plan shape per round: ranks (node-sized) join edges on src, hash-agg
    * on dst — one shuffle keyed by node id, state ∝ nodes. The edge +
    * degree frames are computed once and persisted (at 100 TB they are
    * the big, reused inputs; ranks stay node-sized). For many-round runs
    * the Hash-Min lesson applies — localCheckpoint every few rounds to
    * cut lineage — but 5 rounds stays well inside plan-depth limits. */
  def pagerankRaw(spark: SparkSession, dir: String): DataFrame = {
    // the big reused input is (edge, outdeg) PRE-JOINED and persisted
    // once: joining deg inside the loop re-paid an edge-sized join per
    // round (5 extra joins — measured ~2× the per-round cost at sf0.1).
    //
    // Partitioning probed at 10× (r8, BENCH_NOTES): the as-is plan is
    // the measured minimum — AQE broadcasts the node-sized ranks into
    // a map-side join over the cached edges (zero join exchange) and
    // the per-round cost is only the PARTIAL-AGGREGATED contributions
    // exchange into groupBy(dst) (4.24 M records/round at 10×, 2.8×
    // combined map-side). Explicitly pinning hash(src) changed nothing;
    // pinning hash(dst) flipped the planner to a sort-merge join that
    // re-exchanged the EDGE frame by src every round (9.07 M × 5 —
    // 2.4× total records). Leave the join-side choice to AQE (the
    // funnel/no-hint lesson); on a graph whose rank table outgrows
    // broadcast, ranks shuffle node-sized per round and edges stay put.
    val edges = PersistSlots.cached(spark, s"pr-edges-deg:$dir") {
      val e = supplierEdges(spark, dir)
      e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
    }
    // node frame slot-materialized WITH its count memoized: the count is
    // the one scalar the driver needs, and re-running the distinct as a
    // fresh action every invocation paid one full job per bench pass for
    // a number the slot already knows (the LshIndex.nVectors discipline)
    val nodes = PersistSlots.cached(spark, s"pr-nodes:$dir")(
      edges.select(col("src").as("v")).distinct())
    val n = PersistSlots.rowCount(spark, s"pr-nodes:$dir").getOrElse(nodes.count())
    val m = PersistSlots.rowCount(spark, s"pr-edges-deg:$dir").getOrElse(edges.count())

    // In-memory recurrence branch (r10): when state + adjacency fit one
    // task's share of the memory budget (n·24 B of node arrays + m·16 B
    // of in-neighbor index lists — 15 MB at sf0.1, 145 MB at the 10×
    // probe, priced against the same conf-derived JoinBacks budget the
    // join-backs use), the whole 5-round recurrence is array math over
    // a ONE-row frame: a dense node index is built once per corpus into
    // the `pr-adj` slot, each round is one [[graft.plans.
    // PageRankIterExpr]] projection (per-dst sums in ascending src-index
    // order), and the only exchange left is the 1000-row output sort.
    // The measured alternative was 13 jobs/pass — 5 × (an edge-sized
    // join+agg stage at ~10 CPU-s plus an AQE rank-broadcast build) for
    // a graph whose adjacency is 15 MB (PhaseTime r10; the published
    // single-machine-graph lesson: a million-edge graph is one core's
    // problem, not a cluster's). Values: same recurrence, same damping,
    // same node set (the symmetric edge list gives every node in-edges,
    // and the left join below keeps alignment sound even if it didn't);
    // per-dst summation ORDER changes (ascending src idx vs hash-agg
    // partition order) — ulp-level drift on ~1e-3-scale doubles, ≥6
    // decades inside the 1e-9 export gate, and the fallback-parity spec
    // pins both branches to 1e-12. Past the budget (the 100 TB graph)
    // the distributed edge-join recurrence below runs unchanged.
    if (pagerankInCore(spark, n, m)) {
      val g = PersistSlots.cached(spark, s"pr-adj:$dir") {
        val w = org.apache.spark.sql.expressions.Window.orderBy("v")
        val idx = nodes.select(col("v"), (row_number().over(w) - 1).as("i"))
        // idx is node-sized and the local gate already passed — broadcast
        // it explicitly (window-derived size estimates defeat the
        // planner's own threshold)
        val adj = edges
          .join(broadcast(idx.select(col("v").as("src"), col("i").as("si"))), Seq("src"))
          .join(broadcast(idx.select(col("v").as("dst"), col("i").as("di"))), Seq("dst"))
          .groupBy("di").agg(sort_array(collect_list(col("si"))).as("srcs"))
        // ONE aggregation emits all three index-aligned arrays (a
        // crossJoin of per-array one-row frames would plan a
        // BroadcastNestedLoopJoin — the shape PlanAuditSpec forbids)
        idx
          .join(edges.select(col("src").as("v"), col("outdeg")).distinct(), Seq("v"))
          .join(adj, col("i") === col("di"), "left")
          .agg(sort_array(collect_list(struct(col("i"), col("v"),
            (lit(1.0) / col("outdeg")).as("w"),
            coalesce(col("srcs"), typedLit(Seq.empty[Int])).as("srcs")))).as("ns"))
          .select(transform(col("ns"), x => x("v")).as("vs"),
            transform(col("ns"), x => x("w")).as("invdeg"),
            transform(col("ns"), x => x("srcs")).as("srcsByDst"))
      }
      val r0: org.apache.spark.sql.Column = array_repeat(lit(1.0 / n), n.toInt)
      val rFinal = (1 to PrIters).foldLeft(r0)((r, _) =>
        graft.plans.PageRankIterExpr.step(col("srcsByDst"), col("invdeg"), r, Damping))
      g.select(explode(arrays_zip(col("vs"), rFinal.as("pr"))).as("z"))
        .select(col("z.vs").as("s_suppkey"), col("z.pr").as("pr"))
        .orderBy("s_suppkey")
    } else {
      var ranks = nodes.withColumn("r", lit(1.0 / n))
      for (_ <- 1 to PrIters) {
        val contrib = edges
          .join(ranks.withColumnRenamed("v", "src"), Seq("src"))
          .groupBy(col("dst").as("v"))
          .agg(sum(col("r") / col("outdeg")).as("inflow"))
        ranks = contrib.select(col("v"),
          (lit((1.0 - Damping) / n) + lit(Damping) * col("inflow")).as("r"))
      }
      ranks.select(col("v").as("s_suppkey"), col("r").as("pr"))
        .orderBy("s_suppkey")
    }
  }

  /** Gate tolerance: Spark's partial-agg per-node sums vs DuckDB's
    * sequential sums drift ≲1e-15 absolute on ranks of scale 1/N after 5
    * rounds (GraphsSpec pins the recurrence sensitivity); 1e-9 keeps ≥5
    * decades of margin and still fails on any damping/round/degree logic
    * error (those move ranks by ≥1e-4). */
  val GateTol = 1e-9

  /** Export path consumed by BOTH engines of the q32_pagerank gate. */
  def exportPath(dir: String): String = ExportPaths.forCorpus("pagerank", dir)

  @volatile private var exportedDir: String = "/root/testdata/sf0.01"

  /** Run by Verify ahead of the query dump (idempotent). */
  def exportRanks(spark: SparkSession, dir: String): Unit = {
    exportedDir = dir
    pagerankRaw(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(exportPath(dir))
  }

  /** The registered query — export-gate form (the ml_golden_gate /
    * ds_hll idiom). The previous DECIMAL(18,8) emission failed the
    * driver's hash (CORRECTNESS_r06): a 5-round float recurrence can
    * land a rank within ulps of a half-digit boundary and the engines
    * round apart. Emission is now the exported doubles passed through
    * byte-identically (both engines read the same parquet) plus a
    * tolerance boolean each engine derives by replaying the recurrence
    * independently — logic drift fails the boolean, summation-order
    * drift cannot flip anything.
    *
    * FULL OUTER join on purpose (ADVICE r7): an inner join would drop
    * replay-vs-export key-set drift identically in both engines; outer,
    * a replay emitting extra or missing nodes produces rows the other
    * engine's (correct) replay does not — a row-count/hash mismatch the
    * driver flags — and the null-guard keeps pr_ok false on any
    * unmatched side. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    ensureExported(spark, dir)
    val est = spark.read.parquet(exportPath(dir))
      .select(col("s_suppkey"), col("pr"))
    pagerankRaw(spark, dir)
      .select(col("s_suppkey"), col("pr").as("pr2"))
      .join(est, Seq("s_suppkey"), "full_outer")
      .select(col("s_suppkey"), col("pr"),
        (col("pr").isNotNull && col("pr2").isNotNull &&
          abs(col("pr2") - col("pr")) <= GateTol).as("pr_ok"))
      .orderBy("s_suppkey")
  }

  private def ensureExported(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(exportPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) exportRanks(spark, dir)
  }

  /** Part co-purchase edges, undirected unique (a < b): p1–p2 iff both
    * appear in one order. The part key space is ~20× the supplier space,
    * so this graph is sparse enough for triangle structure to mean
    * something. */
  private def partEdges(spark: SparkSession, dir: String): DataFrame = {
    val op = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    op.select(col("o"), col("p").as("a"))
      .join(op.select(col("o"), col("p").as("b")), Seq("o"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Per-node triangle counts by degree-oriented wedge join (the
    * compact-forward algorithm, Latapy 2008; also Cohen's MapReduce
    * triangle enumeration, 2009): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, join oriented edges
    * on the wedge apex u — (u→v, u→w), v ≺ w — and close each wedge
    * against the oriented edge (v→w).
    *
    * Why orientation matters at scale: wedge volume under the (deg, id)
    * orientation is Σ outdeg(u)² with outdeg ≤ O(√m), i.e. O(m^1.5)
    * total work (the arboricity bound) — a hub of degree 10⁶ in a raw
    * self-join would alone generate 10¹² wedges, but oriented it fans
    * out only toward the ≤√(2m) heavier nodes. Every stage is an equi
    * join on node keys; triangles credit each of their three corners via
    * an explode + hash agg.
    *
    * Bloom wedge prefilter (the r8 scale fix, JoinOpt's pruning idiom):
    * the wedge-sized exchange feeding the closing-edge join was the
    * audited bottleneck — 666 M shuffle records / 14.7 GB of sort spill
    * at 10× sf0.1, heading for ~150 GB of spill at 100×. Almost no
    * wedge closes (≈4.6% on this graph — 1.88 M of 41.1 M at sf0.1,
    * exact-counted), so a bloom filter
    * over the oriented edge set (hash of (src,dst); m entries,
    * ~1.2 MB/million edges at 1% fpp) broadcast to the wedge stage
    * drops non-closing wedges BEFORE they enter the exchange. False
    * positives survive the prefilter but die in the exact (v,w) join
    * that follows, so the result is bit-identical — which the unchanged
    * DuckDB oracle checks. Built via [[Blooms]], NOT `stat.bloomFilter`:
    * the SQL aggregate silently clamps to 4M items / 67M bits, and the
    * saturated sketch passed the FULL wedge stream at 100× (fp→1; the
    * per-node shuffle audit caught it — 4.11 B records on the wedge
    * exchange, exactly the unpruned volume — no correctness gate could,
    * since false positives are legal). Together with persisting the
    * 4-consumer `oriented` frame and shuffle_hash-ing the closing join
    * (no wedge sort), the audited shuffle totals are 5.35 M / 53.6 M /
    * 600 M records across sf0.1 / 10× / 100× — linear per decade, zero
    * spill at every decade (BENCH_NOTES r8). The UDF probe sits outside
    * codegen; that is the documented JoinOpt price for removing the
    * dominant exchange. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // the ORIENTED frame is the 4-consumer input (both wedge sides, the
    // closing join, the bloom build) — persist it, not just the raw
    // edges, or the degree joins behind it re-execute per consumer
    // (audited at 10×: 3 copies of the deg exchanges, ~100 M redundant
    // shuffle records — the winnow-fps slot lesson). CHECKPOINTED, not
    // just persisted (r8): the edge-build shuffles (the raw co-purchase
    // fan-out's pre-distinct exchange dominates) stay on disk for the
    // whole wedge job while a plain persist keeps their lineage alive —
    // a large share of the cumulative footprint behind the 100× one-box
    // ENOSPC (BENCH_NOTES r8); cutting lineage lets the ContextCleaner
    // reclaim them before the wedge exchange needs the disk.
    val oriented = PersistSlots.cachedCheckpoint(spark, s"tri-oriented:$dir") {
      val edges = partEdges(spark, dir)
      // undirected degree per node
      val deg = edges.select(col("a").as("v")).union(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      // orient by (degree, id): src = smaller endpoint in that total order
      val withDeg = edges
        .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      // keep the dst endpoint's degree: the wedge pair below must be
      // ordered by the SAME (degree, id) total order as the orientation,
      // or the closing edge (always low ≺ high in that order) is missed
      withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd"))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
    }
    val m0 = PersistSlots.rowCount(spark, s"tri-oriented:$dir")
      .getOrElse(oriented.count())
    // In-memory branch (r10, the q32 pr-adj discipline): when the
    // oriented adjacency fits one task's share of the conf-derived
    // JoinBacks budget AND the wedge work is bounded (Σ d⁺² ≤ 2²⁸ steps
    // — about a second in-core; computed once per corpus on the cached
    // frame, memoized with the bloom), the whole count runs as
    // compact-forward array intersections over a ONE-row index-aligned
    // adjacency ([[graft.plans.TriangleCountExpr]]) — the same oriented
    // wedge volume the distributed plan shuffles (53.6 M records at the
    // 10× probe), walked in-core with zero wedge exchange. Counts are
    // integers, so the oracle equality gate is exact in both branches;
    // FallbackParitySpec pins branch-flip parity. Past either bound the
    // distributed wedge/bloom/shuffle-hash pipeline below runs
    // unchanged — the 100 TB path.
    val localOk = trianglesInCore(spark, m0,
      PersistSlots.memo(spark, s"tri-wedge-work:$dir")(
        oriented.groupBy("src").agg(count(lit(1)).as("d"))
          .agg(sum(col("d") * col("d"))).collect()(0).getLong(0)))
    if (localOk) return trianglesLocal(spark, dir, oriented)
    // wedges at apex u: out-neighbor pairs with v ≺ w in (degree, id)
    // order — dedups each wedge AND matches the closing edge's direction
    val wedges = oriented.select(col("src").as("u"), col("dst").as("v"), col("dd").as("dv"))
      .join(oriented.select(col("src").as("u"), col("dst").as("w"), col("dd").as("dw")), Seq("u"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    // bloom prefilter: hash each oriented edge once (treeAggregate,
    // ~1.2 MB bitset per million edges), probe every wedge map-side so
    // only plausibly-closing wedges enter the (v,w) exchange; the exact
    // join below removes bloom false positives. Built via [[Blooms]],
    // NOT stat.bloomFilter — the SQL aggregate silently clamps to 4M
    // items / 67M bits and the saturated sketch passed the FULL 4.11B-
    // wedge stream at 100× (fp→1; caught by the shuffle audit, not by
    // any correctness gate — BENCH_NOTES r8).
    // edge count from the slot's memoized materialization count (the
    // pagerank-n discipline; re-counting the cached frame paid one job
    // per invocation), and the built+broadcast sketch memoized per
    // (session, corpus) like the LSH index — the bloom is a corpus
    // artifact, and the previous per-invocation treeReduce rebuild paid
    // a full aggregation job on every warm bench pass. Cold honesty:
    // the memo lives in PersistSlots, so ArtifactCaches.clear() drops it
    // with the other artifacts.
    val m = PersistSlots.rowCount(spark, s"tri-oriented:$dir")
      .getOrElse(oriented.count())
    val bfB = PersistSlots.memo(spark, s"tri-bloom:$dir")(
      spark.sparkContext.broadcast(edgeBloom(oriented, m)))
    // named so the plan-level selectivity audit (GraphOpsSpec /
    // PlanAudit.markedExchangeRecords) can find the exchange ABOVE this
    // probe — the one whose record count proves the prefilter pruned.
    // Codegen expression, not a ScalaUDF: the probe is the only work the
    // 41 M-row (4.1 B at 100×) wedge stream sees before the prune, and
    // the UDF boxed every hash (guide §4: no non-codegen expressions on
    // the hot path); results identical, marker name preserved.
    val mightClose = (c: org.apache.spark.sql.Column) =>
      graft.plans.BloomProbeExpr.probe(bfB, c, "might_close")
    // shuffle_hash on the EDGE side: SMJ would sort the wedge stream
    // (the big side — 3.8 GB of sort spill at 10× even after the bloom
    // prune); hashing the m-sized edge side per partition skips that
    // sort entirely
    //
    // counter-measured r10 (VERDICT r9 #4): packing (v, w) into one long
    // ((v << 32) + w, ids < 2³¹ at every probed decade) for both the
    // bloom key and the join key was interleave-A/B'd at the 10× probe —
    // packed warm 7.65–8.62 s vs xxhash64 7.79–7.93 s, shuffle records
    // identical (53.4 M). The two-long xxhash64 and the two-column join
    // compare are not where this stream's time goes; the packed branch
    // (a maxId guard + dual key paths) buys complexity, not time. Kept
    // as-is.
    val tris = wedges
      .filter(mightClose(xxhash64(col("v"), col("w"))))
      .join(oriented.select(col("src").as("v"), col("dst").as("w")).hint("shuffle_hash"),
        Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("p_partkey"))
      .groupBy("p_partkey").agg(count(lit(1)).as("tri"))
      .orderBy("p_partkey")
  }

  /** In-core wedge-work cap for the local triangle branch: Σ d⁺² is the
    * two-pointer step count, and 2²⁸ ≈ 268 M primitive steps is about a
    * second on one core — past it the distributed pipeline wins even
    * when the adjacency fits memory. */
  val LocalWedgeCap: Long = 1L << 28

  /** Edge cap for both in-core branches: each builds its whole adjacency
    * as ONE aggregated row (pagerank's per-dst int lists, triangles'
    * packed-long edge list — 8 B an edge, 240 MB at the cap), and Spark
    * fails any single row or array past 2 GB. 3·10⁷ edges keeps that row
    * far below the limit even when a large heap passes the budget. */
  val LocalEdgeCap: Long = 30000000L

  /** Pagerank's branch: in-core when `m` edges are under
    * [[LocalEdgeCap]] and n·24 B of node arrays plus m·16 B of
    * adjacency fit one task's share of the broadcast budget. */
  private[operators] def pagerankInCore(spark: SparkSession, n: Long, m: Long): Boolean =
    m <= LocalEdgeCap && JoinBacks.fits(spark, n * 24L + m * 16L, sides = 1)

  /** The triangle branch: in-core when `m` oriented edges are under
    * [[LocalEdgeCap]], their 64 B each fit the budget, and the wedge
    * work Σ d⁺² (a job, so evaluated only when the first two hold) is
    * under [[LocalWedgeCap]]. */
  private[operators] def trianglesInCore(spark: SparkSession, m: Long,
      wedgeWork: => Long): Boolean =
    m <= LocalEdgeCap && JoinBacks.fits(spark, 64L * m, sides = 1) && wedgeWork <= LocalWedgeCap

  /** The in-memory branch: dense node index + per-node sorted oriented
    * out-lists, built once per corpus into the `tri-adj` slot (the q32
    * pr-adj discipline), then one [[graft.plans.TriangleCountExpr]]
    * projection over the one-row frame. Same (degree, id) orientation,
    * same per-corner credits, exact integer counts. */
  private def trianglesLocal(spark: SparkSession, dir: String,
      oriented: DataFrame): DataFrame = {
    val adj = PersistSlots.cached(spark, s"tri-adj:$dir") {
      // the dense index is consumed by TWO joins below — slot-cached, or
      // each broadcast re-runs the node distinct + window (the r9
      // aliased-broadcast lesson)
      val idx = PersistSlots.cached(spark, s"tri-idx:$dir") {
        val w = org.apache.spark.sql.expressions.Window.orderBy("v")
        oriented.select(col("src").as("v"))
          .union(oriented.select(col("dst").as("v"))).distinct()
          .select(col("v"), (row_number().over(w) - 1).as("i"))
      }
      // idx is node-sized and the local gate already passed — broadcast
      // it explicitly (its window-derived size estimate defeats the
      // planner's own threshold). Edges pack to one long each and ride a
      // ZERO-KEY collect (no per-key object-agg sort fallback, no per-src
      // grouped lists — the expression builds the CSR in-core; the first
      // grouped-lists build cost 5.3 s of the cold slot, probed r10);
      // the union frame carries node rows (k=0) and edge rows (k=1) so
      // ONE aggregation emits both arrays without a one-row cross join.
      val packed = oriented
        .join(broadcast(idx.select(col("v").as("src"), col("i").as("si"))), Seq("src"))
        .join(broadcast(idx.select(col("v").as("dst"), col("i").as("di"))), Seq("dst"))
        .select(lit(1).as("k"),
          (shiftleft(col("si").cast("long"), 32) + col("di")).as("e"))
      idx.select(lit(0).as("k"), col("v").as("e")).unionAll(packed)
        .agg(sort_array(collect_list(when(col("k") === 0, col("e")))).as("vs"),
          collect_list(when(col("k") === 1, col("e"))).as("edges"))
    }
    // vs ascending = the index order (i was assigned by ascending v), so
    // counts zip back positionally
    adj.select(explode(arrays_zip(col("vs"),
        graft.plans.TriangleCountExpr.count(col("edges"), size(col("vs"))).as("tri"))).as("z"))
      .filter(col("z.tri") > 0)
      .select(col("z.vs").as("p_partkey"), col("z.tri").as("tri"))
      .orderBy("p_partkey")
  }

  /** Wedge-prefilter false-positive rate. The SELECTIVITY this buys is an
    * executable assertion (VERDICT r8 #1, GraphOpsSpec): the (v,w)
    * closing exchange must carry ≤ closing_wedges + 2·fpp·total_wedges
    * records — the bound a saturated sketch (the r8 stat.bloomFilter
    * clamp) blows by the full wedge volume, which no correctness gate
    * can see (false positives are legal). */
  val WedgeFpp = 0.01

  /** The oriented-edge membership bloom behind the wedge prefilter —
    * exposed so the spec can assert the built sketch's bit size is the
    * UNCLAMPED optimum for m at [[WedgeFpp]] (the one-line guard against
    * any regression to a clamped builder). */
  private[operators] def edgeBloom(oriented: DataFrame, m: Long): org.apache.spark.util.sketch.BloomFilter =
    Blooms.ofLongs(oriented, xxhash64(col("src"), col("dst")), math.max(m, 1L), WedgeFpp)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_pagerank" -> pagerank _,
    "q33_triangles" -> triangles _,
  )

  private val edgeCte =
    """WITH eo AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
      |e AS (SELECT DISTINCT a.s AS src, b.s AS dst FROM eo a JOIN eo b ON a.o = b.o AND a.s <> b.s),
      |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      |nn AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n FROM e)""".stripMargin

  /** One unrolled PageRank round in DuckDB. */
  private def prRound(prev: String, cur: String): String =
    s"""$cur AS (SELECT e.dst AS v, 0.15 / nn.n + 0.85 * SUM($prev.r / deg.outdeg) AS r
       |FROM e JOIN $prev ON e.src = $prev.v JOIN deg ON e.src = deg.src CROSS JOIN nn
       |GROUP BY e.dst, nn.n)""".stripMargin

  /** def, not val: the export path is corpus-keyed and resolved after
    * Verify's export pass sets `exportedDir` (the Sketches discipline). */
  def oracleSql: Map[String, String] = Map(
    "q32_pagerank" -> (s"WITH est AS (SELECT s_suppkey, pr FROM '${exportPath(exportedDir)}/*.parquet'),\n" +
      edgeCte.replaceFirst("WITH ", "") + ",\n" +
      "r0 AS (SELECT DISTINCT src AS v, 1.0 / nn.n AS r FROM e CROSS JOIN nn),\n" +
      (1 to PrIters).map(i => prRound(s"r${i - 1}", s"r$i")).mkString(",\n") + "\n" +
      s"SELECT COALESCE(est.s_suppkey, r.v) AS s_suppkey, est.pr, " +
      s"(est.pr IS NOT NULL AND r.r IS NOT NULL AND ABS(r.r - est.pr) <= $GateTol) AS pr_ok " +
      s"FROM est FULL JOIN r$PrIters r ON r.v = est.s_suppkey ORDER BY s_suppkey")
      .replaceAll("\n", " "),
    "q33_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT v, COUNT(*) AS d FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
        |ori AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS src,
        |CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.b ELSE e.a END AS dst,
        |CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN db.d ELSE da.d END AS dd
        |FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
        |tri AS (SELECT o1.u, o1.v, o2.w FROM
        |(SELECT src AS u, dst AS v, dd AS dv FROM ori) o1 JOIN (SELECT src AS u, dst AS w, dd AS dw FROM ori) o2
        |ON o1.u = o2.u AND (o1.dv < o2.dw OR (o1.dv = o2.dw AND o1.v < o2.w))
        |JOIN ori oc ON oc.src = o1.v AND oc.dst = o2.w)
        |SELECT p_partkey, COUNT(*) AS tri FROM
        |(SELECT u AS p_partkey FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri)
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin.replaceAll("\n", " "),
  )
}
