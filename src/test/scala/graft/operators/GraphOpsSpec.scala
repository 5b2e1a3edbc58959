package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.sources.Tables

/** Specs for the round-6 extension batch: graph analytics (PageRank,
  * degree-oriented triangles), the PPJoin prefix-filtering similarity
  * join, weighted sampling, boilerplate removal, and phrase search.
  * Each operator also carries a DuckDB oracle row; these cases pin the
  * properties the hash-compare can't see (mass conservation, lossless-
  * ness vs an independent algorithm, distribution-law plumbing). */
class GraphOpsSpec extends SparkSpec {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("pagerank conserves probability mass and ranks every graph node") {
    val pr = Graphs.pagerank(spark, sf).collect()
    assert(pr.nonEmpty)
    // the gate booleans must all hold (Spark's replay vs its own export)
    assert(pr.forall(_.getBoolean(2)), "pr_ok gate failed on self-replay")
    val mass = pr.map(_.getDouble(1)).sum
    // Σr = 1 is invariant per round on a dangling-free graph (teleport
    // mass (1−d) + distributed mass d)
    assert(math.abs(mass - 1.0) < 1e-9, s"mass $mass")
    assert(pr.forall(_.getDouble(1) > 0))
    // node set == distinct co-occurring suppliers
    val os = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("s")).distinct()
    val nodes = os.select(col("o"), col("s").as("a"))
      .join(os.select(col("o"), col("s").as("b")), Seq("o"))
      .filter(col("a") =!= col("b")).select(col("a")).distinct().count()
    assert(pr.length == nodes)
  }

  test("in-core graph branches refuse an edge count past LocalEdgeCap, even with budget to spare") {
    val over = Graphs.LocalEdgeCap + 1
    val prev = spark.conf.getOption("graft.broadcast.budget")
    spark.conf.set("graft.broadcast.budget", Long.MaxValue / 4)
    try {
      assert(JoinBacks.fits(spark, 64L * over, sides = 1), "the budget, not the cap, refused")
      assert(!Graphs.pagerankInCore(spark, 1000L, over))
      // the wedge work is a job over the edges: past the cap it must not run
      assert(!Graphs.trianglesInCore(spark, over, fail("wedge work evaluated past the edge cap")))
      assert(Graphs.pagerankInCore(spark, 1000L, Graphs.LocalEdgeCap))
      assert(Graphs.trianglesInCore(spark, Graphs.LocalEdgeCap, 0L))
    } finally prev match {
      case Some(v) => spark.conf.set("graft.broadcast.budget", v)
      case None => spark.conf.unset("graft.broadcast.budget")
    }
  }

  test("pagerank gate margin: an independent sequential replay lands ≥3 decades inside GateTol") {
    // the cross-engine situation the export-gate defends: a DIFFERENT
    // summation order replaying the same recurrence. A driver-side
    // sequential replay (plain Scala fold over sorted edges) vs the
    // engine's partial-agg sums measures the real drift; the gate bound
    // must dominate it by ≥3 orders of magnitude.
    val edges = Graphs.pagerank(spark, sf) // ensures export + caches edges
    val eo = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("s")).distinct()
    val e = eo.select(col("o"), col("s").as("src"))
      .join(eo.select(col("o"), col("s").as("dst")), Seq("o"))
      .filter(col("src") =!= col("dst")).select("src", "dst").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.length }
    val nodes = e.map(_._1).distinct.sorted
    val n = nodes.length
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to Graphs.PrIters) {
      val inflow = scala.collection.mutable.Map(nodes.map(_ -> 0.0): _*)
      e.foreach { case (s, d) => inflow(d) += r(s) / outdeg(s) }
      r = nodes.map(v => v -> ((1 - Graphs.Damping) / n + Graphs.Damping * inflow(v))).toMap
    }
    val engine = edges.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val maxDrift = nodes.map(v => math.abs(engine(v) - r(v))).max
    assert(maxDrift < Graphs.GateTol / 1e3,
      s"sequential-replay drift $maxDrift leaves <3 decades under ${Graphs.GateTol}")
  }

  test("degree-oriented triangle counts equal the naive a<b<c enumeration") {
    // independent recompute with NO orientation: adjacency as a<b edge
    // set, triangles by the plain 3-way join (the quadratic oracle shape)
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e = op.select(col("o"), col("p").as("a"))
      .join(op.select(col("o"), col("p").as("b")), Seq("o"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val tri = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y"))
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("p"))
      .groupBy("p").agg(count(lit(1)).as("tri"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Graphs.triangles(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == tri, s"oriented=${got.size} naive=${tri.size}")
    assert(got.values.sum % 3 == 0) // every triangle credits 3 corners
  }

  test("graph shuffle volume stays within the edge/wedge bounds (no quadratic regression)") {
    // the 100 TB contract, asserted on real SQLMetrics (VERDICT r7 #4):
    // pagerank's per-round exchanges stay ∝ edges + nodes, and the
    // triangle pipeline's total shuffle stays under the oriented wedge
    // bound Σ outdeg² plus linear terms. A regression to an unoriented
    // wedge join or an in-loop degree re-join overshoots these bounds by
    // orders of magnitude; generous constants keep the assertion
    // insensitive to planner-version noise.
    graft.operators.ArtifactCaches.clear()
    spark.catalog.clearCache()
    // supplier co-occurrence graph (pagerank's input), independently
    val eo = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("s")).distinct()
    val se = eo.select(col("o"), col("s").as("src"))
      .join(eo.select(col("o"), col("s").as("dst")), Seq("o"))
      .filter(col("src") =!= col("dst")).select("src", "dst").distinct()
    val mPr = se.count(); val nPr = se.select("src").distinct().count()
    val prM = graft.tools.PlanAudit.audit(Graphs.pagerankRaw(spark, sf))
    val prBound = (Graphs.PrIters + 4) * 2 * (mPr + nPr)
    assert(prM("shuffle_records") <= prBound,
      s"pagerank shuffled ${prM("shuffle_records")} records > bound $prBound (m=$mPr n=$nPr)")
    // part co-purchase graph (triangles' input): Σ outdeg² under the
    // (degree, id) orientation, plus edge/triangle linear terms
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pe = op.select(col("o"), col("p").as("a"))
      .join(op.select(col("o"), col("p").as("b")), Seq("o"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val deg = pe.select(col("a").as("v")).union(pe.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val od = pe
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("od"))
    val sumOd2 = od.agg(sum(col("od") * col("od"))).collect()(0).getLong(0)
    val mTri = pe.count()
    graft.operators.ArtifactCaches.clear()
    spark.catalog.clearCache()
    val trDf = Graphs.triangles(spark, sf)
    val trM = graft.tools.PlanAudit.audit(trDf)
    val tris3 = trDf.agg(sum("tri")).collect()(0).getLong(0) // 3 × triangle count
    val trBound = sumOd2 / 2 + 8 * (mTri + tris3)
    assert(trM("shuffle_records") <= trBound,
      s"triangles shuffled ${trM("shuffle_records")} records > bound $trBound " +
        s"(Σod²=$sumOd2 m=$mTri 3·tri=$tris3)")
    info(s"pagerank shuffle=${prM("shuffle_records")} bound=$prBound; " +
      s"triangles shuffle=${trM("shuffle_records")} bound=$trBound")
    graft.operators.ArtifactCaches.clear()
    spark.catalog.clearCache()
  }

  test("triangle wedge prefilter selectivity is an executable bound; the bloom is sized unclamped") {
    // VERDICT r8 #1: the aggregate shuffle bound above CONTAINS the full
    // unpruned wedge volume, so it passes even when the bloom prefilter
    // prunes NOTHING (the exact r8 stat.bloomFilter-clamp bug, caught
    // only by a manual audit). This case reads the (v,w) closing-join
    // exchange SPECIFICALLY (marked by the might_close probe) and
    // asserts its record count ≤ closing_wedges + 2·fpp·total_wedges —
    // both sides exactly computable from the fixture.
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pe = op.select(col("o"), col("p").as("a"))
      .join(op.select(col("o"), col("p").as("b")), Seq("o"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val deg = pe.select(col("a").as("v")).union(pe.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = pe
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val totalWedges = oriented.groupBy("src").agg(count(lit(1)).as("od"))
      .agg(sum(col("od") * (col("od") - lit(1)))).collect()(0).getLong(0) / 2
    val m = oriented.count()
    // pin the DISTRIBUTED branch (r10: in budget the count runs as the
    // in-core tri-adj intersection with no wedge exchange at all; this
    // case asserts the bloom machinery of the 100 TB path, so flip to it)
    spark.conf.set("graft.broadcast.budget", "1")
    val trDf = try Graphs.triangles(spark, sf)
      finally spark.conf.unset("graft.broadcast.budget")
    // each triangle is exactly ONE closing wedge under the orientation
    val closing = trDf.agg(sum("tri")).collect()(0).getLong(0) / 3
    val rec = graft.tools.PlanAudit.markedExchangeRecords(trDf, "might_close")
    assert(rec >= closing, s"closing exchange carried $rec < $closing closing wedges")
    val bound = closing + (2 * Graphs.WedgeFpp * totalWedges).toLong
    assert(rec <= bound,
      s"wedge prefilter pruned nothing it should have: exchange carried $rec records " +
        s"> bound $bound (closing=$closing total=$totalWedges) — saturated/clamped bloom?")
    info(s"wedge exchange rec=$rec closing=$closing total=$totalWedges bound=$bound")
    // the built bloom must be sized at the UNCLAMPED optimum for m at
    // WedgeFpp — the one-line guard against a clamped builder
    val bf = Graphs.edgeBloom(oriented, m)
    val optimalBits = math.ceil(-math.max(m, 1024L) * math.log(Graphs.WedgeFpp)
      / (math.log(2) * math.log(2))).toLong
    assert(bf.bitSize() >= optimalBits,
      s"bloom bitSize ${bf.bitSize()} < unclamped optimum $optimalBits for m=$m")
    // teeth: a deliberately undersized (clamp-like) sketch must BLOW the
    // same selectivity bound — i.e. this gate re-catches the r8 bug
    val tiny = Blooms.ofLongs(oriented, xxhash64(col("src"), col("dst")), 64L, Graphs.WedgeFpp)
    val tinyB = spark.sparkContext.broadcast(tiny)
    val mightTiny = udf((k: Long) => tinyB.value.mightContain(k))
    val od2 = oriented.select(col("src").as("u"), col("dst").as("v"))
      .join(oriented.select(col("src").as("u"), col("dst").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
    val tinySurvivors = od2.filter(mightTiny(xxhash64(col("v"), col("w")))).count()
    assert(tinySurvivors > bound,
      s"undersized-bloom control passed the bound ($tinySurvivors <= $bound) — the gate has no teeth")
    graft.operators.ArtifactCaches.clear()
    spark.catalog.clearCache()
  }

  test("ppjoin pair set equals the exact ngram-jaccard pair set (lossless prefix filter)") {
    val exact = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pp = SimilarityJoin.ppjoinPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pp == exact, s"pp=${pp.size} exact=${exact.size}")
    assert(exact.nonEmpty)
  }

  test("weighted sample keys are the max of w per-replica hashes; top-k matches brute force") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt))
    val brute = docs.map { case (id, nc) =>
      val w = 1 + nc / 100
      val key = (1 to w).map(r => md5hex(s"$id:$r")).max
      (id, w, key)
    }.sortBy { case (id, _, key) => (key, id) }(
      Ordering.Tuple2(Ordering.String.reverse, Ordering.Long)).take(25)
    val got = Sampling.weightedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.toSeq == brute.toSeq)
  }

  test("boilerplate: clean docs keep their text verbatim; removed segments recur within the source") {
    val out = TextAnalysis.boilerplate(spark, sf)
    val joined = out.join(Tables.documents(spark, sf), Seq("doc_id"))
    // untouched docs reassemble to the exact original text
    val clean = joined.filter(col("n_removed") === 0)
      .filter(col("text_clean") =!= col("text")).count()
    assert(clean == 0)
    // the fixture has cross-doc segments: something must be removed
    val removed = out.agg(sum("n_removed")).collect()(0).getLong(0)
    assert(removed > 0)
    // n_segs = ceil(tokens / BoilerSeg) for every doc
    val badSegCount = joined.filter(
      col("n_segs") =!= ceil(size(split(col("text"), " ")) / lit(TextAnalysis.BoilerSeg.toDouble)))
      .count()
    assert(badSegCount == 0)
  }

  test("phrase hits are exactly the positions where the phrase occurs") {
    val hits = Retrieval.phraseSearch(spark, sf).collect()
    assert(hits.nonEmpty)
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val phrase = Retrieval.Phrase
    hits.foreach { r =>
      val (id, pos) = (r.getLong(0), r.getInt(1))
      assert(texts(id).slice(pos, pos + phrase.length).toSeq == phrase)
    }
    // completeness: brute-force scan finds no extra occurrence
    val brute = texts.toSeq.flatMap { case (id, t) =>
      t.indices.filter(i => t.slice(i, i + phrase.length).toSeq == phrase).map(i => (id, i))
    }.toSet
    assert(hits.map(r => (r.getLong(0), r.getInt(1))).toSet == brute)
  }
}
