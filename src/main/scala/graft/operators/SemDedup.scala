package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** SemDeDup — semantic (embedding-space) deduplication via
  * cluster-then-prune (Abbas et al. 2023, "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication").
  *
  * The global near-dup graph over N embeddings is quadratic; SemDeDup's
  * observation is that semantic duplicates land in the same k-means
  * cluster, so pruning only needs WITHIN-CLUSTER pairwise similarity.
  * With clusters sized to a constant target (~[[CellTarget]] vectors),
  * total pairwise work is ~CellTarget × N — linear in the corpus, and
  * embarrassingly parallel: each cluster prunes independently, no
  * iterative connected components, no cross-cluster traffic.
  *
  * Decomposition (all Spark-native):
  *   1. coarse clustering — [[graft.operators.Similarity.buildIvfIndex]]
  *      (sampled KMeans fit; the SAME artifact the ANN family serves
  *      from, so a corpus that maintains an IVF index gets SemDeDup's
  *      clustering for free);
  *   2. within-cell pair generation — equi self-join on `cell` (uniform
  *      shuffle key by construction: cells are size-bounded);
  *   3. prune rule — drop a vector iff a SMALLER-id cell-mate sits at
  *      cosine ≥ τ. Deterministic, one pass, no iteration. This is the
  *      paper's "keep one representative per duplicate group" made
  *      order-deterministic; near-duplication is not transitive, so the
  *      component-exact variant lives in [[Dedup.cluster]] — SemDeDup
  *      trades that exactness for a stateless rule that never loops.
  *
  * Scale (100 TB / 10¹⁰ vectors): the fit samples (never scans) the
  * corpus; assignment is one broadcast-centroid map; the self-join
  * shuffles each vector once on its cell id; within-cell fan-out is
  * bounded by CellTarget² per cell. The knife knob is CellTarget — the
  * paper runs ~constant-size clusters at web scale for exactly this
  * reason.
  *
  * Oracle story: KMeans cell boundaries are not DuckDB-reproducible, so
  * (mirroring `ml_golden_gate` / `ml_quality_score`) Verify exports the
  * fitted (vec_id, cell) assignment to a fixed path and BOTH engines
  * compute the prune from those bytes — the oracled surface is the exact
  * within-cell pairwise math + survivor rule. The end-to-end operator
  * (fit → assign → prune) is spec-gated with a soundness + recall check
  * against the brute-force global pair set (SemDedupSpec).
  */
object SemDedup {

  /** Cosine threshold for "semantic duplicate" (embeddings arrive
    * unit-normalized, so dot = cosine). 0.40 sits just under the exact
    * family's 0.45 — at oracle SF it yields a non-trivial prune set. */
  val Tau = 0.40

  /** Target cluster occupancy: within-cell pairwise work per vector is
    * ≤ CellTarget, making total prune cost linear in N. */
  val CellTarget = 256

  /** Export path consumed by BOTH engines of the dd_semdedup oracle
    * (written by Verify ahead of the query dump). Derived from the corpus
    * dir — a fixed shared path would let concurrent runs (or a stale
    * export from a different SF) clobber each other, and the query would
    * silently score whatever corpus last wrote the file. */
  def cellsExport(dir: String): String = ExportPaths.forCorpus("semdedup_cells", dir)

  /** The corpus dir of the most recent [[exportCells]] — selects which
    * per-dir export the dumped oracle SQL references (Verify exports,
    * runs queries, then dumps oracleSql, all single-threaded). */
  @volatile private var exportedDir: String = "/root/testdata/sf0.01"

  /** Constant-occupancy cluster count (contrast
    * [[Similarity.defaultNClusters]]'s √N: ANN probe cost balances at √N
    * cells, but prune cost balances at constant cell SIZE). */
  def semClusters(n: Long): Int =
    math.max(8, math.ceil(n.toDouble / CellTarget).toInt)

  /** Corpus size, memoized per (session, corpus): both entry points need
    * n for the constant-occupancy cluster count, and an un-memoized
    * count() is a full-table action on EVERY invocation (r9 review find
    * — the Mining.scala:115 lesson, same class). */
  private def corpusN(spark: SparkSession, dir: String): Long =
    PersistSlots.memo(spark, s"semdedup-n:$dir")(Tables.embeddings(spark, dir).count())

  /** The memoized coarse quantizer at SemDeDup's constant-occupancy k —
    * [[Similarity.ivfIndexFor]], so repeated calls (and the ANN family,
    * when its k coincides) share one fitted index instead of re-running
    * the sampled KMeans and stacking persisted assignment frames. */
  private def semIndex(spark: SparkSession, dir: String): Similarity.IvfIndex =
    Similarity.ivfIndexFor(spark, dir, nClusters = semClusters(corpusN(spark, dir)))

  /** Fit the coarse quantizer and export (vec_id, cell) for the oracle. */
  def exportCells(spark: SparkSession, dir: String): Unit = {
    val idx = semIndex(spark, dir)
    exportedDir = dir
    idx.assignments.select(col("vec_id"), col("cell"))
      .coalesce(1).write.mode("overwrite").parquet(cellsExport(dir))
  }

  /** The prune stage over a fixed (vec_id, cell) assignment — the oracled
    * surface. Output per vector: its cell, its within-cell τ-neighbor
    * count, and the survivor flag. */
  def pruneCells(spark: SparkSession, dir: String, cells: DataFrame,
      tau: Double = Tau): DataFrame = {
    val v = cells.join(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      Seq("vec_id"))
    val a = v.select(col("vec_id").as("a_id"), col("cell"), col("v").as("va"))
    val b = v.select(col("vec_id").as("b_id"), col("cell"), col("v").as("vb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(graft.plans.VectorOps.dot(col("va"), col("vb")) >= tau)
      .select(col("a_id"), col("b_id"))
    // neighbor degree (either side) + dominated set (appears as the
    // larger id of some pair ⇒ a smaller-id representative exists)
    val deg = pairs.select(col("a_id").as("vec_id"))
      .unionAll(pairs.select(col("b_id").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("n_dups"))
    val dominated = pairs.select(col("b_id").as("vec_id")).distinct()
      .withColumn("dom", lit(true))
    cells
      .join(deg, Seq("vec_id"), "left")
      .join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("dom") === lit(false), lit(true)).as("keep"))
      .orderBy("vec_id")
  }

  /** End-to-end operator (fit → assign → prune) — the deployable form;
    * spec-gated (cluster boundaries are not oracle-reproducible). */
  def semDedup(spark: SparkSession, dir: String, tau: Double = Tau): DataFrame =
    pruneCells(spark, dir,
      semIndex(spark, dir).assignments.select(col("vec_id"), col("cell")), tau)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_semdedup" -> ((s: SparkSession, d: String) =>
      pruneCells(s, d, s.read.parquet(cellsExport(d)))),
  )

  def oracleSql: Map[String, String] = Map(
    "dd_semdedup" ->
      s"""WITH cells AS (SELECT vec_id, cell FROM '${cellsExport(exportedDir)}/*.parquet'),
        |v AS (SELECT c.vec_id, c.cell, e.embedding FROM cells c JOIN embeddings e USING (vec_id)),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))) >= $Tau),
        |deg AS (SELECT vec_id, COUNT(*) AS n FROM
        |(SELECT a_id AS vec_id FROM p UNION ALL SELECT b_id FROM p) GROUP BY 1)
        |SELECT c.vec_id, c.cell, CAST(COALESCE(deg.n, 0) AS BIGINT) AS n_dups,
        |c.vec_id NOT IN (SELECT DISTINCT b_id FROM p) AS keep
        |FROM cells c LEFT JOIN deg USING (vec_id) ORDER BY vec_id""".stripMargin.replaceAll("\n", " "),
  )
}
