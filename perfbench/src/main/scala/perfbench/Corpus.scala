package perfbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ArtifactCaches, Dedup, RecallGates, Similarity}
import graft.sources.Tables
import graft.tools.ScaleUp
import perfbench.Main.{Op, time}

/** `corpus`: the LLM-data operators over a seeded corpus. Set-up generates
  * base documents and embeddings, expands them with
  * `ScaleUp.replicaTables` (which keeps each replica's duplicate and
  * similarity structure) and computes the exact answers. Each query runs
  * artifact-cold (right after `ArtifactCaches.clear()`) and then
  * artifact-warm; the warm answer must equal the cold one and meet its
  * recall floor. */
final class Corpus(spark: SparkSession, seed: Long, root: String) extends Main.Workload {
  import spark.implicits._

  val BaseDocs = 2500
  val BaseVecs = 1000
  val Factor = 2

  /** (name, reads documents (else embeddings), raw query), in
    * [[Corpus.QueryNames]] order. */
  val queries: Seq[(String, Boolean, String => DataFrame)] = Seq(
    ("dd_minhash_lsh_fast", true, d => Dedup.minhashLshFast(spark, d)),
    ("dd_embed_cos_lsh", false, d => Dedup.embeddingCosineBucketed(spark, d)),
    ("ann_lsh_topk", false, d => Similarity.lshTopK(spark, d)),
  )

  private var dir = ""
  private var nDocs = 0L
  private var nVecs = 0L
  private var exactPairs = Set.empty[(Long, Long)]
  private var exactCos = Set.empty[(Long, Long)]
  private var exactTopK = Set.empty[(Long, Long)]
  /** Latest warm recall per query that has an exact answer. */
  private val recalls = mutable.Map.empty[String, (Int, Int)]
  /** The cold answer of the query in flight, which its warm runs must equal. */
  private var lastCold: Seq[String] = Nil
  private val untraced = new Tracer(spark.sparkContext, enabled = false)

  private def writeBase(base: String): Unit = {
    // the replicator reads every table; the relational ones are one-row
    // stand-ins it never sees the contents of
    val tables = Seq(
      "documents" -> Gen.documents(seed, BaseDocs).toDF(),
      "embeddings" -> Gen.embeddings(seed, BaseVecs).toDF(),
      "region" -> Seq((0, "R")).toDF("r_regionkey", "r_name"),
      "nation" -> Seq((0, "N", 0)).toDF("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq((1L, "Customer#000000001", 0)).toDF("c_custkey", "c_name", "c_nationkey"),
      "supplier" -> Seq(1L).toDF("s_suppkey"),
      "part" -> Seq(1L).toDF("p_partkey"),
      "orders" -> Seq((1L, 1L)).toDF("o_orderkey", "o_custkey"),
      "lineitem" -> Seq((1L, 1L, 1L)).toDF("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq((1L, 1L)).toDF("event_id", "user_id")
        .withColumn("ts", lit("2020-01-01 00:00:00").cast("timestamp")))
    // independent single-task writes: submitted together, they overlap
    tables.par.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$base/$name.parquet")
    }
  }

  def setup(rep: Int): Unit = {
    val base = s"$root/base$rep"
    val next = s"$root/corpus$rep"
    writeBase(base)
    val tables = ScaleUp.replicaTables(spark, base, Factor).toMap
    Seq("documents", "embeddings").foreach(t =>
      tables(t).repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$next/$t.parquet"))
    ArtifactCaches.clear()
    if (dir.nonEmpty) Main.deleteTree(dir)
    Main.deleteTree(base)
    dir = next
    // exact answers, computed on the driver from the written corpus
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toIndexedSeq
    val vecs = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toIndexedSeq
    nDocs = docs.length
    nVecs = vecs.length
    exactPairs = Exact.jaccardPairs(docs, 0.5)
    exactCos = Exact.cosinePairs(vecs, 0.45)
    exactTopK = Exact.topK(vecs, Similarity.QuerySetSize, Similarity.TopK)
  }

  def inputSize: Seq[(String, Double)] = Seq(
    "documents" -> nDocs.toDouble, "embeddings" -> nVecs.toDouble,
    "exact_pairs" -> exactPairs.size.toDouble, "exact_cos_pairs" -> exactCos.size.toDouble,
    "replicas" -> Factor.toDouble)

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  private def idPairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Recall against the exact answer, for queries that have one:
    * (hits, exact size, floor). */
  private def recall(name: String, rows: Array[Row]): Option[(Int, Int, Double)] = {
    val found = idPairs(rows)
    def of(exact: Set[(Long, Long)], floor: Double) =
      Some(((found intersect exact).size, exact.size, floor))
    name match {
      // 8 bands x 2 rows: misses concentrate just above j = 0.5
      case "dd_minhash_lsh_fast" => of(exactPairs, MinhashRecallFloor)
      case "dd_embed_cos_lsh" => of(exactCos, RecallGates.EmbedLshRecallBound)
      case "ann_lsh_topk" => of(exactTopK, RecallGates.AnnRecallBounds("ann_lsh_topk"))
      case _ => None
    }
  }

  val MinhashRecallFloor = 0.9

  private def run(q: (String, Boolean, String => DataFrame)): (Array[Row], Double) =
    time(q._3(dir).collect())

  private def rowsOf(q: (String, Boolean, String => DataFrame)): Long = if (q._2) nDocs else nVecs

  /** Query `q` right after every artifact cache is dropped; its answer is
    * the one the warm runs must equal. */
  private def cold(q: (String, Boolean, String => DataFrame), t: Tracer): (String, () => Op) =
    "cold" -> (() => {
      ArtifactCaches.clear()
      val (rows, w) = t.span(s"operators.${q._1}.cold")(run(q))
      lastCold = canon(rows)
      Op(w, rowsOf(q), rows.nonEmpty)
    })

  /** Query `q` with its artifacts built; ok when the answer equals the cold
    * one and clears the recall floor. */
  private def warm(q: (String, Boolean, String => DataFrame), t: Tracer,
      kind: String): (String, () => Op) =
    kind -> (() => {
      val (rows, w) = t.span(s"operators.${q._1}.warm")(run(q))
      val r = recall(q._1, rows)
      r.foreach { case (h, n, _) => recalls(q._1) = (h, n) }
      val ok = canon(rows) == lastCold && r.forall { case (h, n, floor) => h >= floor * n }
      Op(w, rowsOf(q), ok, w)
    })

  private def scan(t: Tracer): (String, () => Op) = "scan" -> (() => {
    val (_, w) = time(t.span("sources.scan") {
      Tables.documents(spark, dir).select("doc_id", "text").foreach(_ => ())
      Tables.embeddings(spark, dir).foreach(_ => ())
    })
    Op(w, nDocs + nVecs, ok = true)
  })

  /** One round is a full cycle over the queries, so every run measures
    * every query: per query, a cold run, then [[WarmRepeats]] warm runs. The
    * warm `ann_lsh_topk` runs (20 query vectors each) are the one-item
    * requests. A traced round first reads the whole corpus, then runs each
    * traced warm query between two untraced ones. */
  def round(i: Int, t: Tracer): Seq[(String, () => Op)] =
    if (t.enabled)
      scan(t) +: queries.flatMap(q => Seq(cold(q, t), warm(q, untraced, "warm"),
        warm(q, t, "traced"), warm(q, untraced, "warm")))
    else
      queries.flatMap { q =>
        val kind = if (q._1 == "ann_lsh_topk") "one" else "warm"
        cold(q, t) +: Seq.fill(WarmRepeats)(warm(q, t, kind))
      }

  val WarmRepeats = 2

  private def share(names: Seq[String]): Option[Double] = {
    val rs = names.flatMap(recalls.get)
    if (rs.isEmpty) None else Some(rs.map(_._1).sum.toDouble / rs.map(_._2).sum)
  }

  def checks(): Seq[(String, Boolean)] = Seq("exact_pairs_nonempty" -> exactPairs.nonEmpty,
    "exact_cos_pairs_nonempty" -> exactCos.nonEmpty)

  def figures(): Seq[(String, Double)] =
    share(Seq("dd_minhash_lsh_fast", "dd_embed_cos_lsh"))
      .map("operators.pair_recall" -> _).toSeq ++
      share(Seq("ann_lsh_topk")).map("operators.ann_recall" -> _)
}

object Corpus {
  val QueryNames: Seq[String] =
    Seq("dd_minhash_lsh_fast", "dd_embed_cos_lsh", "ann_lsh_topk")
}
