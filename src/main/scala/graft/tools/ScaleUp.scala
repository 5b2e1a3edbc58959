package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions

/** Synthesize an sf1-equivalent corpus by replicating sf0.1 as FACTOR
  * independent shards — scale EVIDENCE, not an oracle input (the
  * read-only driver testdata stops at sf0.1):
  *
  *   - relational tables: keys shifted by a stride per replica, so join
  *     cardinalities and group sizes scale linearly (no artificial skew);
  *   - documents: every token salted with the replica id, so shingle
  *     sets are disjoint across replicas — within-replica Jaccard
  *     structure is preserved exactly and near-dup pair counts scale
  *     linearly instead of quadratically;
  *   - embeddings: a per-replica ±1 sign pattern per dimension (an
  *     orthogonal transform), preserving norms and within-replica inner
  *     products while decorrelating replicas — ANN neighbor structure
  *     per shard is untouched; the vec_id<20 query set stays replica-0.
  *
  * DERIVED-COLUMN ENTROPY is the corpus-fidelity hazard (VERDICT r8 #4):
  * a column an operator blocks or joins on can silently STOP growing
  * under replication even when the key it derives from grows — the
  * custkey case cost a full probe cycle: the generic 10^7 stride is
  * ≡ 0 mod 10^6, so c_name's trailing-6 blocking suffix stayed frozen
  * at the base corpus' 15k values at ANY factor, every suffix-blocked
  * operator turned quadratic at 100× (er_link warm 93 s), and the
  * artifact was invisible at 10×. [[entropyAudit]] makes the property
  * executable: for every derived column the operators key on, distinct
  * counts across the scaled corpus must grow ∝ factor.
  *
  * Usage: runMain graft.tools.ScaleUp [factor] [outDir]   (10, /tmp/graft_sf1)
  */
object ScaleUp {

  val Stride = 10000000L

  /** All replicated tables as DataFrames (exposed un-written so the
    * entropy audit spec can run the REAL replication logic at a small
    * factor without touching disk). */
  def replicaTables(spark: SparkSession, inDir: String, factor: Int): Seq[(String, DataFrame)] = {
    def read(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")

    def shifted(t: String, keys: Seq[String], strides: Map[String, Long] = Map.empty): DataFrame = {
      val base = read(t)
      (0 until factor).map { rep =>
        keys.foldLeft(base)((df, k) =>
          df.withColumn(k, col(k) + lit(rep * strides.getOrElse(k, Stride))))
      }.reduce(_ unionAll _)
    }
    // c_name is derived from c_custkey in the generator; re-derive it
    // from the SHIFTED key or every replica carries an identical name —
    // which both multiplies er_link's blocking buckets by the factor and
    // plants cross-replica exact-name matches, a corpus artifact (an
    // 8.3× wall blow-up at 10× that vanished with faithful names).
    // The custkey domain shifts DENSELY (stride = base max key), the way
    // the real generator lays out keys at a larger SF: the generic 10^7
    // stride is ≡ 0 mod 10^6, so the name's trailing digits stay frozen
    // at the base corpus' 15k values at ANY factor — blocking-suffix
    // cardinality stops growing and every suffix-blocked operator turns
    // quadratic (measured: er_link 100× warm 93 s aliased; a real dense
    // registry grows suffix entropy with n). Same stride on o_custkey
    // keeps the FK consistent. entropyAudit asserts exactly this.
    val custStride = read("customer").agg(max("c_custkey")).head().getLong(0) + 1
    val custStrides = Map("c_custkey" -> custStride, "o_custkey" -> custStride)

    // events ships as TIMESTAMP(NANOS) — read through Tables.events (which
    // normalizes to µs); the copy is written as standard TIMESTAMP, which
    // Tables.events passes through unchanged
    val ev = graft.sources.Tables.events(spark, inDir)
    val events = (0 until factor).map { rep =>
      Seq("event_id", "user_id").foldLeft(ev)((df, k) =>
        df.withColumn(k, col(k) + lit(rep * Stride)))
    }.reduce(_ unionAll _)

    // documents: replica-salted tokens (disjoint shingle spaces)
    val docs = read("documents")
    val documents = (0 until factor).map { rep =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(rep * Stride))
      if (rep == 0) d
      else d.withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"_r$rep"))), " "))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionAll _)

    // embeddings: per-replica deterministic sign flips (orthogonal)
    val emb = read("embeddings")
    val dim = 64
    val embeddings = (0 until factor).map { rep =>
      val e = emb.withColumn("vec_id", col("vec_id") + lit(rep * Stride))
      if (rep == 0) e
      else {
        val rnd = new scala.util.Random(rep * 7919L + 17)
        val signs = Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
        e.withColumn("embedding",
          zip_with(col("embedding"), array(signs.toIndexedSeq.map(lit): _*),
            (x, s) => (x * s).cast("float")))
      }
    }.reduce(_ unionAll _)

    Seq(
      // dims: copy as-is
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> shifted("customer", Seq("c_custkey"), custStrides)
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))),
      "supplier" -> shifted("supplier", Seq("s_suppkey")),
      "part" -> shifted("part", Seq("p_partkey")),
      "orders" -> shifted("orders", Seq("o_orderkey", "o_custkey"), custStrides),
      "lineitem" -> shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> events,
      "documents" -> documents,
      "embeddings" -> embeddings,
    )
  }

  /** One audited derived column: the table it lives in and the key
    * expression an operator blocks/joins on. */
  final case class EntropyKey(table: String, name: String, expr: DataFrame => org.apache.spark.sql.Column)

  /** The derived columns the operators key on — each must keep growing
    * under replication. Raw shifted ids are omitted on purpose (they
    * grow by construction); the hazard class is columns DERIVED from
    * them. */
  def auditedKeys: Seq[EntropyKey] = Seq(
    // er_link / er_link_growing blocking key: the name's trailing
    // BlockSuffix chars (the r8 bug: frozen under the 10^7 stride)
    EntropyKey("customer", "er_blocking_suffix", df =>
      substring(col("c_name"), -graft.operators.EntityResolution.BlockSuffix,
        graft.operators.EntityResolution.BlockSuffix)),
    // every shingle/fingerprint/minhash operator keys on token content
    EntropyKey("documents", "token", df => explode(split(col("text"), " "))),
    // ANN/near-dup bucket joins key on vector content (proxied by the
    // full-vector hash; the sign-flip decorrelation must keep vectors
    // distinct across replicas)
    EntropyKey("embeddings", "vector_hash", df => hash(col("embedding"))),
  )

  final case class EntropyRow(table: String, column: String,
      base: Long, scaled: Long, ratio: Double, ok: Boolean)

  /** Distinct-count growth audit: for each [[auditedKeys]] column, the
    * scaled corpus must carry ≥ `floor` × factor × base distinct values
    * (floor < 1 absorbs collision slack in genuinely-growing domains).
    * A row with ok=false is a corpus artifact that will manufacture —
    * or mask — a quadratic at some factor (the er_link r8 case). */
  def entropyAudit(baseTables: Map[String, DataFrame], scaledTables: Map[String, DataFrame],
      factor: Int, floor: Double = 0.6): Seq[EntropyRow] =
    auditedKeys.map { k =>
      def distinctOf(df: DataFrame): Long =
        df.select(k.expr(df).as("k")).agg(countDistinct("k")).head().getLong(0)
      val base = distinctOf(baseTables(k.table))
      val scaled = distinctOf(scaledTables(k.table))
      val ratio = scaled.toDouble / math.max(1L, base)
      EntropyRow(k.table, k.name, base, scaled, ratio, ratio >= floor * factor)
    }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_sf1")
    val inDir = "/root/testdata/sf0.1"
    val spark = Sessions.local(32)

    replicaTables(spark, inDir, factor).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }

    // corpus-fidelity gate on the WRITTEN corpus: refuse to hand scale
    // probes a corpus whose derived keys stopped growing
    def read(dir: String)(t: String) = spark.read.parquet(s"$dir/$t.parquet")
    val tables = auditedKeys.map(_.table).distinct
    val audit = entropyAudit(
      tables.map(t => t -> read(inDir)(t)).toMap,
      tables.map(t => t -> read(outDir)(t)).toMap, factor)
    audit.foreach(r => println(
      f"[scaleup] entropy ${r.table}.${r.column}%-22s base=${r.base}%9d scaled=${r.scaled}%10d " +
        f"ratio=${r.ratio}%6.2f (factor $factor) ${if (r.ok) "OK" else "FROZEN"}"))
    require(audit.forall(_.ok),
      s"derived-key entropy frozen: ${audit.filterNot(_.ok).map(r => s"${r.table}.${r.column}").mkString(", ")}")
    spark.stop()
  }
}
