package graft.operators

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Approximate-nearest-neighbor search over the embeddings table
  * (north-star extension; SURVEY.md §2.G G21/G23).
  *
  * Vectors are L2-normalized in the corpus, so cosine similarity is the
  * plain dot product, computed with zip_with+aggregate Column expressions
  * (codegen — no UDF in the hot path).
  *
  * Scale story: `bruteForceTopK` broadcasts the (small) query set against
  * the full corpus — exact, O(Q·N), the correctness oracle. `lshTopK` is
  * the 100 TB path: L sign-random-projection tables hash every vector to a
  * bucket; candidates come from an equi join on (table, bucket) — shuffle
  * on uniform hash keys, never a cross product — then only candidates are
  * scored exactly.
  */
object Similarity {

  val QuerySetSize = 20 // queries = vec_id < 20
  val TopK = 3

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Codegen'd native dot product (same summation order as the
    * zip_with+aggregate form — bit-identical results, no per-row array
    * allocation; see graft.plans.DotProductExpr). */
  private def dot(a: Column, b: Column): Column = graft.plans.VectorOps.dot(a, b)

  /** Exact top-k cosine neighbors for the query set, brute force.
    * Ranking is over ROUND(cs,6) with vec_id tiebreak so the oracle's
    * ordering is bit-stable across engines. */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("v").as("vq"))
    val w = Window.partitionBy("q_id").orderBy(round(col("cs"), 6).desc, col("nbr_id"))
    broadcast(q).join(e.select(col("vec_id").as("nbr_id"), col("v").as("vn")),
        col("q_id") =!= col("nbr_id"))
      .withColumn("cs", dot(col("vq"), col("vn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("nbr_id"), col("rank"), round(col("cs"), 4).as("cs"))
      .orderBy("q_id", "rank")
  }

  // Tuned for weak-neighbor corpora (top cosine ~0.5 ⇒ θ≈60°): collision
  // prob per table (1-θ/π)^bits ≈ 0.09 at 6 bits; 8 tables ⇒ ~50% single-
  // probe recall while scoring only ~10% of the corpus per query.
  // Multi-probe (the query also probes every 1-bit-flip bucket, 7 probes
  // per table) lifts recall well above single-probe at 7x the candidate
  // set of the QUERY side only — the corpus is still hashed once, so the
  // big side's shuffle volume is unchanged.
  val LshTables = 8
  val LshBits = 6
  val Dim = 64

  /** Bucket-width scaling: bits grow with the corpus so the EXPECTED
    * BUCKET OCCUPANCY stays ~constant (~30 vectors). A fixed bit width
    * is a scale-killer: candidate pairs grow as N²/2^bits, which the
    * 10× evidence run measured directly (6-bit buckets at 20k vectors →
    * ~50M candidate pairs, 290 s, 80 GB of shuffle spill; 9-bit buckets
    * restore candidates ∝ N·bucket). Floor 6 keeps every oracle-SF plan
    * and recall contract (≤2k vectors) byte-identical; cap 20 bounds the
    * probe fan-out (bits+1 one-bit probes per table). */
  def lshBitsFor(n: Long): Int = {
    val raw = math.round(math.log(math.max(1L, n) / 30.0) / math.log(2)).toInt
    math.max(LshBits, math.min(20, raw))
  }

  /** Table-count scaling — the recall-side companion of lshBitsFor: at
    * constant occupancy the per-table collision probability for a true
    * neighbor decays as p₁^bits (p₁ = 1 − θ/π ≈ 2/3 at this corpus's
    * θ≈60° neighbor geometry), so every bucket bit lshBitsFor adds costs
    * ×p₁ recall per table; holding recall needs tables ×(1/p₁) = ×1.5
    * per added bit. The 10× evidence run measured the gap directly:
    * 8 tables at 9 bits gave top-k recall 0.583 — silently poor at
    * exactly the scale the occupancy fix targets. Floor LshTables keeps
    * every oracle-SF plan byte-identical; cap 32 bounds index size and
    * probe fan-out (the n^0.585 table growth this law implies is the
    * published hyperplane-LSH tradeoff — past ~10⁵ vectors IVF-PQ is the
    * production ANN family and the cap documents that boundary). */
  def lshTablesFor(n: Long): Int = {
    val extraBits = lshBitsFor(n) - LshBits
    math.min(32, math.ceil(LshTables * math.pow(1.5, extraBits.toDouble)).toInt)
  }

  /** Deterministic pseudo-random hyperplane component for (table, plane, dim):
    * first 4 md5 bytes as a signed int scaled to [-1, 1]. Seeded hashing
    * instead of RNG state keeps every run (and every executor) identical. */
  private def hyperplane(t: Int, p: Int): Array[Double] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(Dim) { d =>
      val bytes = md.digest(s"graft-lsh:$t:$p:$d".getBytes("UTF-8"))
      ByteBuffer.wrap(bytes).getInt.toDouble / Int.MaxValue
    }
  }

  /** Bucket id columns: for each table, the bitstring of hyperplane signs.
    * Package-visible so Dedup's bucketed near-dup pair path reuses the
    * same tables. nBits/nTables ≤ 0 → size from the corpus row count
    * (lshBitsFor/lshTablesFor — at most ONE cheap count over the id
    * column, shared by both; pass both explicitly for streaming frames,
    * which cannot be counted). */
  private[graft] def withBuckets(df: DataFrame, nBits: Int = 0, nTables: Int = 0): DataFrame = {
    val (bits0, tables0) =
      if (nBits > 0 && nTables > 0) (nBits, nTables)
      else {
        val n = df.count()
        (if (nBits > 0) nBits else lshBitsFor(n),
          if (nTables > 0) nTables else lshTablesFor(n))
      }
    // The hyperplane family rides in as ONE typedlit constant (a single
    // Literal node holding the nested ArrayData) and the per-table bit
    // loop as transform/element_at — codegen then emits LOOPS over the
    // constant. The previous shape unrolled tables×bits dot expressions
    // with tables×bits×64 scalar literals into one projection; at the
    // 100× probe (32 tables × 13 bits = 26,624 literals) the generated
    // method blew Janino's limits and every task fell back to
    // INTERPRETED projection. Same dot expression per bit (the plans/
    // VectorOps codegen Expression), same IEEE accumulation order —
    // bucket strings, and therefore every persisted artifact and oracle
    // result, are byte-identical to the unrolled form.
    val planes: Seq[Seq[Seq[Double]]] =
      (0 until tables0).map(t => (0 until bits0).map(p => hyperplane(t, p).toSeq))
    val planesCol = typedLit(planes)
    val bitsOf = (t: Column) =>
      array_join(transform(sequence(lit(0), lit(bits0 - 1)), p =>
        when(dot(col("v"), element_at(element_at(planesCol, t + 1), p + 1)) > 0,
          lit("1")).otherwise(lit("0"))), "")
    df.withColumn("tbl", explode(sequence(lit(0), lit(tables0 - 1))))
      .withColumn("bucket", bitsOf(col("tbl")))
  }

  /** Multi-probe bucket list: the bucket itself plus every 1-bit flip —
    * the standard multi-probe LSH trick (a near-miss neighbor most likely
    * differs in exactly one hyperplane sign). nBits must match the width
    * the buckets were built with (length of the bucket bitstring). */
  private[graft] def probeBuckets(bucket: Column, nBits: Int = LshBits): Column = {
    val flips = (0 until nBits).map { p =>
      val ch = substring(bucket, p + 1, 1)
      concat(substring(bucket, 1, p),
        when(ch === "1", lit("0")).otherwise(lit("1")),
        substring(bucket, p + 2, nBits - p - 1))
    }
    array(bucket +: flips: _*)
  }

  /** Packed (tbl, bucket) candidate-join key: the bucket bitstring parsed
    * as its binary value with the table id in the bits above it —
    * (tbl << nBits) + int(bucket, base 2). A BIJECTION on (tbl, bucket):
    * bucket strings are fixed-width nBits, lshBitsFor caps nBits at 20
    * and lshTablesFor caps tables at 32, so every key is < 2^26 — no
    * collision caveat, the equi join on this ONE long column produces
    * EXACTLY the (tbl, bucket) join's pairs. What it buys (guide §2.3
    * narrower shuffle keys / §4 cheaper per-row expressions): the join
    * hashes and compares an 8-byte long instead of an (int, nBits-char
    * string) pair, and the multi-probe expansion becomes nBits codegen
    * XORs ([[probeKeys]]) instead of nBits substring+concat string
    * builds per row. The string artifact itself is untouched — persisted
    * indexes, appends and every oracle export still carry the readable
    * bitstring; the packed key exists only inside candidate joins. */
  private[graft] def bucketKey(tbl: Column, bucket: Column, nBits: Int): Column =
    shiftleft(tbl.cast("long"), nBits) + conv(bucket, 2, 10).cast("long")

  /** Multi-probe key list over the packed key: the key itself plus every
    * 1-bit flip of the bucket portion (XOR masks below 2^nBits never
    * touch the table bits). Same probe SET as [[probeBuckets]] under the
    * [[bucketKey]] bijection — string position p maps to bit nBits−1−p,
    * and the consuming explode is order-free. */
  private[graft] def probeKeys(bk: Column, nBits: Int): Column =
    array(bk +: (0 until nBits).map(p => bk.bitwiseXOR(lit(1L << p))): _*)

  /** Deeper probe set: the key plus every 1- and 2-bit flip (1 + 6 + 15
    * probes at 6 bits). Used by the DEDUP near-dup path, where the
    * targets sit right at the similarity threshold (θ ≈ 63°, ~2.1
    * expected differing bits per table): 1-bit probes leave a few-percent
    * miss rate per marginal pair, 2-bit probes push the 8-table miss
    * probability to ~2e-4 — which is what lets the bucketed path carry a
    * full equality oracle against the exact pair set. Probe count is a
    * recall/cost knob: ANN top-k keeps the cheaper 1-bit list. */
  private[graft] def probeKeys2(bk: Column, nBits: Int): Column = {
    val one = (0 until nBits).map(p => 1L << p)
    val two = for { p <- 0 until nBits; q <- p + 1 until nBits }
      yield (1L << p) | (1L << q)
    array(bk +: (one ++ two).map(m => bk.bitwiseXOR(lit(m))): _*)
  }

  /** Sign-LSH bucket index artifact: (vec_id, tbl, bucket) rows — id-only
    * (the vectors stay in the corpus and join back by id at rescoring
    * time, so the index is ~20 bytes/vector/table, not a corpus copy).
    * Built once per corpus and reusable across queries / persistable to
    * parquet, like IvfIndex. nBits/nTables are baked in: the probe
    * expansion must use the width the buckets were hashed with, and
    * appends must hash into the same table family. */
  final case class LshIndex(nBits: Int, nTables: Int, nVectors: Long, buckets: DataFrame)

  // whole-index memo (bucket frame AND the corpus-derived bits/tables):
  // without it every index-less lshTopK/embeddingCosineBucketed call pays
  // a corpus count just to re-derive the same two integers
  def buildLshIndex(spark: SparkSession, dir: String): LshIndex =
    PersistSlots.memo(spark, s"lsh:$dir") {
      val raw = emb(spark, dir)
      val n = raw.count()
      val nBits = lshBitsFor(n)
      val nTables = lshTablesFor(n)
      // spread the persisted artifact when the corpus scan is under-split
      // (the Tables.spread discipline): a single-file fixture otherwise
      // persists ONE partition, and every consumer's candidate-generation
      // stage (probe explode + bucket join + partial agg) runs on one core
      // — measured as the dominant warm term of dd_embed_cos_lsh (a ~1 s
      // single-task stage at sf0.1). Metadata-only probe; a pre-split
      // 100 TB corpus takes no exchange.
      val b = PersistSlots.cached(spark, s"lsh-index:$dir")(
        graft.sources.Tables.spread(spark,
          withBuckets(raw, nBits, nTables).select(col("vec_id"), col("tbl"), col("bucket")),
          "vec_id"))
      LshIndex(nBits, nTables, n, b)
    }

  /** Persist the index: bucket rows as tbl-partitioned parquet plus a
    * one-row meta table carrying the hash width — a cold query session
    * loads the artifact instead of re-hashing the corpus. Versioned like
    * the PQ codes artifact (see the manifest-commit block below). */
  def saveLshIndex(idx: LshIndex, path: String): Unit = {
    idx.buckets.write.mode("overwrite").partitionBy("tbl").parquet(s"$path/buckets_v0")
    val spark = idx.buckets.sparkSession
    commitDataManifest(spark, path, "buckets", "buckets_v0")
    import spark.implicits._
    Seq((idx.nBits, idx.nTables, idx.nVectors)).toDF("n_bits", "n_tables", "n_vectors")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadLshIndex(spark: SparkSession, path: String): LshIndex = {
    // recovery for an append interrupted between meta delete and rename
    // (appendToLshIndex's flip): the fully-written meta_next IS the
    // committed state — complete the rename and read it
    val fs = fsFor(spark, path)
    val live = new org.apache.hadoop.fs.Path(s"$path/meta")
    val next = new org.apache.hadoop.fs.Path(s"$path/meta_next")
    if (!fs.exists(live) && fs.exists(next)) fs.rename(next, live)
    val meta = spark.read.parquet(s"$path/meta")
    val row = meta.head()
    val nBits = row.getInt(row.fieldIndex("n_bits"))
    val nTables = // legacy artifacts predate the table-count column
      if (meta.columns.contains("n_tables")) row.getInt(row.fieldIndex("n_tables"))
      else LshTables
    val buckets = spark.read.parquet(dataLocation(spark, path, "buckets"))
      .select(col("vec_id"), col("tbl"), col("bucket"))
    val nVectors = // corpus size rides in meta so downstream join-back
      // sizing never re-counts the corpus (one bucket-count job only on
      // legacy artifacts that predate the column)
      if (meta.columns.contains("n_vectors")) row.getLong(row.fieldIndex("n_vectors"))
      else buckets.count() / math.max(1, nTables)
    LshIndex(nBits, nTables, nVectors, buckets)
  }

  /** Hash NEW vectors into bucket rows with the index's own bit width —
    * append-without-refit for the LSH artifact: the hyperplane family is
    * deterministic and the width is pinned by `meta`, so appended rows
    * are byte-identical to what a full rebuild would produce. */
  def bucketsForAppend(spark: SparkSession, vecs: DataFrame, idx: LshIndex): DataFrame =
    withBuckets(
      vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      idx.nBits, idx.nTables)
      .select(col("vec_id"), col("tbl"), col("bucket"))

  /** Append bucket rows (bucketsForAppend output) to a persisted LSH
    * index — new tbl-partitioned files beside the existing ones — and
    * advance meta's corpus count (the broadcast join-back sizing input).
    *
    * Idempotent on vec_id (r9 review find): a RETRIED append (the
    * realistic maintenance failure — parquet append is not atomic) or an
    * overlapping batch would both duplicate bucket rows and drift
    * n_vectors upward, so the batch is first anti-joined against the
    * artifact's existing ids. The membership probe broadcasts the BATCH
    * ids against the tbl=0 slice (each id appears exactly once per
    * table), so nothing corpus-sized shuffles and the duplicate set is
    * bounded by the batch. Residual non-atomicity: a crash that
    * committed an id's tbl=0 file but not all tables leaves that id with
    * a partial table family after the retry skips it — an approximate-
    * recall dent for those ids, repaired by compactLshIndex + the legacy
    * rebuild branch, never a correctness break.
    *
    * Meta is committed via the same scratch-dir + delete/rename flip as
    * the data manifests (a plain mode=overwrite deletes the live meta
    * BEFORE writing — a crash in that window bricks the artifact);
    * [[loadLshIndex]] completes an interrupted flip from `meta_next`. */
  def appendToLshIndex(path: String, newBuckets: DataFrame): Unit = {
    val spark = newBuckets.sparkSession
    val existingIds = spark.read.parquet(dataLocation(spark, path, "buckets"))
      .filter(col("tbl") === 0).select("vec_id")
    val dupIds = existingIds
      .join(broadcast(newBuckets.select("vec_id").distinct()), Seq("vec_id"), "left_semi")
    val fresh = newBuckets.select(col("vec_id"), col("tbl"), col("bucket"))
      .join(broadcast(dupIds), Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val appended = fresh.select("vec_id").distinct().count()
      // the pre-append corpus size, materialized BEFORE the write (the
      // lazy frame re-lists the dir at action time and would count the
      // just-appended files twice); in a crash-retry the pre-write slice
      // already holds the stranded rows and `appended` is 0 — the sum is
      // right in both worlds, which old-meta + appended was not
      val baseCount = existingIds.distinct().count()
      if (appended > 0)
        fresh.write.mode("append").partitionBy("tbl")
          .parquet(dataLocation(spark, path, "buckets"))
      val row = spark.read.parquet(s"$path/meta").head()
      val nBits = row.getInt(row.fieldIndex("n_bits"))
      val nTables = if (row.schema.fieldNames.contains("n_tables"))
        row.getInt(row.fieldIndex("n_tables")) else LshTables
      // derive the total from the ARTIFACT, not old-meta + appended (r9
      // review find: a crash between the data append and the meta flip
      // left committed rows old + 0 under-counted forever); the tbl=0
      // slice is scanned for the anti-join anyway, and the same
      // derivation serves legacy metas for free
      val newTotal = baseCount + appended
      import spark.implicits._
      Seq((nBits, nTables, newTotal)).toDF("n_bits", "n_tables", "n_vectors")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta_next")
      val fs = fsFor(spark, path)
      val live = new org.apache.hadoop.fs.Path(s"$path/meta")
      if (fs.exists(live)) fs.delete(live, true)
      fs.rename(new org.apache.hadoop.fs.Path(s"$path/meta_next"), live)
    } finally fresh.unpersist(false)
  }

  /** Compact an appended-to buckets artifact (see compactPqIndex). */
  def compactLshIndex(spark: SparkSession, path: String): Unit =
    compactData(spark, path, "buckets", "tbl", Seq("vec_id", "tbl", "bucket"))

  /** ANN top-k via sign-random-projection LSH with multi-probe: corpus
    * vectors hash to one bucket per table; each QUERY probes its own
    * bucket and all 1-bit-flip neighbors in every table. Candidates come
    * from the (tbl, bucket) equi join; exact rescoring only on candidates.
    * Missing true neighbors is still possible (recall measured vs
    * bruteForceTopK in ExtensionsSpec) — the price of never
    * materializing Q×N. */
  def lshTopK(spark: SparkSession, dir: String, index: Option[LshIndex] = None): DataFrame = {
    val raw = emb(spark, dir)
    val idx = index.getOrElse(buildLshIndex(spark, dir))
    val nBits = idx.nBits
    // candidate generation is ID-ONLY (the pattern measured in Dedup's
    // bucketed path: wide vectors through the bucket join cost 9.6 s vs
    // 1.6 s at sf0.1): the (tbl, bucket) fan-out carries ids only;
    // vectors join back by id AFTER the dedup, so each vector crosses the
    // shuffle once per surviving candidate pair, not once per probe hit —
    // the shape that holds when the query set is no longer 20 rows
    // packed long (tbl, bucket) key (r10): bijective, so the candidate
    // set is EXACTLY the (tbl, bucket) string join's — see bucketKey
    val q = idx.buckets.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"),
        explode(probeKeys(bucketKey(col("tbl"), col("bucket"), nBits), nBits)).as("bk"))
    val n = idx.buckets.select(col("vec_id").as("nbr_id"),
      bucketKey(col("tbl"), col("bucket"), nBits).as("bk"))
    val cand = q.join(n, Seq("bk"))
      .filter(col("q_id") =!= col("nbr_id"))
      .select("q_id", "nbr_id")
      .dropDuplicates("q_id", "nbr_id")
    val vecs = raw.select(col("vec_id"), col("v"))
    exactRerank(cand, vecs)
  }

  /** The candidate → exact-top-k tail every index family serves through:
    * join the float vectors back by id, exact dot, round-6 rank window
    * with nbr_id tiebreak, keep ranks ≤ TopK, round-4 output, total
    * order. Every family's output shape AND every per-family oracle
    * depends on this ONE contract — it had drifted into four verbatim
    * copies before r9 (review find); a tiebreak or rounding change now
    * edits one place. */
  private def exactRerank(cand: DataFrame, vecs: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(round(col("cs"), 6).desc, col("nbr_id"))
    cand
      .join(vecs.select(col("vec_id").as("q_id"), col("v").as("vq")), Seq("q_id"))
      .join(vecs.select(col("vec_id").as("nbr_id"), col("v").as("vn")), Seq("nbr_id"))
      .withColumn("cs", dot(col("vq"), col("vn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("nbr_id"), col("rank"), round(col("cs"), 4).as("cs"))
      .orderBy("q_id", "rank")
  }

  /** IVF index artifact: coarse-quantizer centroids + per-vector cell
    * assignments. Built ONCE (fit on the corpus or a sample) and reused /
    * persisted — queries never re-fit the quantizer, mirroring
    * minhashSignatures' computed-once contract. At 100 TB: fit KMeans on
    * a small sample, write `assignments` partitioned by cell, broadcast
    * the (tiny) centroid table. */
  final case class IvfIndex(centroids: Array[Array[Double]], assignments: DataFrame)

  /** √N default for the coarse-quantizer size (the standard IVF scaling:
    * cells and cell sizes both grow as √N, so probe cost and within-cell
    * rescoring stay balanced as the corpus grows), floored at 16 (the
    * sweep-tuned small-corpus operating point). */
  def defaultNClusters(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Sample fraction for the quantizer fit: ~200 points per centroid is
    * plenty for a stable coarse quantizer — at 100 TB the fit must NOT
    * scan the corpus (k = √N ⇒ fraction ≈ 200/√N → 0). */
  def defaultFitFraction(n: Long, k: Int): Double =
    math.min(1.0, 200.0 * k / math.max(1L, n).toDouble)

  /** Fit the coarse quantizer (optionally on a sample) and assign every
    * corpus vector to its nearest cell. nClusters/sampleFraction ≤ 0 pick
    * the √N defaults above. */
  def buildIvfIndex(spark: SparkSession, dir: String, nClusters: Int = 0,
      sampleFraction: Double = 0.0): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = emb(spark, dir).withColumn("fv", array_to_vector(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = e.count()
    val k = if (nClusters > 0) nClusters else defaultNClusters(n)
    val frac = if (sampleFraction > 0) sampleFraction else defaultFitFraction(n, k)
    val fitOn = if (frac >= 1.0) e else e.sample(frac, 42L)
    val km = new KMeans().setK(k).setSeed(42L).setFeaturesCol("fv")
      .setPredictionCol("cell").fit(fitOn)
    // materialize the assignments, then release the fit-time frame: the
    // index must not keep the raw-embedding scan pinned for its lifetime
    val assigned = km.transform(e).select(col("vec_id"), col("v"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    e.unpersist(false)
    IvfIndex(km.clusterCenters.map(_.toArray), assigned)
  }

  /** Persist the index: assignments as cell-partitioned parquet (cell
    * pruning at query time), centroids as a tiny parquet table. Versioned
    * like the PQ codes artifact (see the manifest-commit block below). */
  def saveIvfIndex(idx: IvfIndex, path: String): Unit = {
    idx.assignments.write.mode("overwrite").partitionBy("cell").parquet(s"$path/assignments_v0")
    val spark = idx.assignments.sparkSession
    commitDataManifest(spark, path, "assignments", "assignments_v0")
    import spark.implicits._
    idx.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val cents = spark.read.parquet(s"$path/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    IvfIndex(cents, spark.read.parquet(dataLocation(spark, path, "assignments"))
      .select(col("vec_id"), col("v"), col("cell")))
  }

  /** Assign NEW vectors to their nearest existing cell — append-without-
    * refit for the IVF artifact: the centroids are frozen (broadcast),
    * so appended assignments are identical to what a rebuild against the
    * same quantizer would produce. */
  def assignForAppend(spark: SparkSession, vecs: DataFrame, idx: IvfIndex): DataFrame = {
    val cellUdf = cellProbeUdf(spark, idx.centroids, 1)
    vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), element_at(cellUdf(col("v")), 1).as("cell"))
  }

  /** Append assignment rows (assignForAppend output) to a persisted IVF
    * index — new cell-partitioned files beside the existing ones.
    * Idempotent on vec_id, like [[appendToLshIndex]]: a retried append
    * (parquet append is not atomic) would otherwise duplicate index rows,
    * and the cell join then emits the same neighbor at two ranks —
    * evicting true top-k rows. The membership probe broadcasts the BATCH
    * ids against the artifact's id column; nothing corpus-sized
    * shuffles. */
  def appendToIvfIndex(path: String, newAssignments: DataFrame): Unit = {
    val spark = newAssignments.sparkSession
    val existing = spark.read.parquet(dataLocation(spark, path, "assignments"))
      .select("vec_id")
    val dup = existing.join(
      broadcast(newAssignments.select("vec_id").distinct()), Seq("vec_id"), "left_semi")
    newAssignments.select(col("vec_id"), col("v"), col("cell"))
      .join(broadcast(dup), Seq("vec_id"), "left_anti")
      .write.mode("append").partitionBy("cell")
      .parquet(dataLocation(spark, path, "assignments"))
  }

  /** Compact an appended-to assignments artifact (see compactPqIndex). */
  def compactIvfIndex(spark: SparkSession, path: String): Unit =
    compactData(spark, path, "assignments", "cell", Seq("vec_id", "v", "cell"))

  /** The memoized (session, corpus, k) IVF index — the accessor every
    * consumer outside this object must use: a direct [[buildIvfIndex]]
    * call re-runs the corpus count + sampled KMeans fit AND stacks a
    * fresh persisted assignments frame per invocation (r9 review find:
    * SemDedup's end-to-end path did exactly that). Queries and benches
    * hitting the same corpus share one fitted quantizer; its
    * assignments are released by [[ArtifactCaches]]. */
  def ivfIndexFor(spark: SparkSession, dir: String, nClusters: Int = 0): IvfIndex =
    PersistSlots.memo(spark, s"ivf:$dir:$nClusters")(buildIvfIndex(spark, dir, nClusters))

  /** Per-row probe list: the `nProbe` nearest coarse centroids. The
    * centroid table is broadcast-scale by construction (√N rows), so the
    * nearest-cell scan is a tight loop over a broadcast array. */
  private def cellProbeUdf(spark: SparkSession, centroids: Array[Array[Double]],
      nProbe: Int): Column => Column = {
    val centB = spark.sparkContext.broadcast(centroids)
    val u = org.apache.spark.sql.functions.udf { (v: Seq[Double]) =>
      centB.value.zipWithIndex.map { case (c, i) =>
        var s = 0.0; var j = 0
        while (j < c.length) { s += (c(j) - v(j)) * (c(j) - v(j)); j += 1 }
        (i, s)
      }.sortBy(_._2).take(nProbe).map(_._1)
    }
    u.apply(_)
  }

  /** ANN via IVF (inverted-file index): the coarse quantizer assigns every
    * vector to a cell; queries probe only the `nProbe` nearest cells and
    * rescore exactly. The scale path when LSH bucket tuning is awkward:
    * the index is a tiny broadcastable centroid table + an equi join on
    * cluster id — shuffle on a uniform key. */
  // nClusters ≤ 0 → √N cells (sampled fit, see buildIvfIndex); nProbe ≤ 0
  // → 3/8 of the cells, the ratio the AnnEval sweep tuned at sf0.1
  // (k=16/probe=6: recall 0.75 at 2.6s vs 0.60 at probe=4). The fraction
  // is the recall knob; the scan cost per query is nProbe/k of the corpus.
  // deepProbes doubles the probed fraction to 3/4 of the cells — the
  // probe-enough operating point whose top-1 slice carries a full
  // equality oracle (mirrors lshTopK's 2-bit-probe story in Dedup).
  def ivfTopK(spark: SparkSession, dir: String, nClusters: Int = 0, nProbe: Int = 0,
      index: Option[IvfIndex] = None, deepProbes: Boolean = false): DataFrame = {
    val idx = index.getOrElse(ivfIndexFor(spark, dir, nClusters))
    val nProbeEff =
      if (nProbe > 0) nProbe
      else math.max(1, math.ceil(idx.centroids.length * (if (deepProbes) 12.0 else 6.0) / 16).toInt)
    val assigned = idx.assignments
    val probeUdf = cellProbeUdf(spark, idx.centroids, nProbeEff)
    // id-only candidate generation (same rationale as lshTopK): the cell
    // fan-out ships (q_id, nbr_id); vectors join back post-dedup
    val q = assigned.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), explode(probeUdf(col("v"))).as("cell"))

    val n = assigned.select(col("vec_id").as("nbr_id"), col("cell"))
    val cand = q.join(n, Seq("cell"))
      .filter(col("q_id") =!= col("nbr_id"))
      .select("q_id", "nbr_id")
      .dropDuplicates("q_id", "nbr_id")
    val vecs = assigned.select(col("vec_id"), col("v"))
    exactRerank(cand, vecs)
  }

  // ---------------------------------------------------------------------
  // Two-level coarse quantizer: at 100 TB the cell count is √N ~ 10⁵ and
  // the flat nearest-cell scan per query row (k distance evaluations)
  // stops being trivial; quantizing the CENTROID TABLE itself (k₂ = √k
  // super-cells) cuts the per-query probe cost to √k + members — the
  // standard hierarchical-IVF move. The centroid table lives on the
  // driver by construction, so the second-level fit is a driver-side
  // Lloyd's loop, not a Spark job.
  // ---------------------------------------------------------------------

  /** Second-level quantizer over the cell centroids: super-centroids plus
    * each cell's super assignment. Deterministic (strided init, fixed
    * iteration count). */
  final case class IvfHierarchy(superCentroids: Array[Array[Double]], cellSuper: Array[Int])

  private def nearestIdx(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue; var i = 0
    while (i < cents.length) {
      var s = 0.0; var j = 0
      val c = cents(i)
      while (j < c.length) { val d = c(j) - v(j); s += d * d; j += 1 }
      if (s < bestD) { bestD = s; best = i }
      i += 1
    }
    best
  }

  /** Supers to probe: enough that the member-cell POOL covers ~2× the
    * cells the flat probe selects, so the CELL-level ranking — not the
    * super-cell boundary — decides the final probe set. Assuming balanced
    * supers (k/k2 member cells each), s = ceil(2·nProbe·k2/k). The fixed
    * 6/16-of-supers default was the scale trap the 10× evidence run
    * measured (recall 0.917 flat → 0.767 ivf2): at 10× the pool barely
    * exceeded nProbe, so "cells of the nearest supers" silently replaced
    * "nearest cells" — exactly the miss mode that grows with the corpus.
    * k and k2 both follow √-scaling (√N cells, √k supers), so the
    * covered-super FRACTION this yields is scale-stable. */
  def defaultNSupers(k: Int, k2: Int, nProbe: Int): Int =
    math.min(k2, math.max(1, math.ceil(2.0 * nProbe * k2 / math.max(1, k).toDouble).toInt))

  def buildHierarchy(centroids: Array[Array[Double]], k2: Int = 0): IvfHierarchy = {
    val k = centroids.length
    val kk = math.min(k, if (k2 > 0) k2 else math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt))
    val dim = centroids.head.length
    var cents = Array.tabulate(kk)(i => centroids(((i.toLong * k) / kk).toInt).clone())
    var assign = Array.fill(k)(0)
    for (_ <- 0 until 25) {
      assign = centroids.map(nearestIdx(cents, _))
      cents = Array.tabulate(kk) { j =>
        val members = assign.indices.filter(assign(_) == j)
        if (members.isEmpty) cents(j) // keep an empty super where it was
        else {
          val m = Array.fill(dim)(0.0)
          members.foreach { i => var d = 0; while (d < dim) { m(d) += centroids(i)(d); d += 1 } }
          m.map(_ / members.size)
        }
      }
    }
    IvfHierarchy(cents, centroids.map(nearestIdx(cents, _)))
  }

  /** Per-row hierarchical probe list: scan the k₂ super-centroids, take
    * the nearest `nSupers`, then rank only their member cells and take
    * `nProbe` — O(√k + members) instead of O(k) per query row. */
  private def hierProbeUdf(spark: SparkSession, centroids: Array[Array[Double]],
      hier: IvfHierarchy, nSupers: Int, nProbe: Int): Column => Column = {
    val centB = spark.sparkContext.broadcast(centroids)
    val hierB = spark.sparkContext.broadcast(hier)
    val u = org.apache.spark.sql.functions.udf { (v: Seq[Double]) =>
      val va = v.toArray
      val h = hierB.value
      val supers = h.superCentroids.zipWithIndex.map { case (c, i) =>
        var s = 0.0; var j = 0
        while (j < c.length) { val d = c(j) - va(j); s += d * d; j += 1 }
        (i, s)
      }.sortBy(_._2).take(nSupers).map(_._1).toSet
      val cents = centB.value
      cents.indices.filter(i => supers.contains(h.cellSuper(i))).map { i =>
        val c = cents(i)
        var s = 0.0; var j = 0
        while (j < c.length) { val d = c(j) - va(j); s += d * d; j += 1 }
        (i, s)
      }.sortBy(_._2).take(nProbe).map(_._1)
    }
    u.apply(_)
  }

  /** ANN via two-level IVF: same cell join and exact rescoring as
    * ivfTopK, but the probe list comes from the super-cell hierarchy.
    * deepProbes probes 3/4 of the supers and 3/4 of the cells — the
    * probe-enough operating point whose top-1 slice carries a full
    * equality oracle (ann_ivf2_top1), proving the hierarchy loses
    * nothing where it claims exactness. */
  def ivf2TopK(spark: SparkSession, dir: String, nClusters: Int = 0,
      index: Option[IvfIndex] = None, deepProbes: Boolean = false): DataFrame = {
    val idx = index.getOrElse(ivfIndexFor(spark, dir, nClusters))
    // the super-cell hierarchy is a pure function of the cached
    // centroids, but 25 driver-side Lloyd iterations over k centroids is
    // real serial compute at the 10⁵-cell scale the operator targets —
    // memoized beside the index it derives from (r9 review find: it was
    // rebuilt on EVERY invocation)
    val hier = // a caller-supplied index must not share the keyed cache
      if (index.isDefined) buildHierarchy(idx.centroids)
      else PersistSlots.memo(spark, s"ivf-hier:$dir:$nClusters")(buildHierarchy(idx.centroids))
    val k2 = hier.superCentroids.length
    val nProbeEff = math.max(1,
      math.ceil(idx.centroids.length * (if (deepProbes) 12.0 else 6.0) / 16).toInt)
    val nSupers = defaultNSupers(idx.centroids.length, k2, nProbeEff)
    val probeUdf = hierProbeUdf(spark, idx.centroids, hier, nSupers, nProbeEff)
    val assigned = idx.assignments
    val q = assigned.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), explode(probeUdf(col("v"))).as("cell"))
    val n = assigned.select(col("vec_id").as("nbr_id"), col("cell"))
    val cand = q.join(n, Seq("cell"))
      .filter(col("q_id") =!= col("nbr_id"))
      .select("q_id", "nbr_id")
      .dropDuplicates("q_id", "nbr_id")
    val vecs = assigned.select(col("vec_id"), col("v"))
    exactRerank(cand, vecs)
  }

  // ---------------------------------------------------------------------
  // PCA dim-reduction shortlist (the FAISS "PCAR,..." pre-transform
  // pattern from the public index-factory vocabulary): project the
  // corpus onto the top-PcaDims eigenvectors of its second moment,
  // shortlist by reduced-space inner product (PcaDims/Dim of the scan
  // bandwidth), then re-rank the shortlist exactly on full vectors.
  // Orthonormal rows ⇒ the reduced dot is the true dot restricted to
  // the kept eigenspace; the error is exactly the discarded eigenmass,
  // which the exact re-rank absorbs. Composes with IVF (reduce, then
  // cluster) — standalone here to carry its own equality-oracle slice.
  // ---------------------------------------------------------------------

  /** Kept dimensions: half the space. On this corpus's fairly flat
    * spectrum that is ~0.65 of the eigenmass — the honest operating
    * point for a bandwidth-halving transform (a spikier real-embedding
    * spectrum keeps more at the same dims). */
  val PcaDims = 32

  /** Top-`dims` eigenvectors (rows, unit) of the sampled second moment.
    * Same fit discipline as OPQ: the driver sees one d×d matrix from a
    * treeAggregate over a bounded sample — never rows. Second moment,
    * not centered covariance: the served score is a raw inner product
    * and x' = R(x−μ) would not preserve it. Per-eigenvector sign and
    * degenerate-subspace basis are not pinned — reduced inner products
    * are invariant to both, so the shortlist is stable. */
  private[operators] def pcaRotation(spark: SparkSession, dir: String, dims: Int): Array[Array[Double]] =
    pcaFit(spark, dir, dims)._1

  /** d×d second moment Σ v·vᵀ of a vector RDD via treeAggregate — d²
    * state per partition, map-side summed; the driver sees ONE matrix,
    * never rows. Shared by the PCA fit and the OPQ rotation fit (the two
    * blocks had drifted into verbatim copies — r9 review find). */
  private def secondMoment(rows: org.apache.spark.rdd.RDD[Array[Double]],
      d: Int): Array[Array[Double]] =
    rows.treeAggregate(Array.ofDim[Double](d, d))(
      (acc, v) => {
        var i = 0
        while (i < d) {
          val vi = v(i); val row = acc(i); var j = 0
          while (j < d) { row(j) += vi * v(j); j += 1 }
          i += 1
        }
        acc
      },
      (a, b) => {
        var i = 0
        while (i < d) {
          var j = 0
          while (j < d) { a(i)(j) += b(i)(j); j += 1 }
          i += 1
        }
        a
      })

  /** (rotation, corpus size) — one fit job per (session, dir, dims); the
    * count rides along so serving never pays a counting job (the
    * withBuckets lesson). */
  private def pcaFit(spark: SparkSession, dir: String, dims: Int): (Array[Array[Double]], Long) =
    PersistSlots.memo(spark, s"pca:$dir:$dims") {
      val e = emb(spark, dir)
      val n = e.count()
      val frac = math.min(1.0, 8192.0 / math.max(1L, n).toDouble)
      val fitOn = if (frac >= 1.0) e else e.sample(frac, 42L)
      val sm = secondMoment(fitOn.select("v").rdd.map(_.getSeq[Double](0).toArray), Dim)
      val (evals, evecs) = graft.functions.JacobiEig.decompose(sm)
      (evals.indices.sortBy(i => -evals(i)).take(dims).map(evecs).toArray, n)
    }

  /** Projection v ↦ Rv as a broadcast tight loop. */
  private def projectUdf(spark: SparkSession,
      r: Array[Array[Double]]): Column => Column = {
    val rb = spark.sparkContext.broadcast(r)
    val u = org.apache.spark.sql.functions.udf { (v: Seq[Double]) =>
      val rr = rb.value
      val out = new Array[Double](rr.length)
      var i = 0
      while (i < rr.length) {
        val row = rr(i); var s = 0.0; var j = 0
        while (j < row.length) { s += row(j) * v(j); j += 1 }
        out(i) = s; i += 1
      }
      out
    }
    u.apply(_)
  }

  /** ANN via PCA shortlist + exact re-rank. The projected corpus is the
    * persisted artifact (PcaDims doubles per vector — at 10¹⁰ vectors
    * the reduced scan reads half the bytes of the full one; production
    * stacks this UNDER the IVF/PQ families rather than serving alone).
    * deepShortlist widens the re-rank window 48 → 192 — the probe-enough
    * operating point whose top-1 slice carries a full equality oracle
    * (mirrors ann_ivf_top1: discarding 0.35 of the eigenmass must not
    * lose the true nearest neighbor behind a 192-deep reduced rank). */
  def pcaTopK(spark: SparkSession, dir: String, dims: Int = PcaDims,
      deepShortlist: Boolean = false): DataFrame = {
    val (rot, n) = pcaFit(spark, dir, dims)
    val proj = projectUdf(spark, rot)
    val e = emb(spark, dir)
    val p = PersistSlots.cached(spark, s"pca-proj:$dir:$dims")(
      e.select(col("vec_id"), proj(col("v")).as("p")))
    // corpus-scaled re-rank window (the lshBitsFor lesson applied before
    // it bites): rank-by-projection quality is a FRACTION-of-corpus
    // property — a fixed window silently shrinks to nothing as N grows
    // (measured at 10×: fixed 48 → recall 0.617; the 1%/4% floors below
    // restore the operating point while staying ≪ the corpus scan). The
    // corpus size rides the fit cache — no counting job at serve time.
    val shortlist =
      if (deepShortlist) math.max(192L, n / 25).toInt
      else math.max(48L, n / 100).toInt
    val q = p.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("p").as("pq"))
    val wRed = Window.partitionBy("q_id").orderBy(col("red").desc, col("nbr_id"))
    val cand = broadcast(q)
      .join(p.select(col("vec_id").as("nbr_id"), col("p").as("pn")),
        col("q_id") =!= col("nbr_id"))
      .withColumn("red", dot(col("pq"), col("pn")))
      .withColumn("srank", row_number().over(wRed))
      .filter(col("srank") <= shortlist)
      .select("q_id", "nbr_id")
    val vecs = e.select(col("vec_id"), col("v"))
    exactRerank(cand, vecs)
  }

  // ---------------------------------------------------------------------
  // Product quantization (IVF-PQ): the 100 TB memory/shuffle story.
  //
  // The 64-dim space is split into PqM orthogonal 8-dim subspaces, each
  // with its own K-centroid codebook (K ≤ 256 so a code is one byte). A
  // corpus vector compresses to PqM bytes — 8 bytes instead of 512 for
  // the double array — and candidate scoring (ADC: asymmetric distance
  // computation) needs only the codes plus the query vector: the inner
  // product decomposes over subspaces,
  //   <q, x> ≈ Σ_m <q_m, c_m[code_m(x)]>,
  // so the full corpus vectors are touched ONLY by the final exact
  // re-rank over the top `rerank` ADC survivors per query. At 100 TB
  // that is the difference between shuffling the corpus and shuffling
  // 8-byte codes.
  // ---------------------------------------------------------------------

  /** Subspace count: 64 dims → 8 subspaces × 8 dims. */
  val PqM = 8

  /** Per-subspace codebook size: the standard 256 (byte codes), scaled
    * down for small corpora so the fit has ≥8 points per centroid. */
  def defaultPqK(n: Long): Int =
    math.min(256, math.max(8, (n / 8).toInt))

  /** PQ codebook: centroids(m)(k) is the k-th centroid of subspace m
    * (dsub doubles each). Fit once on a sample, broadcast everywhere.
    * `residual` marks an IVFADC codebook (Jégou et al., TPAMI 2011): the
    * quantized quantity is v − centroid[cell], not v — residuals have a
    * fraction of the raw norm, so the same K centroids per subspace spend
    * their resolution on a much smaller ball (lower quantization error at
    * identical 8-byte code size). One codebook is shared across all cells
    * (the classic IVFADC choice: per-cell codebooks would be k× the
    * broadcast state for marginal gain at √N cells). */
  final case class PqCodebook(dsub: Int, centroids: Array[Array[Array[Double]]],
      residual: Boolean = false, rotation: Option[Array[Array[Double]]] = None)

  /** Parametric OPQ rotation (Ge et al., CVPR 2013, "Optimized Product
    * Quantization", the eigenvalue-allocation solution): eigendecompose
    * the data's second-moment matrix and deal eigenvectors to the M
    * subspaces so each subspace receives (as near as greedily possible)
    * equal variance PRODUCT — the independence+balance condition that
    * minimizes quantization distortion under the Gaussian model. The
    * returned R (rows = allocated eigenvectors) is orthonormal, so
    * <Rq, Rx> = <q, x>: rotating both sides preserves every inner product
    * the ADC path estimates, while decorrelating the coordinates each
    * subspace codebook has to cover.
    *
    * Second moment, not centered covariance: ANN here scores raw inner
    * products, and x' = R(x − μ) would NOT preserve them. */
  private[graft] def opqRotation(secondMoment: Array[Array[Double]], m: Int): Array[Array[Double]] = {
    val d = secondMoment.length
    val dsub = d / m
    val (evals, evecs) = graft.functions.JacobiEig.decompose(secondMoment)
    val order = evals.indices.sortBy(i => -evals(i))
    // greedy eigenvalue allocation: next-largest eigenvalue goes to the
    // non-full subspace with the smallest log-product so far. Logs are
    // CENTERED to zero mean first — comparing raw partial products across
    // buckets with different fill counts is scale-sensitive (with all
    // eigenvalues < 1 the empty product 1.0 dominates every partial
    // product and the greedy degenerates to the natural-order split);
    // centering makes the comparison scale-free without changing which
    // allocation balances the true products
    val logs = evals.map(e => math.log(math.max(e, 1e-12)))
    val meanLog = logs.sum / d
    val logProd = Array.fill(m)(0.0)
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    for (i <- order) {
      val b = (0 until m).filter(buckets(_).size < dsub).minBy(b => (logProd(b), b))
      buckets(b) += i
      logProd(b) += logs(i) - meanLog
    }
    buckets.flatMap(_.map(evecs)).toArray
  }

  private def rotate(r: Array[Array[Double]], v: Seq[Double]): Array[Double] =
    Array.tabulate(r.length) { i =>
      val row = r(i); var s = 0.0; var j = 0
      while (j < row.length) { s += row(j) * v(j); j += 1 }
      s
    }

  /** PQ index artifact: the codebook plus per-vector byte codes (with the
    * coarse IVF cell, so probing and ADC run off this one frame). */
  final case class PqIndex(codebook: PqCodebook, codes: DataFrame)

  /** Fit per-subspace KMeans codebooks (on a sample — the fit must never
    * scan the corpus, same contract as buildIvfIndex) and encode every
    * corpus vector to PqM byte codes. `residual = true` builds the IVFADC
    * variant: codebooks are fit on (and codes encode) v − centroid[cell]
    * instead of v, against the coarse quantizer in `ivf`. */
  def buildPqIndex(spark: SparkSession, dir: String, ivf: IvfIndex,
      k: Int = 0, residual: Boolean = false, opq: Boolean = false): PqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val assigned = ivf.assignments
    val n = assigned.count()
    val kEff = if (k > 0) k else defaultPqK(n)
    val dsub = Dim / PqM
    // rv: the quantized quantity — raw vector, or coarse residual (IVFADC)
    val withRv =
      if (!residual) assigned.withColumn("rv", col("v"))
      else assigned.withColumn("rv",
        residualUdf(spark, ivf.centroids)(col("v"), col("cell")))
    val frac = math.min(1.0, 200.0 * kEff / math.max(1L, n).toDouble)
    val fitOn = (if (frac >= 1.0) withRv else withRv.sample(frac, 42L))
      .select(col("rv")).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // OPQ: second moment of the fit sample via treeAggregate (d² state per
    // partition, map-side summed — the driver sees one 64×64 matrix, never
    // rows), eigensolve + eigenvalue allocation on the driver
    val rotation =
      if (!opq) None
      else Some(opqRotation(
        secondMoment(fitOn.rdd.map(_.getSeq[Double](0).toArray), Dim), PqM))
    // codebooks are fit in the ROTATED space when OPQ is on (the encoder
    // rotates before table lookup, so fit input and encode input agree)
    val fitInput = rotation match {
      case None => fitOn
      case Some(r) =>
        val rB = spark.sparkContext.broadcast(r)
        val rotU = org.apache.spark.sql.functions.udf((v: Seq[Double]) => rotate(rB.value, v))
        fitOn.select(rotU(col("rv")).as("rv"))
    }
    // the PqM per-subspace fits are INDEPENDENT (disjoint column slices,
    // per-subspace seeds, persisted shared input) — run them from a small
    // thread pool so one fit's driver round-trips and stage tails overlap
    // the next fit's jobs (guide §2.6). Results are unchanged: each fit
    // is seeded and self-contained; only their wall-clock overlaps.
    // Measured at sf0.1: the sequential form made ann_opq_top1 the
    // slowest cold build of the whole query surface (~30 s, PqM KMeans
    // fits of ~100 tiny jobs each, all latency-bound).
    val codebooks = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futs = (0 until PqM).map { m =>
          scala.concurrent.Future {
            val sub = fitInput.select(
              array_to_vector(slice(col("rv"), m * dsub + 1, dsub)).as("fv"))
            new KMeans().setK(kEff).setSeed(42L + m).setFeaturesCol("fv")
              .fit(sub).clusterCenters.map(_.toArray)
          }
        }
        futs.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf)).toArray
      } finally pool.shutdown()
    }
    fitOn.unpersist(false)
    val cb = PqCodebook(dsub, codebooks, residual, rotation)
    val codes = withRv
      .select(col("vec_id"), col("cell"), pqEncodeUdf(spark, cb)(col("rv")).as("code"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    codes.count()
    PqIndex(cb, codes)
  }

  /** Row-wise coarse residual: v − centroid[cell], against a broadcast
    * centroid table. Stateless — the same code serves batch encode and
    * stream appends. */
  private def residualUdf(spark: SparkSession,
      centroids: Array[Array[Double]]): (Column, Column) => Column = {
    val centB = spark.sparkContext.broadcast(centroids)
    val u = org.apache.spark.sql.functions.udf { (v: Seq[Double], cell: Int) =>
      val c = centB.value(cell)
      Array.tabulate(v.length)(j => v(j) - c(j))
    }
    (v, cell) => u(v, cell)
  }

  /** Per-row PQ encoder against a fixed codebook; strict < keeps the
    * lowest index on ties so encoding is deterministic across runs and
    * executors. Row-wise and stateless — usable on static frames and
    * streams alike. */
  private def pqEncodeUdf(spark: SparkSession, cb: PqCodebook): Column => Column = {
    val cbB = spark.sparkContext.broadcast(cb)
    val u = org.apache.spark.sql.functions.udf { (raw: Seq[Double]) =>
      val c = cbB.value
      // OPQ codebooks live in the rotated space: rotate first, then quantize
      val v: IndexedSeq[Double] = c.rotation match {
        case Some(r) => rotate(r, raw)
        case None => raw.toIndexedSeq
      }
      Array.tabulate(PqM) { m =>
        val cents = c.centroids(m)
        var best = 0; var bestD = Double.MaxValue; var ki = 0
        while (ki < cents.length) {
          var s = 0.0; var j = 0
          while (j < c.dsub) {
            val d = cents(ki)(j) - v(m * c.dsub + j); s += d * d; j += 1
          }
          if (s < bestD) { bestD = s; best = ki }
          ki += 1
        }
        best.toByte
      }
    }
    u.apply(_)
  }

  /** Index APPEND path: assign NEW vectors to their coarse cell (nearest
    * centroid by L2 — exactly the quantizer's prediction rule) and
    * PQ-encode them against the live codebook, WITHOUT re-fitting
    * anything. Row-wise and stateless, so the same code runs on a static
    * frame or a stream in append mode — the shape that keeps a 100 TB
    * serving index fresh between offline quantizer re-fits (re-fitting
    * is a cadence decision; appending must never require it). Input
    * needs (vec_id, embedding); output is (vec_id, cell, code) rows,
    * union-compatible with PqIndex.codes / appendable to the
    * cell-partitioned parquet artifact. */
  def encodeForAppend(spark: SparkSession, vecs: DataFrame, idx: IvfIndex,
      pq: PqIndex): DataFrame = {
    val cellUdf = cellProbeUdf(spark, idx.centroids, 1)
    val withCell = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), element_at(cellUdf(col("v")), 1).as("cell"), col("v"))
    val encodee =
      if (pq.codebook.residual) residualUdf(spark, idx.centroids)(col("v"), col("cell"))
      else col("v")
    withCell.select(col("vec_id"), col("cell"),
      pqEncodeUdf(spark, pq.codebook)(encodee).as("code"))
  }

  // --- versioned data directories + manifest commit ----------------------
  // A mutable index artifact (`codes` for PQ, `assignments` for IVF,
  // `buckets` for LSH) is never rewritten in place: each compaction writes
  // a NEW `<name>_v<N>` directory and commits it by atomically replacing
  // the one-line `<name>_manifest` file. A reader resolves the manifest at
  // load time and keeps reading its pinned version dir; the previous
  // version survives until the NEXT compaction (one-version grace), so a
  // DataFrame loaded before a compaction stays readable through it.
  // Recovery is explicit: a missing or torn manifest falls back to the
  // highest _SUCCESS-complete versioned dir, then the legacy unversioned
  // layout.

  private def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readDataManifest(fs: org.apache.hadoop.fs.FileSystem,
      path: String, name: String): Option[String] = {
    val mf = new org.apache.hadoop.fs.Path(s"$path/${name}_manifest")
    if (!fs.exists(mf)) None
    else {
      val in = fs.open(mf)
      try {
        val line = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        if (line.nonEmpty) Some(line) else None
      } finally in.close()
    }
  }

  /** Resolve the live `name` directory NAME under `path` (manifest first,
    * then crash recovery: highest complete versioned dir, then legacy). */
  private def currentDataDir(spark: SparkSession, path: String, name: String): String = {
    val fs = fsFor(spark, path)
    def complete(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d/_SUCCESS"))
    readDataManifest(fs, path, name)
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d")))
      .orElse {
        val root = new org.apache.hadoop.fs.Path(path)
        val versions =
          if (fs.exists(root))
            fs.listStatus(root).toSeq.map(_.getPath.getName)
              .filter(n => n.matches(java.util.regex.Pattern.quote(name) + "_v\\d+") && complete(n))
          else Seq.empty
        if (versions.nonEmpty) Some(versions.maxBy(_.drop(name.length + 2).toInt))
        else None
      }
      .getOrElse(name)
  }

  /** The resolved live data path for an index artifact — exposed for
    * operational tooling and the compaction specs. */
  def dataLocation(spark: SparkSession, path: String, name: String): String =
    s"$path/${currentDataDir(spark, path, name)}"

  /** Atomically point the manifest at `dirName`: write a temp file, then
    * delete+rename (file rename is atomic on posix/HDFS; the tiny window
    * between delete and rename is covered by the recovery path above). */
  private def commitDataManifest(spark: SparkSession, path: String,
      name: String, dirName: String): Unit = {
    val fs = fsFor(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/${name}_manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(dirName.getBytes("UTF-8")) finally out.close()
    val mf = new org.apache.hadoop.fs.Path(s"$path/${name}_manifest")
    if (fs.exists(mf)) fs.delete(mf, false)
    fs.rename(tmp, mf)
  }

  /** Shared compaction: read the live version of `name`, one-file-per-
    * partition-value rewrite into `<name>_v<N+1>`, manifest flip, retire
    * everything but the previous version (grace) and the new one. */
  private def compactData(spark: SparkSession, path: String, name: String,
      partCol: String, cols: Seq[String]): Unit = {
    val fs = fsFor(spark, path)
    val cur = currentDataDir(spark, path, name)
    val curV = if (cur == name) 0 else cur.drop(name.length + 2).toInt
    val next = s"${name}_v${curV + 1}"
    spark.read.parquet(s"$path/$cur")
      .select(cols.map(col): _*)
      .repartition(col(partCol))
      .sortWithinPartitions("vec_id")
      .write.mode("overwrite").partitionBy(partCol).parquet(s"$path/$next")
    commitDataManifest(spark, path, name, next)
    val keep = Set(cur, next)
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
      val nm = st.getPath.getName
      if ((nm == name || nm.matches(java.util.regex.Pattern.quote(name) + "_v\\d+")) && !keep(nm))
        fs.delete(st.getPath, true)
    }
  }

  /** The resolved codes data path (PQ artifact). */
  def pqCodesLocation(spark: SparkSession, path: String): String =
    dataLocation(spark, path, "codes")

  /** Persist the PQ index: codes as cell-partitioned parquet (the 8-byte
    * rows are the ONLY per-vector state a query-serving cluster needs in
    * memory), codebook as a tiny parquet table. */
  def savePqIndex(idx: PqIndex, path: String): Unit = {
    idx.codes.write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes_v0")
    commitDataManifest(idx.codes.sparkSession, path, "codes", "codes_v0")
    val spark = idx.codes.sparkSession
    import spark.implicits._
    val cb = idx.codebook
    // rotation rows ride in the same table under sentinel m = -1
    // (k = row index, centroid = rotation row)
    val rotRows = cb.rotation.toSeq.flatMap(r =>
      r.indices.map(i => (-1, i, cb.dsub, cb.residual, r(i).toSeq)))
    ((for { m <- cb.centroids.indices; k <- cb.centroids(m).indices }
      yield (m, k, cb.dsub, cb.residual, cb.centroids(m)(k).toSeq)) ++ rotRows)
      .toDF("m", "k", "dsub", "residual", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  def loadPqIndex(spark: SparkSession, path: String): PqIndex = {
    val cbDf = spark.read.parquet(s"$path/codebook")
    val hasResidual = cbDf.columns.contains("residual")
    val rows = cbDf.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
      if (hasResidual) r.getAs[Boolean]("residual") else false,
      r.getSeq[Double](r.fieldIndex("centroid")).toArray))
    val dsub = rows.head._3
    val residual = rows.head._4
    val rotation = {
      val rr = rows.filter(_._1 == -1)
      if (rr.isEmpty) None else Some(rr.sortBy(_._2).map(_._5))
    }
    val cents = rows.filter(_._1 >= 0).groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, ks) => ks.sortBy(_._2).map(_._5) }
    PqIndex(PqCodebook(dsub, cents, residual, rotation),
      spark.read.parquet(pqCodesLocation(spark, path))
        .select(col("vec_id"), col("cell"), col("code")))
  }

  /** Append freshly-encoded rows (encodeForAppend output) to a PERSISTED
    * PQ index: new cell-partitioned parquet files land beside the
    * existing ones in the LIVE version dir — no re-fit, no rewrite of
    * existing data. The cost of this freedom is file proliferation (each
    * append adds ≥1 file per touched cell), which `compactPqIndex`
    * periodically repays. */
  def appendToPqIndex(path: String, newCodes: DataFrame): Unit = {
    // idempotent on vec_id — see appendToIvfIndex (a retried append must
    // not duplicate code rows)
    val spark = newCodes.sparkSession
    val existing = spark.read.parquet(pqCodesLocation(spark, path)).select("vec_id")
    val dup = existing.join(
      broadcast(newCodes.select("vec_id").distinct()), Seq("vec_id"), "left_semi")
    newCodes.select(col("vec_id"), col("cell"), col("code"))
      .join(broadcast(dup), Seq("vec_id"), "left_anti")
      .write.mode("append").partitionBy("cell")
      .parquet(pqCodesLocation(spark, path))
  }

  /** Compact an appended-to codes artifact back to one file per cell:
    * read the live version, hash-repartition ON the cell column (each
    * cell lands in exactly one task, so partitionBy emits exactly one
    * file per cell), write a NEW `codes_v<N+1>` dir, and commit it with
    * an atomic manifest flip. The superseded version is retained for one
    * compaction cycle (readers that loaded before the flip keep a live
    * directory to finish their lazy parquet reads from); anything older
    * is retired here. A crash at any point leaves either the old
    * manifest (new dir is an orphan the next compaction retires) or a
    * recoverable state the load path resolves. This is the maintenance
    * story for a 100 TB serving index: appends stay cheap between
    * compactions, and compaction cost is one shuffle of the (24-byte)
    * code rows, never the corpus vectors. */
  def compactPqIndex(spark: SparkSession, path: String): Unit =
    compactData(spark, path, "codes", "cell", Seq("vec_id", "cell", "code"))

  /** ANN via IVF-PQ: probe the nearest IVF cells, score candidates with
    * ADC over the byte codes (corpus vectors NOT in the join), keep the
    * top `rerank` per query, and exactly rescore only those. Output
    * schema and ordering contract match ivfTopK/bruteForceTopK.
    *
    * deepProbes probes 3/4 of the cells and doubles the re-rank window —
    * the probe-enough operating point whose top-1 slice carries a full
    * equality oracle (ann_ivfpq_top1), proving the 8-byte code path
    * loses nothing where it claims exactness. */
  def ivfPqTopK(spark: SparkSession, dir: String, nClusters: Int = 0, nProbe: Int = 0,
      rerank: Int = 0, index: Option[IvfIndex] = None, pq: Option[PqIndex] = None,
      deepProbes: Boolean = false, residual: Boolean = false,
      opq: Boolean = false): DataFrame = {
    val idx = index.getOrElse(ivfIndexFor(spark, dir, nClusters))
    // the PQ is fitted AGAINST a specific coarse quantizer: the cache key
    // must carry nClusters (r9 review find — a PQ cached at one k served
    // to another k's cell ids reads out of the cellDots arrays or
    // silently matches cells across two different quantizers), and a
    // caller-supplied index must NEVER share the keyed cache at all
    val pqi = pq.getOrElse {
      if (index.isDefined) buildPqIndex(spark, dir, idx, residual = residual, opq = opq)
      else PersistSlots.memo(spark, s"pq:$dir:$nClusters:$residual:$opq")(
        buildPqIndex(spark, dir, idx, residual = residual, opq = opq))
    }
    val nProbeEff =
      if (nProbe > 0) nProbe
      else math.max(1, math.ceil(idx.centroids.length * (if (deepProbes) 12.0 else 6.0) / 16).toInt)
    // re-rank window: the production path keeps a FIXED window (the
    // rerank join is rerank·|Q| rows, independent of corpus size — the
    // standard IVF-PQ serving shape). 64·k: the exact-rescore of 192
    // rows/query is noise absolutely, and the 10× evidence run measured
    // the recall cliff of a small window directly (window 24 → 0.583 vs
    // plain IVF 0.917 at 20k vectors — ADC-noise impostors push true
    // neighbors down as N grows). The deep-probe ORACLE path instead
    // scales the window with the corpus: measured worst true-NN ADC rank
    // 90/500 at sf0.001, 14/500 at sf0.01 (a one-off probe), so the
    // equality contract takes N/4 with ≥1.4× margin — still pruning 3/4
    // of the exact-scoring work.
    val rerankEff =
      if (rerank > 0) rerank
      else if (deepProbes) math.max(16 * TopK, (pqi.codes.count() / 4).toInt)
      else 64 * TopK
    val probeUdf = cellProbeUdf(spark, idx.centroids, nProbeEff)
    val assigned = idx.assignments
    // ADC lookup tables (Jégou et al. 2011): per query, the M×K partial
    // inner products <q_m, c_m[k]> are precomputed ONCE and broadcast —
    // the query set is the small side by contract (same contract as the
    // broadcast exact re-rank below), so this is Q·M·K doubles, not data
    // scale. Candidate scoring then needs only (q_id, code): M table
    // lookups per candidate, no vector arithmetic, no vector columns.
    val cb = pqi.codebook
    val qRows = assigned
      .filter(col("vec_id") < QuerySetSize).select(col("vec_id"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // under OPQ the codes quantize Rx, and <q, x> = <Rq, Rx>: the LUTs are
    // built from the ROTATED query; the coarse term below stays unrotated
    // (<q, centroid> is computed in the original space)
    val luts: Map[Long, Array[Array[Double]]] = qRows.map { case (id, vqRaw) =>
      val vq = cb.rotation match {
        case Some(r) => rotate(r, vqRaw)
        case None => vqRaw
      }
      id -> Array.tabulate(PqM) { m =>
        cb.centroids(m).map { cent =>
          var s = 0.0; var j = 0
          while (j < cb.dsub) { s += vq(m * cb.dsub + j) * cent(j); j += 1 }
          s
        }
      }
    }.toMap
    // IVFADC: the decomposition is <q, x> ≈ <q, centroid[cell]> + Σ_m
    // <q_m, r_m[code_m]> — the coarse term is a per-(query, cell) scalar,
    // Q·k doubles precomputed on the driver (the centroid table is already
    // driver-resident by construction). Zero rows for the raw-PQ path.
    val cellDots: Map[Long, Array[Double]] =
      if (!cb.residual) Map.empty
      else qRows.map { case (id, vq) =>
        id -> idx.centroids.map { cent =>
          var s = 0.0; var j = 0
          while (j < cent.length) { s += vq(j) * cent(j); j += 1 }
          s
        }
      }.toMap
    val lutB = spark.sparkContext.broadcast(luts)
    val cellDotB = spark.sparkContext.broadcast(cellDots)
    val isResidual = cb.residual
    val adcUdf = org.apache.spark.sql.functions.udf { (qId: Long, cell: Int, code: Array[Byte]) =>
      val lut = lutB.value(qId)
      var s = if (isResidual) cellDotB.value(qId)(cell) else 0.0
      var m = 0
      while (m < code.length) { s += lut(m)(code(m) & 0xFF); m += 1 }
      s
    }
    // query side: ids through the probe fan-out, vectors joined back by id
    // (broadcast — the query set is the small side by contract)
    val q = assigned.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), explode(probeUdf(col("v"))).as("cell"))
    val n = pqi.codes.select(col("vec_id").as("nbr_id"), col("cell"), col("code"))
    // candidates carry (q_id, nbr_id, code): the code IS the payload ADC
    // needs, 8 bytes — this join never ships a corpus vector
    val cand = q.join(n, Seq("cell"))
      .filter(col("q_id") =!= col("nbr_id"))
      .select("q_id", "nbr_id", "cell", "code")
      .dropDuplicates("q_id", "nbr_id")
    val vecs = assigned.select(col("vec_id"), col("v"))
    val qvecs = vecs.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("v").as("vq"))
    val wAdc = Window.partitionBy("q_id").orderBy(col("adc").desc, col("nbr_id"))
    val survivors = cand
      .withColumn("adc", adcUdf(col("q_id"), col("cell"), col("code")))
      // scored in place from the LUT: only (q_id, nbr_id, adc) enters
      // the ranking shuffle — 24 bytes/candidate, no vectors, no codes
      .select("q_id", "nbr_id", "adc")
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= rerankEff)
      .select("q_id", "nbr_id")
    // exact re-rank: the ONLY place full corpus vectors are joined, and
    // the input is rerank·|Q| rows, independent of corpus size
    val w = Window.partitionBy("q_id").orderBy(round(col("cs"), 6).desc, col("nbr_id"))
    survivors
      .join(broadcast(qvecs), Seq("q_id"))
      .join(vecs.select(col("vec_id").as("nbr_id"), col("v").as("vn")), Seq("nbr_id"))
      .withColumn("cs", dot(col("vq"), col("vn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("nbr_id"), col("rank"), round(col("cs"), 4).as("cs"))
      .orderBy("q_id", "rank")
  }

  /** Filtered (predicate-constrained) nearest-neighbor search: each
    * query's top-1 among ONLY the corpus vectors sharing its `label` —
    * the category-scoped / multi-tenant search every vector store ships
    * as "filtered search".
    *
    * The branch rule is the cardinality-based planner production systems
    * use (FAISS's IDSelector guidance and the Qdrant/Milvus filtered-
    * search planners make the same split): a SELECTIVE predicate
    * pre-filters and scans the filtered slice exactly — cost ∝ sel·N,
    * the filter arrives as an equi-join key (a label-partitioned corpus
    * turns it into partition pruning), and the result is exact by
    * construction; a BROAD predicate rides the IVF probe stream with the
    * filter applied post-probe, keeping index speed at the index's
    * recall (spec-gated, like every other ANN operating point).
    * Post-filtering a selective predicate is the classic failure mode —
    * k survivors after a sel-fraction filter need k/sel candidates
    * before it, so the index fan-out grows as 1/sel just to break even
    * with the exact slice scan.
    *
    * The selectivity estimate is a bounded agg (labels are categories,
    * not rows; at 100 TB this is a stats lookup, not a job) — one scalar
    * on the driver, same contract as the centroid tables. */
  def filteredSearch(spark: SparkSession, dir: String,
      selThreshold: Double = 0.3): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val q = raw.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("v").as("vq"), col("label"))
    // memoized per (session, corpus): the doc above promises "a stats
    // lookup, not a job", but the agg itself is a full corpus scan — the
    // memo makes repeated serving calls pay it once (r9 review find)
    val maxShare = PersistSlots.memo(spark, s"label-share:$dir")(
      raw.groupBy("label").agg(count(lit(1)).as("n"))
        .agg((max("n") / sum("n")).as("share")).head().getDouble(0))
    val w = Window.partitionBy("q_id").orderBy(round(col("cs"), 6).desc, col("nbr_id"))
    if (maxShare <= selThreshold) {
      // pre-filter exact: the label keys the candidate join, so each
      // query scores only its slice — no index, no recall loss
      broadcast(q)
        .join(raw.select(col("vec_id").as("nbr_id"), col("v").as("vn"), col("label")),
          Seq("label"))
        .filter(col("q_id") =!= col("nbr_id"))
        .withColumn("cs", dot(col("vq"), col("vn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1)
        .select(col("q_id"), col("label"), col("nbr_id"), round(col("cs"), 4).as("cs"))
        .orderBy("q_id")
    } else {
      // post-filter over the deep-probe IVF candidate stream: candidates
      // stay id-only through the fan-out; the label stamp joins on after
      // dedup, before the vectors
      val idx = ivfIndexFor(spark, dir, 0)
      val nProbeEff = math.max(1, math.ceil(idx.centroids.length * 12.0 / 16).toInt)
      val assigned = idx.assignments
      val probeUdf = cellProbeUdf(spark, idx.centroids, nProbeEff)
      val qp = assigned.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("q_id"), explode(probeUdf(col("v"))).as("cell"))
      val cand = qp.join(assigned.select(col("vec_id").as("nbr_id"), col("cell")), Seq("cell"))
        .filter(col("q_id") =!= col("nbr_id"))
        .select("q_id", "nbr_id")
        .dropDuplicates("q_id", "nbr_id")
      val labels = raw.select(col("vec_id"), col("label"))
      val vecs = assigned.select(col("vec_id"), col("v"))
      cand
        .join(labels.select(col("vec_id").as("q_id"), col("label").as("q_label")), Seq("q_id"))
        .join(labels.select(col("vec_id").as("nbr_id"), col("label")), Seq("nbr_id"))
        .filter(col("label") === col("q_label"))
        .join(vecs.select(col("vec_id").as("q_id"), col("v").as("vq")), Seq("q_id"))
        .join(vecs.select(col("vec_id").as("nbr_id"), col("v").as("vn")), Seq("nbr_id"))
        .withColumn("cs", dot(col("vq"), col("vn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1)
        .select(col("q_id"), col("label"), col("nbr_id"), round(col("cs"), 4).as("cs"))
        .orderBy("q_id")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_topk" -> bruteForceTopK _,
    // the fixture labels are ~10% selective, so the registered query runs
    // the pre-filter exact branch — full equality oracle; the post-filter
    // index branch is recall-spec'd in ExtensionsSpec
    "ann_filtered_top1" -> ((s: SparkSession, d: String) => filteredSearch(s, d)),
    // ann_{lsh,ivf,ivfpq,pca}_topk are registered in [[RecallGates]]
    // since r7: the top-K operating points are recall-by-design, and the
    // gate form (exported shortlist + both engines deriving recall@k vs
    // an independent exact recompute) is driver-ORACLED instead of
    // rows-only. The HIGH-CONFIDENCE slices below keep full equality
    // oracles: multi-probe LSH must return the true nearest neighbor
    // for every query (top-1 misses are what multi-probe exists to kill)
    "ann_lsh_top1" -> ((s: SparkSession, d: String) =>
      lshTopK(s, d).filter(col("rank") === 1)),
    // the IVF probe-enough slice: at 3/4 of the cells probed, the true
    // nearest neighbor must be found for every query — full equality
    // oracle against the exact top-1 (mirrors ann_lsh_top1)
    "ann_ivf_top1" -> ((s: SparkSession, d: String) =>
      ivfTopK(s, d, deepProbes = true).filter(col("rank") === 1)),
    // two-level coarse quantizer, probe-enough slice: the super-cell
    // hierarchy must lose nothing where it claims exactness — full
    // equality oracle (topk operating point is recall-spec'd only, like
    // the other families)
    "ann_ivf2_top1" -> ((s: SparkSession, d: String) =>
      ivf2TopK(s, d, deepProbes = true).filter(col("rank") === 1)),
    // the PQ probe-enough slice: deep probes + doubled re-rank window must
    // recover the true nearest neighbor for every query from 8-byte codes
    // — full equality oracle (mirrors ann_ivf_top1 / ann_lsh_top1)
    "ann_ivfpq_top1" -> ((s: SparkSession, d: String) =>
      ivfPqTopK(s, d, deepProbes = true).filter(col("rank") === 1)),
    // IVFADC (residual-encoded PQ): same deep-probe equality contract —
    // coarse-residual codes plus the per-cell ADC term must recover the
    // true nearest neighbor for every query
    "ann_ivfadc_top1" -> ((s: SparkSession, d: String) =>
      ivfPqTopK(s, d, deepProbes = true, residual = true).filter(col("rank") === 1)),
    // OPQ (rotated PQ): the eigenvalue-allocation rotation must preserve
    // the same deep-probe equality contract — rotating the space cannot
    // lose the true nearest neighbor
    "ann_opq_top1" -> ((s: SparkSession, d: String) =>
      ivfPqTopK(s, d, deepProbes = true, opq = true).filter(col("rank") === 1)),
    // PCA shortlist, probe-enough slice: the 192-deep reduced-space rank
    // must recover the true nearest neighbor for every query — full
    // equality oracle (mirrors ann_ivf_top1)
    "ann_pca_top1" -> ((s: SparkSession, d: String) =>
      pcaTopK(s, d, deepShortlist = true).filter(col("rank") === 1)),
  )

  /** The ONE brute-force exact top-1 oracle every probe-enough ANN slice
    * is gated against (seven keys map to it — the copies had to stay in
    * lockstep by hand before r9; the rounding/tiebreak contract lives
    * here and in the shared Spark-side window ONLY). */
  private val exactTop1OracleSql: String =
    """WITH scored AS (
        |SELECT a.vec_id AS q_id, b.vec_id AS nbr_id,
        |list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS cs
        |FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |WHERE a.vec_id < 20),
        |ranked AS (SELECT q_id, nbr_id, cs,
        |CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ROUND(cs,6) DESC, nbr_id) AS INTEGER) AS rank
        |FROM scored)
        |SELECT q_id, nbr_id, rank, ROUND(cs,4) AS cs FROM ranked
        |WHERE rank = 1 ORDER BY q_id""".stripMargin.replaceAll("\n", " ")

  val oracleSql: Map[String, String] = Map(
    // exact-by-construction (pre-filter branch at the fixture's ~10%
    // label selectivity): brute force within each query's label slice
    "ann_filtered_top1" ->
      """WITH scored AS (
        |SELECT a.vec_id AS q_id, a.label, b.vec_id AS nbr_id,
        |list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS cs
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
        |WHERE a.vec_id < 20),
        |ranked AS (SELECT q_id, label, nbr_id, cs,
        |ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ROUND(cs,6) DESC, nbr_id) AS rn
        |FROM scored)
        |SELECT q_id, label, nbr_id, ROUND(cs,4) AS cs FROM ranked
        |WHERE rn = 1 ORDER BY q_id""".stripMargin.replaceAll("\n", " "),
    "ann_topk" ->
      """WITH scored AS (
        |SELECT a.vec_id AS q_id, b.vec_id AS nbr_id,
        |list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS cs
        |FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |WHERE a.vec_id < 20),
        |ranked AS (SELECT q_id, nbr_id, cs,
        |CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ROUND(cs,6) DESC, nbr_id) AS INTEGER) AS rank
        |FROM scored)
        |SELECT q_id, nbr_id, rank, ROUND(cs,4) AS cs FROM ranked
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " "),
    "ann_ivf_top1" -> exactTop1OracleSql,
    "ann_lsh_top1" -> exactTop1OracleSql,
    "ann_ivf2_top1" -> exactTop1OracleSql,
    "ann_ivfpq_top1" -> exactTop1OracleSql,
    "ann_ivfadc_top1" -> exactTop1OracleSql,
    "ann_opq_top1" -> exactTop1OracleSql,
    "ann_pca_top1" -> exactTop1OracleSql,
  )
}
