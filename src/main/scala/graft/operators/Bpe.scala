package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Byte-pair-encoding tokenizer, trained distributed (Sennrich, Haddow &
  * Birch, ACL 2016 — the algorithm behind GPT-2/RoBERTa vocabularies;
  * the brief's "token counting (BPE-ish regex)" upgraded to the real
  * learned thing).
  *
  * Scale design, which is the whole point at 100 TB:
  *   - The corpus is reduced ONCE to a (word, count) table. Every
  *     training iteration then works on the WORD VOCABULARY (Heaps' law:
  *     ~10⁶–10⁷ rows for a 10¹¹-token corpus), never the corpus itself.
  *   - One merge round = one map-side-combined pair-count aggregation
  *     over the vocab plus a distributed top-1 (orderBy.limit(1)) — no
  *     driver-side scan of the vocab, no collect of anything bigger than
  *     the single winning pair.
  *   - The winning pair applies as a narrow map; the vocab frame is
  *     re-persisted per round and the predecessor released, so lineage
  *     stays O(1) across rounds.
  *   - ENCODING with the learned merges also never touches the corpus
  *     per-token: each DISTINCT word is encoded once on the vocab table,
  *     then a broadcast join stamps the (word → n_tokens) map onto the
  *     corpus scan.
  *
  * Determinism: ties on pair count break by lexicographic pair order, so
  * the merge table is a pure function of the corpus — retries and
  * re-runs yield byte-identical vocabularies.
  */
object Bpe {

  /** End-of-word marker glued to a word's final character (the paper's
    * '</w>'): lets the learner distinguish suffix pairs from mid-word
    * pairs, and makes decode unambiguous. */
  private val Eow = "</w>"

  private def initSymbols(word: String): Seq[String] = {
    val cs = word.map(_.toString)
    if (cs.isEmpty) Seq.empty
    else cs.init :+ (cs.last + Eow)
  }

  /** Train `nMerges` BPE merges over the documents' whitespace words.
    * Returns the ordered merge table (highest-priority first).
    * `stateSink`, when set, receives each round's PRE-MERGE vocab state
    * (only for rounds that produce a merge) — the per-round states are
    * the oracle surface: round r's winning pair is the argmax of a plain
    * pair-count aggregation over state r, recomputable in any SQL
    * engine ([[exportStates]] / tx_bpe_merges). */
  def train(spark: SparkSession, dir: String, nMerges: Int = 40,
      stateSink: Option[(Int, DataFrame) => Unit] = None): Seq[(String, String)] = {
    import spark.implicits._
    // localCheckpoint (not persist): each round's vocab derives from the
    // previous one, and an un-truncated logical plan grows by one
    // map-stage per round — 40 rounds of lineage make Catalyst re-plan
    // (and AQE re-print) a plan of unbounded size. Checkpointing cuts the
    // plan at the materialized RDD, keeping every round's planning O(1).
    var vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) => (initSymbols(w), c) }
      .toDF("syms", "cnt")
      .localCheckpoint()

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      // size(syms) == 1 would make sequence(1, 0) step DOWNWARD (the
      // repetition() trap) — single-symbol words have no pairs, drop them
      val top = vocab.filter(size(col("syms")) > 1).select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))"))
          .as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("n"))
        .orderBy(desc("n"), asc("a"), asc("b"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("n") < 2L) done = true
      else {
        stateSink.foreach(f => f(round, vocab))
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        vocab = vocab.as[(Seq[String], Long)]
          .map { case (syms, c) => (mergeOnce(syms, a, b), c) }
          .toDF("syms", "cnt")
          .localCheckpoint()
      }
      round += 1
    }
    merges.toSeq
  }

  private def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Encode one word with the learned merges, in training priority order
    * (each merge applied exhaustively before the next — the reference
    * greedy-by-priority BPE apply). */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms = initSymbols(word)
    merges.foreach { case (a, b) =>
      if (syms.length > 1) syms = mergeOnce(syms, a, b)
    }
    syms
  }

  /** Session memo of trained merge tables: Verify trains once for the
    * state export and would otherwise train a SECOND full 40-round run
    * for the tx_bpe dump (~40 driver round-trips each — a material
    * share of the Verify wall). Deterministic per (dir, nMerges), so
    * memoizing is a pure dedup. Cleared with the other artifacts. */
  private def mergesKey(dir: String, nMerges: Int): String = s"bpe-merges:$dir|$nMerges"

  /** Per-document BPE token counts under a vocabulary trained on the
    * same corpus. Each DISTINCT word is encoded once; the corpus pass is
    * then a join + arithmetic. The (word → cost) side is vocab-sized —
    * Heaps-bounded but NOT bounded by a constant (hundreds of MB on a
    * 100 TB corpus), so the broadcast is SIZE-GATED: the persisted vocab's
    * own count × average width decides broadcast vs plain equi join
    * instead of an unconditional hint (the funnel/retention lesson).
    * `vocabBytesOverride` lets a spec pin either plan shape. */
  def tokenize(spark: SparkSession, dir: String, nMerges: Int = 40,
      vocabBytesOverride: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val merges = PersistSlots.memo(spark, mergesKey(dir, nMerges))(train(spark, dir, nMerges))
    val bc = spark.sparkContext.broadcast(merges)
    // slot-memoized (NOT a bare .persist(): every tokenize call would
    // pin a fresh cached copy that nothing ever unpersists)
    val wordCost = PersistSlots.cached(spark, s"bpe-wordcost:$dir|$nMerges") {
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .distinct()
        .as[String]
        .map(w => (w, encodeWord(w, bc.value).length.toLong))
        .toDF("w", "bpe_len")
    }
    val vocabBytes = vocabBytesOverride.getOrElse {
      val s = wordCost.agg(count(lit(1)), avg(length(col("w")))).collect()(0)
      val n = s.getLong(0)
      val avgW = if (s.isNullAt(1)) 8.0 else s.getDouble(1)
      // string payload + per-row object/hash-relation overhead
      (n * (avgW + 40.0)).toLong
    }
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      .stripSuffix("b").stripSuffix("B") match {
      case t if t.forall(c => c.isDigit || c == '-') => t.toLong
      case _ => 10L << 20
    }
    val costSide = if (threshold > 0 && vocabBytes <= threshold) broadcast(wordCost)
      else wordCost
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    docs.join(costSide, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("nt"),
        sum("bpe_len").cast("long").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Per-corpus export path for the per-round vocab states (hashed on
    * the corpus dir — same no-shared-path discipline as SemDedup's cell
    * export). */
  def statesExport(dir: String): String = ExportPaths.forCorpus("bpe_states", dir)

  @volatile private var exportedDir: String = "/root/testdata/sf0.01"

  /** Train once and export every round's pre-merge vocab state with its
    * round number — the shared input both engines of the tx_bpe_merges
    * oracle aggregate. Written by Verify ahead of the query dump. */
  def exportStates(spark: SparkSession, dir: String, nMerges: Int = 40): Unit = {
    exportedDir = dir
    val states = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val merges = train(spark, dir, nMerges, stateSink = Some((r, df) =>
      states += df.withColumn("round", lit(r))))
    PersistSlots.memo(spark, mergesKey(dir, nMerges))(merges) // tokenize reuses this run
    if (states.nonEmpty)
      states.reduce(_.unionByName(_)).coalesce(1)
        .write.mode("overwrite").parquet(statesExport(dir))
  }

  /** The BPE recurrence as ONE declarative query over the exported
    * states: round r's merge = argmax pair count over state r (ties by
    * lexicographic pair). Equals the sequential trainer's merge table by
    * construction (BpeSpec asserts it); the DuckDB oracle recomputes the
    * same aggregation from the same exported bytes — the iterative
    * trainer's only non-SQL part (the loop) is exactly what the export
    * unrolls. */
  def mergesFromStates(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = spark.read.parquet(statesExport(dir))
      .filter(size(col("syms")) > 1)
      .select(col("round"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))"))
        .as("p"), col("cnt"))
      .groupBy(col("round"), col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("n"))
    val w = Window.partitionBy("round").orderBy(desc("n"), asc("a"), asc("b"))
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("n") >= 2)
      .select(col("round"), col("a"), col("b"), col("n"))
      .orderBy("round")
  }

  /** Both rows oracled (r7): tx_bpe_merges recomputes the merge
    * recurrence from the exported round states; tx_bpe additionally
    * re-ENCODES every distinct word in DuckDB with a recursive CTE over
    * the merge table those same states imply — repeat-leftmost single
    * replacement per merge priority, which reaches the same fixed point
    * as [[mergeOnce]]'s one left-to-right pass (a merged symbol `ab` can
    * never itself be `a` or `b`, so no pass creates occurrences an
    * earlier position could claim) — then re-aggregates per document.
    * The only engine-derived input is the state export both engines
    * read (the ds_hll export-gate discipline); encode + per-doc sums
    * are fully independent. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_bpe" -> ((s: SparkSession, d: String) => tokenize(s, d)),
    "tx_bpe_merges" -> ((s: SparkSession, d: String) => mergesFromStates(s, d)),
  )

  /** Merge table in priority order, as a DuckDB CTE chain ending in
    * `m(a, b, k, pat, rep)` — symbols delimited by chr(31) with leading/
    * trailing sentinels so a pair pattern can never match inside a
    * longer symbol. */
  private def mergesCte(dir: String): String =
    s"""st AS (SELECT round, syms, cnt FROM '${statesExport(dir)}/*.parquet'),
      |pr AS (SELECT round, syms[i] AS a, syms[i+1] AS b, cnt
      |FROM st, LATERAL (SELECT unnest(generate_series(1, len(syms)-1)) i)
      |WHERE len(syms) > 1),
      |agg AS (SELECT round, a, b, SUM(cnt) AS n FROM pr GROUP BY 1, 2, 3),
      |best AS (SELECT round, a, b, n,
      |row_number() OVER (PARTITION BY round ORDER BY n DESC, a, b) AS rk FROM agg),
      |m AS (SELECT round, a, b, n, row_number() OVER (ORDER BY round) AS k,
      |chr(31) || a || chr(31) || b || chr(31) AS pat, chr(31) || a || b || chr(31) AS rep
      |FROM best WHERE rk = 1 AND n >= 2)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "tx_bpe_merges" ->
      s"""WITH ${mergesCte(exportedDir)}
        |SELECT round, a, b, CAST(n AS BIGINT) AS n FROM m
        |ORDER BY round""".stripMargin.replaceAll("\n", " "),
    "tx_bpe" ->
      s"""WITH RECURSIVE ${mergesCte(exportedDir)},
        |nm AS (SELECT COUNT(*) AS nmax FROM m),
        |w AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents),
        |w2 AS (SELECT word FROM w WHERE len(word) > 0),
        |enc AS (
        |SELECT word, regexp_replace(word, '(.)', chr(31) || '\\1', 'g') || '</w>' || chr(31) AS s, 1 AS k FROM w2
        |UNION ALL
        |SELECT e.word,
        |CASE WHEN instr(e.s, m.pat) > 0
        |THEN substr(e.s, 1, instr(e.s, m.pat) - 1) || m.rep || substr(e.s, instr(e.s, m.pat) + len(m.pat))
        |ELSE e.s END,
        |CASE WHEN instr(e.s, m.pat) > 0 THEN e.k ELSE e.k + 1 END
        |FROM enc e JOIN m ON m.k = e.k),
        |wc AS (SELECT word, len(s) - len(replace(s, chr(31), '')) - 1 AS bpe_len
        |FROM enc WHERE k = (SELECT nmax FROM nm) + 1),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM(bpe_len) AS BIGINT) AS bpe_tokens
        |FROM tok JOIN wc USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
  )
}
