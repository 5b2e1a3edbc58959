package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Bounded top-K neighbor aggregate for the margin-mining tail
  * (r10 optimization): per group, keep the K best (score, id) entries
  * under the total order (score DESC, id ASC), one per id at its highest
  * score, and emit
  *
  *   struct(top_id, top_score, avg_score over the kept entries)
  *
  * — exactly the quantities [[graft.operators.Mining]]'s mutual-top-1 +
  * ratio-margin tail needs per side: `top_id`/`top_score` are the
  * row_number()=1 pick under (score desc, id) and `avg_score` is the
  * window form `avg(when(rk ≤ K, cs)) over (partition by id)`.
  *
  * Why an aggregate and not the windows (guide §2.3 — aggregate before
  * you shuffle): a window cannot partially aggregate, so the window form
  * exchanged and SORTED the ENTIRE scored candidate stream twice
  * (partition by x_id, then by y_id — 2×20 M rows at the 10× probe,
  * 2×0.5 B at 100×). This buffer is K entries per group, updates
  * map-side, and only (group, K-entry buffer) partial rows cross the
  * exchange — the shuffle shrinks from the candidate count to the
  * distinct-ID count and both sorts disappear.
  *
  * Why a raw [[ImperativeAggregate]] over a FIXED-WIDTH buffer (the
  * HyperLogLogPlusPlus pattern), not TypedImperative and not declarative
  * expressions — both were measured at the 10× probe:
  *   - a TypedImperativeAggregate runs through ObjectHashAggregateExec,
  *     whose hash map falls back to SORT-based aggregation past 128
  *     keys (`objectHashAggregate.sortBased.fallbackThreshold`), so any
  *     real group count re-sorts and re-spills the full input map-side
  *     (2.1 GB spill) — exactly the sort this aggregate exists to
  *     remove;
  *   - the declarative form's merge (rank-select over 2K entries) blows
  *     Janino's 64 KB method limit once fused into the candidate
  *     pipeline's whole-stage codegen, and the whole stage — dot
  *     products included — fell back to interpreted (42 s vs 5 s warm).
  * Fixed-width non-null double/long buffer fields keep the planner on
  * HashAggregateExec's UnsafeFixedWidthAggregationMap (no key-count
  * fallback, spills only under real memory pressure), and the k-entry
  * insertion loop is plain compiled bytecode.
  *
  * Equivalence to the window form it replaced:
  *   - (score desc, id asc) is a TOTAL order over distinct-id entries,
  *     so the kept set equals the row_number ≤ K set, independent of
  *     encounter/merge order;
  *   - each id counts once, at the highest score it arrives with (the
  *     top-K of the per-id maximum): insert drops a kept id's worse
  *     twin and replaces a kept id's lower score; merge inserts the
  *     other buffer's entries, and an id whose maximum ranks outside its
  *     own side's top-K cannot rank in the union's. Duplicate (id, score) rows — the multi-table
  *     LSH candidate stream pre-distinct, where the same pair always
  *     scores the same — collapse to one entry, and a duplicate of an
  *     EVICTED entry loses to every survivor, so it is rejected exactly
  *     like its twin;
  *   - avg sums the kept scores in buffer (descending) order — fixed,
  *     deterministic; vs the window aggregate's summation order the
  *     drift is ulp-level on ≤ K doubles, far below the 4-decimal margin
  *     rounding (the r9 window-avg rewrite made, and the unchanged
  *     DuckDB oracle gates, the same argument).
  */
case class TopKMarginAgg(
    left: Expression,  // id: long
    right: Expression, // score: double
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ImperativeAggregate with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk_margin expects a long id column, got ${left.dataType}")
    else if (right.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk_margin expects a double score column, got ${right.dataType}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"graft_topk_margin needs k >= 1, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StructType(Seq(
    StructField("top_id", LongType, nullable = false),
    StructField("top_score", DoubleType, nullable = false),
    StructField("avg_score", DoubleType, nullable = false)))
  override def nullable: Boolean = true // empty group (never hit under groupBy)
  override def prettyName: String = "graft_topk_margin"

  /** Empty-slot sentinels: (−∞, Long.MaxValue) loses to every real entry
    * under (score desc, id asc), so sentinels sort to — and are evicted
    * from — the tail, and slot 0 is sentinel iff the group saw no rows. */
  private val NoCs = Double.NegativeInfinity
  private val NoId = Long.MaxValue

  // buffer layout: k score doubles, then k id longs (fixed width,
  // non-null — the HashAggregateExec mutable-buffer contract)
  override def aggBufferSchema: StructType =
    StructType(aggBufferAttributes.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
  override val aggBufferAttributes: Seq[AttributeReference] =
    (0 until k).map(j => AttributeReference(s"topk_c$j", DoubleType, nullable = false)()) ++
      (0 until k).map(j => AttributeReference(s"topk_i$j", LongType, nullable = false)())
  override val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  override def initialize(buf: InternalRow): Unit = {
    var j = 0
    while (j < k) {
      buf.setDouble(mutableAggBufferOffset + j, NoCs)
      buf.setLong(mutableAggBufferOffset + k + j, NoId)
      j += 1
    }
  }

  /** True iff (c1, id1) ranks strictly better than (c2, id2). */
  @inline private def better(c1: Double, id1: Long, c2: Double, id2: Long): Boolean =
    c1 > c2 || (c1 == c2 && id1 < id2)

  /** Sorted insert keeping each id once, at the highest score it arrived
    * with; sentinels (always worst) shift out. */
  private def insert(buf: InternalRow, off: Int, id: Long, c: Double): Unit = {
    // an id already kept: stop if it ranks as well, else drop it (closing
    // the gap with a sentinel at the tail) and place the better entry
    var j = 0
    while (j < k && buf.getLong(off + k + j) != id) j += 1
    if (j < k) {
      if (!better(c, id, buf.getDouble(off + j), id)) return
      while (j < k - 1) {
        buf.setDouble(off + j, buf.getDouble(off + j + 1))
        buf.setLong(off + k + j, buf.getLong(off + k + j + 1))
        j += 1
      }
      buf.setDouble(off + k - 1, NoCs)
      buf.setLong(off + k + k - 1, NoId)
    }
    // find the insertion point; below the kept range the entry is dropped
    // (an evicted id's higher score is placed like any new entry)
    var p = 0
    while (p < k && better(buf.getDouble(off + p), buf.getLong(off + k + p), c, id)) p += 1
    if (p == k) return
    // shift the tail down one slot and place the new entry
    var q = k - 1
    while (q > p) {
      buf.setDouble(off + q, buf.getDouble(off + q - 1))
      buf.setLong(off + k + q, buf.getLong(off + k + q - 1))
      q -= 1
    }
    buf.setDouble(off + p, c)
    buf.setLong(off + k + p, id)
  }

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val idV = left.eval(input)
    val csV = right.eval(input)
    if (idV != null && csV != null)
      insert(buf, mutableAggBufferOffset, idV.asInstanceOf[Long], csV.asInstanceOf[Double])
  }

  override def merge(buf: InternalRow, other: InternalRow): Unit = {
    var j = 0
    while (j < k) {
      val id = other.getLong(inputAggBufferOffset + k + j)
      if (id == NoId) return // sentinel: the rest of the buffer is empty
      insert(buf, mutableAggBufferOffset, id, other.getDouble(inputAggBufferOffset + j))
      j += 1
    }
  }

  override def eval(buf: InternalRow): Any = {
    if (buf.getLong(mutableAggBufferOffset + k) == NoId) return null
    var sum = 0.0
    var n = 0
    while (n < k && buf.getLong(mutableAggBufferOffset + k + n) != NoId) {
      sum += buf.getDouble(mutableAggBufferOffset + n)
      n += 1
    }
    InternalRow(buf.getLong(mutableAggBufferOffset + k),
      buf.getDouble(mutableAggBufferOffset), sum / n)
  }

  override def withNewMutableAggBufferOffset(n: Int): TopKMarginAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKMarginAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKMarginAgg =
    copy(left = newLeft, right = newRight)
}

object TopKMarginAgg {
  /** Column aggregate: struct(top_id, top_score, avg over top-k) per
    * group under (score desc, id asc). */
  def topkMargin(id: Column, score: Column, k: Int): Column =
    Bridge.column(TopKMarginAgg(
      Bridge.expression(id), Bridge.expression(score), k).toAggregateExpression())
}
