package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** TopKMarginAgg vs the window form it replaced (r10): same top-1 pick,
  * same top-K average, under ties, duplicates, short groups and every
  * partitioning the partial/merge path can see. */
class TopKMarginAggSpec extends SparkSpec {
  import spark.implicits._

  private val K = 4

  /** The r9 window-form reference: rank by (cs desc, id asc) over
    * DISTINCT rows, top-1 row + avg of ranks ≤ K. */
  private def windowed(rows: Seq[(Long, Long, Double)]) = {
    val w = Window.partitionBy("g").orderBy(desc("cs"), col("id"))
    val wAll = Window.partitionBy("g")
    rows.toDF("g", "id", "cs").distinct()
      .withColumn("rk", row_number().over(w))
      .withColumn("a", avg(when(col("rk") <= K, col("cs"))).over(wAll))
      .filter(col("rk") === 1)
      .select(col("g"), col("id"), col("cs"), col("a"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
  }

  private def agged(rows: Seq[(Long, Long, Double)], parts: Int) = {
    rows.toDF("g", "id", "cs").repartition(parts)
      .groupBy("g").agg(TopKMarginAgg.topkMargin(col("id"), col("cs"), K).as("t"))
      .select(col("g"), col("t.top_id"), col("t.top_score"), col("t.avg_score"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
  }

  test("matches the window form: ties, duplicates, short groups, any partitioning") {
    val rows = Seq[(Long, Long, Double)](
      // group 1: more than K entries, a score tie at the top (id breaks it)
      (1L, 11L, 0.9), (1L, 10L, 0.9), (1L, 12L, 0.8), (1L, 13L, 0.7),
      (1L, 14L, 0.6), (1L, 15L, 0.5),
      // group 2: exactly one entry
      (2L, 20L, 0.4),
      // group 3: fewer than K entries, tie at the boundary
      (3L, 31L, 0.3), (3L, 30L, 0.3),
      // group 4: duplicate candidate rows (the pre-distinct LSH stream:
      // the same id re-arrives with the SAME score)
      (4L, 40L, 0.9), (4L, 40L, 0.9), (4L, 41L, 0.8), (4L, 41L, 0.8),
      (4L, 42L, 0.7), (4L, 43L, 0.6), (4L, 44L, 0.5), (4L, 44L, 0.5))
    val ref = windowed(rows)
    for (parts <- Seq(1, 3, 7)) {
      val got = agged(rows, parts)
      assert(got.keySet == ref.keySet)
      ref.foreach { case (g, (id, cs, a)) =>
        val (gid, gcs, ga) = got(g)
        assert(gid == id && gcs == cs, s"group $g top: got ($gid,$gcs), want ($id,$cs)")
        assert(math.abs(ga - a) < 1e-12, s"group $g avg: got $ga, want $a")
      }
    }
  }

  test("a duplicate of an evicted entry is rejected like its twin") {
    // K=4; 5 distinct ids, the worst one duplicated AFTER eviction is
    // possible — force orderings via single-row partitions
    val rows = Seq[(Long, Long, Double)](
      (1L, 50L, 0.1), (1L, 51L, 0.9), (1L, 52L, 0.8), (1L, 53L, 0.7),
      (1L, 54L, 0.6), (1L, 50L, 0.1))
    val ref = windowed(rows)
    for (parts <- Seq(1, 2, 6)) {
      val got = agged(rows, parts)
      assert(got(1L) == ref(1L), s"parts=$parts: got ${got(1L)}, want ${ref(1L)}")
    }
  }

  test("property: top-K of each id's highest score, vs brute force, any partitioning") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 8) {
      // few ids and a coarse score grid: ids re-arrive with higher, lower
      // and equal scores, and scores tie across ids
      val rows = Seq.fill(40 + rnd.nextInt(120))(
        (rnd.nextInt(4).toLong, rnd.nextInt(12).toLong, rnd.nextInt(10) / 10.0))
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val top = rs.groupBy(_._2).map { case (id, xs) => (id, xs.map(_._3).max) }.toSeq
          .sortBy { case (id, cs) => (-cs, id) }.take(K)
        var sum = 0.0
        top.foreach(sum += _._2)
        g -> (top.head._1, top.head._2, sum / top.size)
      }
      for (parts <- Seq(1, 3, 7)) {
        val got = agged(rnd.shuffle(rows), parts)
        assert(got == want, s"trial $trial, parts=$parts: got $got, want $want")
      }
    }
  }
}
