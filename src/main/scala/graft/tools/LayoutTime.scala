package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Layout

/** Scale evidence for the storage-layout family (the newest surface):
  * partitioned ingest, Z-order write + measured file skipping, and
  * copy-on-write MERGE cost as a function of TOUCHED partitions (with
  * and without the event_id→event_date key index), plus the streaming
  * CDC path. Point it at the ScaleUp output for the 10× rows.
  *
  * Usage: runMain graft.tools.LayoutTime <dir> [workRoot]
  */
object LayoutTime {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def partFiles(root: String): Map[String, Set[(String, Long)]] = {
    val d = new java.io.File(root)
    d.listFiles().filter(_.getName.startsWith("event_date=")).map { p =>
      p.getName -> p.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length())).toSet
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val work = args.drop(1).headOption.getOrElse("/tmp/graft_layout_time")
    val spark = Sessions.local(32)
    val table = s"$work/events_part"
    val ix = s"$work/events_idx"

    // 1. partitioned ingest
    val (_, tPart) = time(Layout.partitionEvents(spark, dir, table))
    val nParts = partFiles(table).size
    val totBytes = partFiles(table).values.flatten.map(_._2).sum
    println(f"[lt] partition_ingest $tPart%.2f s ($nParts partitions, ${totBytes / 1e6}%.1f MB)")

    // 2. MERGE: changesets touching 1 day vs 5 days — rewrite cost must
    // track the touched-partition count, not the table size
    val days = spark.read.parquet(table).select(col("event_date")).distinct()
      .orderBy("event_date").collect().map(_.getDate(0).toString)
    def changesFor(nDays: Int): DataFrame = {
      // re-read per call: each merge rewrites files under a stale listing
      val base = spark.read.parquet(table)
      val picked = days.take(nDays)
      base.filter(col("event_date").isin(picked.map(lit(_)): _*))
        .groupBy("event_date").agg(min("event_id").as("event_id"))
        .join(base.drop("event_date"), Seq("event_id"))
        .withColumn("value", col("value") + 1000.0)
        .drop("event_date")
        .localCheckpoint() // freeze before the merge rewrites the files it reads
    }
    Seq(1, 5).foreach { nDays =>
      val ch = changesFor(nDays)
      val before = partFiles(table)
      val (_, t) = time(Layout.mergeEvents(spark, table, ch))
      val after = partFiles(table)
      val rewritten = after.count { case (d, fs) => before.get(d) != Some(fs) }
      val rwBytes = after.filter { case (d, fs) => before.get(d) != Some(fs) }
        .values.flatten.map(_._2).sum
      println(f"[lt] merge_${nDays}day $t%.2f s (rewrote $rewritten/${after.size} partitions, ${rwBytes / 1e6}%.2f MB of ${totBytes / 1e6}%.1f MB)")
    }

    // 3. key-index lookup vs full-base lookup
    val (_, tIx) = time(Layout.buildKeyIndex(spark, table, ix))
    println(f"[lt] key_index_build $tIx%.2f s")
    val ch1 = changesFor(1)
    val (_, tNoIx) = time(Layout.mergeEvents(spark, table, ch1))
    val ch2 = changesFor(1)
    val (_, tWithIx) = time(Layout.mergeEvents(spark, table, ch2, keyIndex = Some(ix)))
    println(f"[lt] merge_1day_noindex $tNoIx%.2f s  merge_1day_index $tWithIx%.2f s")

    // 4. Z-order write + measured 2-D skip ratio (per-file min/max, the
    // stats a lakehouse planner consults)
    val zOut = s"$work/events_z"
    val (_, tZ) = time(Layout.zorderEvents(spark, dir, zOut, nFiles = 64))
    val stats = new java.io.File(zOut).listFiles().filter(_.getName.endsWith(".parquet"))
      .toSeq.map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min("event_id"), max("event_id"), min("value"), max("value"))
          .collect().head
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      }
    val Array(vLo, vHi) = spark.read.parquet(s"$dir/events.parquet")
      .stat.approxQuantile("value", Array(0.30, 0.36), 0.001)
    val candV = stats.count { case (_, _, lo, hi) => hi >= vLo && lo <= vHi }
    println(f"[lt] zorder_write $tZ%.2f s (64 files; 6%% value-box touches $candV/64 files)")

    // 5. streaming CDC apply: one micro-batch-sized changeset per day
    // through the same merge path (foreachBatch replays are covered by
    // MergeStreamSpec; here we time the steady-state batch cost)
    val chS = changesFor(1)
    val (_, tCdc) = time(Layout.mergeEvents(spark, table, chS, keyIndex = Some(ix)))
    println(f"[lt] cdc_batch_apply $tCdc%.2f s (1-day batch, index-backed)")

    spark.stop()
  }
}
