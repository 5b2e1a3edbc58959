package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Snapshots
import graft.sources.Tables

/** Scale evidence for the snapshot/transaction-log family: commit cost
  * must track the CHANGED bytes (batch + one manifest write), never the
  * table size — the property that makes a 100 TB table maintainable.
  * Point it at the ScaleUp output for the 10× rows.
  *
  * Usage: runMain graft.tools.SnapTime <dir> [workDir]
  */
object SnapTime {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val work = args.drop(1).headOption.getOrElse("/tmp/graft_snap_time")
    val spark = Sessions.local(32)
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)

    val ev = Tables.events(spark, dir)
    val n = ev.count()
    // day-sized changeset: ~1/30 of the table (one day of a month)
    val small = ev.filter(to_date(col("ts")) === ev.select(min(to_date(col("ts")))).head().getDate(0))
    val nSmall = small.count()

    val (_, tBase) = time(Snapshots.commit(ev, work))
    val (_, tAppend) = time(Snapshots.commit(small, work))
    val (_, tOverwrite) = time(Snapshots.commit(ev, work, overwrite = true))
    println(f"[st] base_commit $tBase%.2f s ($n rows)")
    println(f"[st] day_append $tAppend%.2f s ($nSmall rows, ${100.0 * nSmall / n}%.1f%% of table)")
    println(f"[st] full_overwrite $tOverwrite%.2f s (the rewrite a log-table never needs)")
    val (c1, tRead1) = time(Snapshots.read(spark, work, Some(1)).count())
    val (c3, tRead3) = time(Snapshots.read(spark, work).count())
    println(f"[st] time_travel_v1 $tRead1%.2f s ($c1 rows)  latest $tRead3%.2f s ($c3 rows)")
    val (_, tVac) = time(Snapshots.vacuum(spark, work, keep = 1, orphanGraceMs = 0L))
    println(f"[st] vacuum $tVac%.2f s")

    // OCC contention law: W writers racing day-batches into ONE table.
    // A lost CAS costs a manifest re-read + rename, never a data
    // rewrite, so contended wall-clock should track the slowest writer's
    // data writes, not writers × commits × table size.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val batch = small.limit(2000).cache(); batch.count()
    val perWriter = 3
    Seq(1, 4).foreach { writers =>
      val tbl = s"$work-occ$writers"
      fs.delete(new org.apache.hadoop.fs.Path(tbl), true)
      val (_, tOcc) = time {
        Await.result(Future.sequence((1 to writers).map(_ => Future {
          (1 to perWriter).foreach(_ => Snapshots.commitOptimistic(batch, tbl))
        })), 10.minutes)
      }
      val vs = Snapshots.versions(spark, tbl)
      println(f"[st] occ_${writers}w ${tOcc}%.2f s (${writers * perWriter} commits, " +
        f"versions=${vs.size}, linear=${vs == (1 to writers * perWriter)})")
    }

    // ---- read-path law (VERDICT r6 #7): stats-pruned PLANNING must cost
    // ∝ manifest lines (the log is KBs — zero footer reads, asserted in
    // SnapshotsSpec via inputFiles), a pruned READ ∝ the kept batches,
    // and the change feed ∝ the appended batch — all flat in table size.
    // K day-batches with disjoint event_id ranges, statsCol = event_id.
    val kBatches = args.drop(2).headOption.map(_.toInt).getOrElse(30)
    val tbl2 = s"$work-readpath"
    fs.delete(new org.apache.hadoop.fs.Path(tbl2), true)
    val ids = ev.agg(min("event_id"), max("event_id")).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val span = (hi - lo) / kBatches + 1
    val evc = ev.cache(); evc.count()
    val (_, tBuild) = time((0 until kBatches).foreach { i =>
      Snapshots.commit(
        evc.filter(col("event_id") >= lo + i * span && col("event_id") < lo + (i + 1) * span),
        tbl2, statsCol = Some("event_id"))
    })
    evc.unpersist()
    val ((prunedT, kept, total), tPlan) = time(
      Snapshots.readPruned(spark, tbl2, "event_id",
        (lo + 5 * span).toDouble, (lo + 6 * span - 1).toDouble))
    val (cp, tPr) = time(prunedT.count())
    val (cf, tFull) = time(Snapshots.read(spark, tbl2).count())
    val (cd, tFeed) = time(
      Snapshots.appendedBetween(spark, tbl2, kBatches - 1, kBatches).count())
    println(f"[st] readpath_build $tBuild%.2f s ($kBatches commits)")
    println(f"[st] readpath_pruned opened $kept/$total files, plan $tPlan%.3f s, read $tPr%.2f s ($cp rows)")
    println(f"[st] readpath_full $tFull%.2f s ($cf rows)")
    println(f"[st] readpath_change_feed $tFeed%.2f s ($cd rows, last batch only)")
    spark.stop()
  }
}
