package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.Sessions
import graft.streaming.ErStreams

/** State-residency probe for the PRODUCTION ErStreams configuration
  * (VERDICT r8 #7): ErStreamSpec pins that horizon eviction OCCURS, but
  * not the steady-state bound — this probe drives a synthetic unbounded
  * feed (every micro-batch opens a fresh range of blocking keys, so
  * earlier blocks go idle, the real registry-stream shape) and records
  * the keyed-state row/byte trail per batch:
  *
  *   - horizonMs set: state must PLATEAU at ~(horizon / batch interval)
  *     batches' worth of blocks — the active window — regardless of
  *     feed length;
  *   - NoTimeout (parity mode): state grows ∝ total blocks ever seen,
  *     the documented cost of exact batch parity on an unbounded feed.
  *
  * Usage: runMain graft.tools.ErStateProbe [batches] [blocksPerBatch]
  *        [horizonMs] [sleepMs] [hotPerBatch] [maxBlockReg]
  *        (30, 300, 1200, 400, 0, 0)
  *
  * hotPerBatch > 0 adds the SKEW residual the horizon cannot bound:
  * that many extra registry records land in ONE fixed blocking key
  * every batch, so its lease never lapses and its state grows with the
  * feed — and runs a third config with `maxBlockReg` (the junk-block
  * stop-list) where the hot block must freeze to an O(1) tombstone.
  */
object ErStateProbe {

  final case class Rec(side: String, key: Long, name: String)

  def main(args: Array[String]): Unit = {
    val batches = args.lift(0).map(_.toInt).getOrElse(30)
    val blocksPerBatch = args.lift(1).map(_.toInt).getOrElse(300)
    val horizonMs = args.lift(2).map(_.toLong).getOrElse(1200L)
    val sleepMs = args.lift(3).map(_.toLong).getOrElse(400L)
    val hotPerBatch = args.lift(4).map(_.toInt).getOrElse(0)
    val maxBlockReg = args.lift(5).map(_.toInt).filter(_ > 0)
    val spark = Sessions.local(8)
    import spark.implicits._

    def run(tag: String, horizon: Option[Long], cap: Option[Int] = None): Unit = {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Rec]
      val name = s"erprobe_${tag}_${System.nanoTime()}"
      val q = ErStreams.linkGrowing(spark, input.toDF(), horizonMs = horizon,
          maxBlockReg = cap)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      var peakRows = 0L
      for (b <- 0 until batches) {
        val recs = (0 until blocksPerBatch).flatMap { i =>
          val blk = b.toLong * blocksPerBatch + i
          val nm = f"Cust $blk%06d" // trailing 6 chars = a fresh block per key
          Seq(Rec("a", blk * 10L, nm), Rec("b", blk * 10L + 1, nm))
        } ++ (0 until hotPerBatch).map { i =>
          // distinct names, ONE shared suffix: the hot block's lease
          // renews every batch, so the horizon never evicts it
          Rec("a", 900000000L + b.toLong * hotPerBatch + i,
            f"Hot ${b * hotPerBatch + i}%7d HOTBLK")
        }
        input.addData(recs)
        // with a registered processing-time timeout the engine schedules
        // timer batches continuously (processAllAvailable never
        // quiesces) — pace by wall clock and read the progress trail
        Thread.sleep(sleepMs)
        val p = Option(q.lastProgress).flatMap(_.stateOperators.headOption)
        val rows = p.map(_.numRowsTotal).getOrElse(-1L)
        val mem = p.map(_.memoryUsedBytes).getOrElse(-1L)
        peakRows = math.max(peakRows, rows)
        println(f"[erstate] $tag%-8s batch=$b%3d blocks_seen=${(b + 1) * blocksPerBatch}%7d " +
          f"state_rows=$rows%7d state_bytes=$mem%10d")
      }
      // settle: let outstanding timer batches evict what the horizon owes
      Thread.sleep(math.max(2 * horizonMs, 2000L))
      val p = Option(q.lastProgress).flatMap(_.stateOperators.headOption)
      println(f"[erstate] $tag%-8s FINAL blocks_seen=${batches * blocksPerBatch}%7d " +
        f"state_rows=${p.map(_.numRowsTotal).getOrElse(-1L)}%7d " +
        f"state_bytes=${p.map(_.memoryUsedBytes).getOrElse(-1L)}%10d peak_rows=$peakRows%7d")
      q.stop()
    }

    run("horizon", Some(horizonMs))
    run("parity", None)
    if (hotPerBatch > 0 && maxBlockReg.isDefined)
      run("capped", Some(horizonMs), maxBlockReg)
    spark.stop()
  }
}
