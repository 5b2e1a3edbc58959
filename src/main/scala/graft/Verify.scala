package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: restrict to the named queries (builder-side
    // iteration on a single oracle row; the driver passes exactly two)
    val Array(sfDir, outDir, only @ _*) = args
    val wanted: String => Boolean =
      if (only.isEmpty) _ => true else only.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // every export timed to stderr ([vtime] lines — NOT the [verify]
    // failure tag) so a slow round is diagnosable from the driver log
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try f catch { case e: Throwable =>
        System.err.println(s"[verify] $name export failed: ${e.getMessage}")
      }
      System.err.println(f"[vtime] $name export ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // raw-corpus export first: the mat_* oracle SQL reads this fixed-path
    // parquet to recompute the materials queries independently in DuckDB
    timed("materials-raw")(graft.materials.Materials.exportRaw(spark))
    // golden-parity export: ml_golden_gate (Spark AND its DuckDB oracle)
    // reads these fixed-path parquets
    timed("ml-golden-parity")(graft.ml.DielectricModel.exportGoldenParity(spark))
    // quality-classifier export: ml_quality_score recomputes sigmoid
    // scores from these fixed-path parquets in both engines
    timed("quality-classifier")(graft.ml.QualityClassifier.exportScored(spark, sfDir))
    // semdedup cell export: dd_semdedup computes the prune from this
    // fitted (vec_id, cell) assignment in both engines
    timed("semdedup-cells")(graft.operators.SemDedup.exportCells(spark, sfDir))
    // BPE round-state export: tx_bpe_merges recomputes each round's
    // winning pair from these states (tx_bpe re-encodes from them)
    timed("bpe-states")(graft.operators.Bpe.exportStates(spark, sfDir))
    // HLL/KLL/Theta estimate exports: the ds_* gates compare the same
    // exported sketch estimates against exact recomputes
    timed("sketches")(graft.operators.Sketches.exportEstimates(spark, sfDir))
    // recurrence exports: ds_doremi / q32_pagerank are export-gates (both
    // engines read these doubles and check their own recurrence replay
    // within a tolerance — CORRECTNESS_r06 proved decimal emission does
    // not absorb cross-engine drift at rounding boundaries)
    timed("doremi-weights")(graft.operators.Doremi.exportWeights(spark, sfDir))
    timed("pagerank-ranks")(graft.operators.Graphs.exportRanks(spark, sfDir))
    // recall-gate exports: the approximate shortlists/pair sets/bloom
    // counts both engines gate against independent exact recomputes
    timed("recall-gates")(graft.operators.RecallGates.exportAll(spark, sfDir))
    // the per-query dumps are independent writes (disjoint output dirs;
    // exports above already ran, so gate queries find their inputs):
    // run a few in flight so one query's driver round-trips and stage
    // tails back-fill idle cores (guide §2.6 — overlap independent
    // jobs). 3 keeps peak memory bounded; FIFO scheduling gives the
    // back-fill behavior. PersistSlots builds are per-key locked, so
    // concurrent dumps share artifacts instead of double-building them.
    // daemon threads: a query hung in driver-side code cannot keep the
    // JVM alive after main returns
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "3").toInt,
      (r: Runnable) => { val t = new Thread(r, "verify-query"); t.setDaemon(true); t })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futs = SparkEntry.queries.filter(q => wanted(q._1)).toSeq.map { case (name, fn) =>
      name -> scala.concurrent.Future {
        // per-query job group so a timed-out query is CANCELLABLE (the
        // r10 hang-safety fix, VERDICT r9 #5/#7: Await(Inf) meant one
        // hung query hung the whole correctness pass with no culprit in
        // the log); thread-local, so concurrent dumps don't cross-tag
        spark.sparkContext.setJobGroup(s"verify-$name", name,
          interruptOnCancel = true)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[vtime] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally spark.sparkContext.clearJobGroup()
      }
    }
    // bounded per-query wait: a hung query fails LOUDLY (its oracle row
    // reads "spark output missing") and its jobs are cancelled so the
    // pool thread comes back, instead of hanging the driver's wall.
    // Waits overlap (every future is already running in the pool), so a
    // healthy pass pays nothing.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT", "900").toLong
    import scala.concurrent.duration._
    val timedOut = futs.flatMap { case (name, f) =>
      try { scala.concurrent.Await.result(f, timeoutSec.seconds); None }
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println(
            s"[verify] $name timed out after $timeoutSec s; cancelling its jobs")
          spark.sparkContext.cancelJobGroup(s"verify-$name")
          // bounded grace for the cancellation to unwind the future
          try scala.concurrent.Await.result(f, 60.seconds)
          catch { case _: Throwable => () }
          Some(name)
      }
    }
    pool.shutdownNow()
    pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    // a timed-out query may still have finished its write in the grace
    // period: delete its output, so the oracle row reads "spark output
    // missing" (FAIL) and agrees with the timeout in the log
    timedOut.foreach { name =>
      val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
