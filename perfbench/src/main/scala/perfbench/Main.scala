package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, a closed loop with one
  * client of whole rounds for at most `--seconds` seconds (at least one
  * round). Prints a detail line, then the result line (`correct`,
  * `attempted`, `failed`, `metrics`) as the last line of stdout. With
  * `--trace 1` the metrics are the per-layer ones.
  *
  * Usage: perfbench.Main --workload refit|corpus --seed N
  *          --seconds S --trace 0|1 --work DIR [--launch-ms EPOCH_MS]
  *          [--source-sha HEX] [--git-sha SHA]
  */
object Main {

  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  /** One timed operation: its wall time, the input rows it completed,
    * whether it and its correctness check succeeded, and, for a traced op,
    * the summed self time of its layer spans. */
  final case class Op(wallS: Double, rows: Long, ok: Boolean, layerS: Double = 0.0)

  /** A workload: a set-up that can be repeated from scratch, the ops of one
    * round of the closed loop, and checks made outside the timed region.
    * Op kinds: `warm` (the main op), `cold` (the main op right after every
    * artifact cache is dropped), `one` (a one-item request) and, in trace
    * mode, `traced` (the main op split into layer spans). */
  trait Workload {
    def setup(rep: Int): Unit
    def round(i: Int, t: Tracer): Seq[(String, () => Op)]
    def checks(): Seq[(String, Boolean)]
    /** Quality and size figures for the detail line and the traced run. */
    def figures(): Seq[(String, Double)]
    def inputSize: Seq[(String, Double)]
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Root-mean-square error of (prediction, label) pairs. */
  def rmse(xs: Iterable[(Double, Double)]): Double =
    math.sqrt(xs.map { case (p, y) => (p - y) * (p - y) }.sum / xs.size)

  /** Before each timed op: collect garbage, then wait (at most `maxMs`)
    * until the JIT compiler has been idle for 300 ms, so compilation left
    * over from the previous op does not land inside the next one. */
  def quiesce(maxMs: Long = 1500): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.currentTimeMillis() + maxMs
    var last = jit.getTotalCompilationTime
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() - quietSince < 300 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
  }

  def parseArgs(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = parseArgs(argv)
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val jvmS = a.get("launch-ms").map(l => (mainMs - l.toLong) / 1e3).getOrElse(0.0)

    val nproc = Runtime.getRuntime.availableProcessors()
    val threads = math.min(4, nproc)
    val (spark, sessionS) = time {
      SparkSession.builder()
        .master(s"local[$threads]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", threads.toString)
        .config("spark.default.parallelism", threads.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")

    val wl: Workload = workloadName match {
      case "refit" => new Refit(spark, seed)
      case "corpus" => new Corpus(spark, seed, s"$work/corpus")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupTimes = (0 until SetupReps).map(rep => time(wl.setup(rep))._2)
    val setupS = jvmS + sessionS + median(setupTimes)

    val tracer = new Tracer(spark.sparkContext, traced)
    val samples = scala.collection.mutable.Map.empty[String, ArrayBuffer[Op]]
    // whole rounds only, so every seed measures the same work: a round
    // starts when, at the previous round's pace, it ends by the deadline
    var i = 0
    var roundS = 0.0
    val loopStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - loopStart) / 1e9
    while (i == 0 || elapsedS + roundS <= seconds) {
      val roundStart = elapsedS
      wl.round(i, tracer).foreach { case (kind, run) =>
        quiesce()
        val op =
          try run()
          catch { case e: Exception =>
            System.err.println(s"[perfbench] $kind failed: $e")
            Op(0.0, 0L, ok = false)
          }
        samples.getOrElseUpdate(kind, ArrayBuffer.empty) += op
      }
      roundS = elapsedS - roundStart
      i += 1
    }
    val loopS = elapsedS
    val drained = tracer.drain()
    tracer.close()

    val checks = wl.checks()
    val all = samples.values.flatten.toSeq
    val attempted = all.size + checks.size
    val failed = all.count(!_.ok) + checks.count(!_._2)
    def walls(kind: String) = samples.getOrElse(kind, ArrayBuffer.empty[Op]).filter(_.ok).map(_.wallS).toSeq
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6

    val warm = samples.getOrElse("warm", ArrayBuffer.empty[Op]).filter(_.ok)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", warm.map(_.rows).sum / warm.map(_.wallS).sum, "rows/s"),
      ("op_p50_s", median(walls("warm")), "s"),
      ("one_p50_s", median(walls("one")), "s"),
      ("cold_op_p50_s", median(walls("cold")), "s"),
    )

    val perLayer: Seq[(String, Double, String)] =
      if (!traced) Nil
      else PerLayer.metrics(tracer, samples.map { case (k, v) => k -> v.toSeq }.toMap,
        wl.figures() :+ ("operators.cache_mb" -> storageMb))

    val detail = Seq[(String, Any)](
      "workload" -> workloadName, "seed" -> seed, "trace" -> traced,
      "nproc" -> nproc, "master_threads" -> threads,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "source_sha256" -> a.getOrElse("source-sha", "unknown"),
      "git_sha" -> a.getOrElse("git-sha", "none"),
      "closed_loop_clients" -> 1,
      "loop_s" -> loopS, "rounds" -> i,
      "jvm_start_s" -> jvmS, "session_s" -> sessionS, "setup_reps_s" -> setupTimes,
      "samples" -> samples.map { case (k, v) => k -> v.size }.toMap,
      "op_walls_s" -> samples.map { case (k, v) => k -> v.map(_.wallS).toSeq }.toMap,
      "op_fail_ratio" -> failed.toDouble / attempted,
      "cache_mb" -> storageMb,
      "trace_drained" -> drained,
      "input" -> wl.inputSize.toMap,
      "figures" -> wl.figures().toMap,
      "checks" -> checks.toMap,
    )
    println(Json.obj(Seq("detail" -> Json.obj(detail))).s)
    val metrics = (if (traced) perLayer else endToEnd).map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> v, "unit" -> u))
    }
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.obj(metrics))).s)
    spark.stop()
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)).s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case raw: Json.Raw => raw.s
    case other => "\"" + esc(other.toString) + "\""
  }

  final case class Raw(s: String)

  def obj(kvs: Seq[(String, Any)]): Raw =
    Raw(kvs.map { case (k, v) => "\"" + esc(k) + "\":" + value(v) }.mkString("{", ",", "}"))
}
