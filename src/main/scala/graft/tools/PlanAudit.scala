package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.Sessions
import graft.SparkEntry

/** Execution-metrics audit: run named queries and report the SHUFFLE and
  * SPILL bytes their physical plans actually moved — the numbers that
  * decide 100 TB viability, where wall-clock on a 32-core box cannot
  * (a query can look fast locally while shuffling its whole input).
  *
  * Walks the finalized adaptive plan (through AQE wrappers and query
  * stages) and sums each node's SQLMetrics after execution.
  *
  * Usage: runMain graft.tools.PlanAudit <dir> <query> [query ...]
  */
object PlanAudit {

  /** All physical nodes, descending through AQE wrappers and stages. */
  private[graft] def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case other                    => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  def audit(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    // drive THIS df's QueryExecution (a .write wraps the plan in a new
    // QueryExecution, leaving these nodes' metrics untouched)
    df.queryExecution.toRdd.foreach(_ => ())
    val nodes = allNodes(df.queryExecution.executedPlan)
    def sumOf(key: String): Long =
      nodes.flatMap(_.metrics.get(key)).map(_.value).filter(_ > 0).sum
    Map(
      "shuffle_bytes" -> sumOf("shuffleBytesWritten"),
      "shuffle_records" -> sumOf("shuffleRecordsWritten"),
      "spill_bytes" -> (sumOf("spillSize") + sumOf("diskBytesSpilled")),
      "scan_rows" -> nodes.filter(_.getClass.getSimpleName.contains("FileSourceScan"))
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum,
    )
  }

  /** Record count of the DEEPEST shuffle exchange whose subtree contains
    * `marker` in its string form — the per-NODE form of [[audit]], for
    * asserting a specific exchange's volume (VERDICT r8 #1: the triangle
    * wedge exchange, marked by the `might_close` bloom-probe UDF name,
    * must carry ≤ closing + 2·fpp·total wedges; the aggregate
    * shuffle_records bound cannot see a dead prefilter because it
    * CONTAINS the unpruned volume). "Deepest" = a marked exchange none
    * of whose descendants is itself a marked exchange, so enclosing
    * aggregation/sort exchanges above the probe don't shadow it. Runs
    * the plan; returns -1 if no exchange matches. */
  def markedExchangeRecords(df: org.apache.spark.sql.DataFrame, marker: String): Long = {
    df.queryExecution.toRdd.foreach(_ => ())
    val nodes = allNodes(df.queryExecution.executedPlan)
    val marked = nodes.filter(n => n.metrics.contains("shuffleRecordsWritten") &&
      allNodes(n).exists(_.simpleString(Int.MaxValue).contains(marker)))
    val deepest = marked.filter(n =>
      !allNodes(n).drop(1).exists(d => marked.exists(_ eq d)))
    if (deepest.isEmpty) -1L
    else deepest.map(_.metrics("shuffleRecordsWritten").value).max
  }

  /** Per-exchange breakdown (verbose mode): which node moved the rows. */
  def auditVerbose(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.toRdd.foreach(_ => ())
    allNodes(df.queryExecution.executedPlan).foreach { n =>
      val rec = n.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
      val spill = n.metrics.get("spillSize").map(_.value).getOrElse(0L) +
        n.metrics.get("diskBytesSpilled").map(_.value).getOrElse(0L)
      if (rec > 0 || spill > 0)
        println(f"[auditv] ${n.getClass.getSimpleName}%-28s rec=$rec%12d spill=${spill / 1e6}%10.1fMB ${n.simpleString(60).take(90)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    val dir = args.filterNot(_ == "-v").head
    val rest = args.filterNot(_ == "-v").drop(1).toSeq
    val names = if (rest.nonEmpty) rest else SparkEntry.benchQueries
    val spark = Sessions.local(32)
    ProbeConfs(spark)
    println(f"[audit] ${"query"}%-22s ${"scan_rows"}%12s ${"shuffle_rec"}%12s ${"shuffle_MB"}%10s ${"spill_MB"}%8s")
    names.foreach { n =>
      // benchOverrides LAST: a gate-form name probes its RAW operator,
      // exactly what Bench times — probing the gate would re-run the
      // exact quadratic oracle recompute at scale (the r7 bench lesson)
      val fn = (SparkEntry.queries ++ ExtraQueries.extras ++ SparkEntry.benchOverrides)(n)
      if (verbose) { println(s"[auditv] == $n =="); auditVerbose(fn(spark, dir)) }
      else {
        val m = audit(fn(spark, dir))
        println(f"[audit] $n%-22s ${m("scan_rows")}%12d ${m("shuffle_records")}%12d " +
          f"${m("shuffle_bytes") / 1e6}%10.1f ${m("spill_bytes") / 1e6}%8.1f")
      }
    }
    spark.stop()
  }
}
