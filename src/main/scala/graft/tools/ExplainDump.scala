package graft.tools

import graft.Sessions
import graft.SparkEntry

/** Dump `.explain("formatted")` of named queries to files — the
  * before/after plan evidence for optimization rounds (plans/rNN/).
  *
  * Usage: runMain graft.tools.ExplainDump <dir> <outDir> <suffix> [query ...]
  * Writes <outDir>/<query>_<suffix>.txt. Runs each query first when
  * GRAFT_EXPLAIN_FINAL is set so AQE's final plan is dumped (explain on an
  * unexecuted df shows isFinalPlan=false); default dumps the initial plan,
  * which is what plan-shape claims (join strategy, exchange count,
  * PushedFilters) are checked against.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq else SparkEntry.benchQueries
    val spark = Sessions.local(32)
    ProbeConfs(spark)
    new java.io.File(outDir).mkdirs()
    val all = SparkEntry.queries ++ ExtraQueries.extras ++ SparkEntry.benchOverrides
    names.foreach { n =>
      val df = all(n)(spark, dir)
      if (sys.env.contains("GRAFT_EXPLAIN_FINAL")) df.queryExecution.toRdd.foreach(_ => ())
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt")
      java.nio.file.Files.writeString(p, txt)
      println(s"[explain] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
