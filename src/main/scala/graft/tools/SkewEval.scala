package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Sessions

/** Skewed-join evidence at sf0.1 scale:
  *   runMain graft.tools.SkewEval [sfDir]
  * Builds a hot-key corpus from lineitem (one part key absorbs ~half the
  * fact rows — the power-law shape AQE and salting exist for) and times
  * three plans for the same join + aggregate:
  *   plain   — AQE skew handling OFF (the naive plan: one straggler task)
  *   aqe     — AQE skew-join split ON (runtime re-plan)
  *   salted  — SkewJoin.salted with AQE OFF (compile-time pre-split)
  * All three must agree row-for-row; the times and the AQE plan flag are
  * the evidence. */
object SkewEval {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(32)
    import graft.operators.SkewJoin
    import graft.sources.Tables

    // hot corpus: half of all lineitem rows land on part key 7.
    // repartition(32) first: sf0.1 lineitem is a single parquet file and
    // AQE can only split a skewed reduce partition at MAPPER-block
    // granularity — one mapper means one unsplittable block (at 100 TB
    // the input has thousands of splits and this is moot)
    val li = Tables.lineitem(spark, sfDir)
      .repartition(32)
      .withColumn("p_partkey",
        when(col("l_orderkey") % 2 === 0, lit(7L)).otherwise(col("l_partkey")))
      .select("p_partkey", "l_orderkey", "l_quantity")
      .persist()
    val part = Tables.part(spark, sfDir).select("p_partkey", "p_brand").persist()
    println(s"[skew] rows=${li.count()} hot=${li.filter(col("p_partkey") === 7).count()}")
    part.count()

    def agg(j: DataFrame): DataFrame =
      j.groupBy("p_brand").agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))

    def timed(f: => Array[org.apache.spark.sql.Row]): (Array[org.apache.spark.sql.Row], Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def canon(rows: Array[org.apache.spark.sql.Row]): Set[String] =
      rows.map(_.toString).toSet

    // sort-merge path so the skewed shuffle actually exists (the dim is
    // broadcast-size here; production hot joins are dim-too-big cases)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", -1)

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", false)
    agg(li.join(part, Seq("p_partkey"))).collect() // warm-up
    val (plain, tPlain) = timed(agg(li.join(part, Seq("p_partkey"))).collect())
    println(f"[skew] plain  (no AQE skew) time=$tPlain%.2fs rows=${plain.length}")

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", true)
    // the join feeds an aggregate on a different key, so splitting the
    // skewed partition adds a shuffle AQE would normally avoid — force
    // it, as a production job with a real straggler would
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", true)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", 2)
    agg(li.join(part, Seq("p_partkey"))).collect() // warm-up
    val df = agg(li.join(part, Seq("p_partkey")))
    val (aqe, tAqe) = timed(df.collect())
    val split = df.queryExecution.executedPlan.toString.contains("skew=true")
    println(f"[skew] aqe    (skew split)   time=$tAqe%.2fs rows=${aqe.length} split=$split")
    if (args.contains("-v"))
      println(df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Join") || l.contains("skew") || l.contains("Exchange"))
        .mkString("[skew] plan: ", "\n[skew] plan: ", ""))

    if (args.contains("-iso")) {
      // isolate: bare join, no aggregate on top (PlanSpec's shape)
      val bare = li.join(part, Seq("p_partkey"))
      bare.collect()
      val bSplit = bare.queryExecution.executedPlan.toString.contains("skew=true")
      println(s"[skew] iso bare-join split=$bSplit")
    }

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", false)
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", false)
    agg(SkewJoin.salted(li, part, "p_partkey", 32, saltOn = col("l_orderkey"))).collect()
    val (salted, tSalted) = timed(
      agg(SkewJoin.salted(li, part, "p_partkey", 32, saltOn = col("l_orderkey"))).collect())
    println(f"[skew] salted (32 salts)     time=$tSalted%.2fs rows=${salted.length}")

    require(canon(plain) == canon(aqe) && canon(plain) == canon(salted),
      "skewed-join variants disagree")
    println("[skew] all three variants agree row-for-row")
    spark.stop()
  }
}
