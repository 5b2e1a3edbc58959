package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.Sessions
import graft.SparkEntry

/** Instrumentation probe (not a registered query): per-query breakdown of
  * WHERE warm wall-clock goes — Catalyst planning vs per-job execution —
  * via a SparkListener recording every job's duration, stage count and
  * task time. The bench's sub-second rows are dominated by fixed costs
  * invisible to PlanAudit's byte counters (plan compile, job scheduling,
  * broadcast latency); this names them so optimization targets the real
  * term (guide §1: measure first; §7.1: decide scheduler delay vs
  * compute before blaming the operator).
  *
  * Usage: runMain graft.tools.PhaseTime <dir> <query> [query ...]
  * Two passes per query (cold incl. artifact build, then warm); the warm
  * pass prints per-job lines.
  */
object PhaseTime {
  private case class JobRow(id: Int, desc: String, started: Long,
    var ended: Long = 0L, var stages: Int = 0, var taskTimeMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = Sessions.local(32)
    ProbeConfs(spark)

    val jobs = scala.collection.mutable.ArrayBuffer.empty[JobRow]
    var record = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        if (record) jobs += JobRow(js.jobId,
          js.stageInfos.map(si => s"${si.name.takeWhile(_ != ':')}(${si.numTasks}t)")
            .mkString("+"),
          js.time)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        jobs.find(_.id == je.jobId).foreach(_.ended = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        // attribute the stage to the most recent open job (local mode,
        // sequential actions — good enough for a probe)
        jobs.lastOption.foreach { j =>
          j.stages += 1
          j.taskTimeMs += sc.stageInfo.taskMetrics.executorRunTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val all = SparkEntry.queries ++ ExtraQueries.extras ++ SparkEntry.benchOverrides
    names.foreach { n =>
      val fn = all.getOrElse(n, sys.error(s"unknown query: $n"))
      // pass 1: cold (artifact builds, codegen)
      val tc0 = System.nanoTime()
      fn(spark, dir).count()
      val coldS = (System.nanoTime() - tc0) / 1e9
      // pass 2: warm, instrumented
      jobs.clear(); record = true
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis + optimization + planning
      val t2 = System.nanoTime()
      // drive THIS df's QueryExecution (count() would wrap a new one and
      // leave these nodes' metrics empty — the PlanAudit discipline)
      val rows = df.queryExecution.toRdd.count()
      val t3 = System.nanoTime()
      record = false
      Thread.sleep(200) // let the listener bus drain (probe-grade precision)
      println(f"[phase] $n rows=$rows cold=${coldS}%.2f build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f total_warm=${(t3 - t0) / 1e9}%.3f jobs=${jobs.length}")
      val gaps = jobs.sortBy(_.started)
      gaps.zipWithIndex.foreach { case (j, i) =>
        val wall = (j.ended - j.started) / 1e3
        println(f"[phase]   job#$i wall=${wall}%.3f s stages=${j.stages} taskTime=${j.taskTimeMs / 1e3}%.3f s desc=${j.desc.take(60)}")
      }
      if (sys.env.contains("GRAFT_PHASE_NODES")) {
        // per-node SQLMetrics of the executed plan: codegen span durations
        // and operator times name the CPU consumer inside a stage
        def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
          val kids = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
            case other => other.children
          }
          p +: kids.flatMap(allNodes)
        }
        allNodes(df.queryExecution.executedPlan).foreach { nd =>
          val interesting = nd.metrics.filter { case (k, m) =>
            (k.contains("time") || k.contains("duration") || k == "numOutputRows") && m.value > 0 }
          if (interesting.nonEmpty)
            println(s"[node] ${nd.getClass.getSimpleName.take(40)} " +
              interesting.map { case (k, m) => s"$k=${m.value}" }.mkString(" ") +
              " :: " + nd.simpleString(80).take(120))
        }
      }
    }
    spark.stop()
  }
}
