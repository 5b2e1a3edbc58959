package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span tracing from outside the engine. A span wraps one call into an
  * engine layer; every Spark job submitted inside it carries the span's job
  * group, and this listener attributes those jobs' tasks (CPU, shuffle
  * bytes, run intervals) back to the span. Spans nest; a span's self time
  * is its wall time minus its children's. When disabled, `span` is a plain
  * call. */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  import Tracer._

  final class Acc {
    var jobsStarted = 0
    var jobsEnded = 0
    var tasksStarted = 0
    var tasksEnded = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val recs = mutable.ArrayBuffer.empty[Rec]
  private val stack = mutable.Stack.empty[(String, Array[Double])]
  private var seq = 0

  if (enabled) sc.addSparkListener(this)

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)
  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span:"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g => acc(g).jobsStarted += 1; jobGroup(e.jobId) = g }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach(g => acc(g).jobsEnded += 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(g => stageGroup(e.stageInfo.stageId) = g)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageGroup.get(e.stageId).foreach(g => acc(g).tasksStarted += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasksEnded += 1
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val group = synchronized { seq += 1; s"span:$name:$seq" }
      val outer = stack.headOption.map(_._1)
      val childS = Array(0.0)
      stack.push((group, childS))
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val before = persistedIds
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        val t1ms = System.currentTimeMillis()
        stack.pop()
        outer match {
          case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        stack.headOption.foreach(_._2(0) += wall)
        val built = (persistedIds -- before).size
        synchronized { recs += Rec(name, group, t0ms, t1ms, wall, childS(0), built) }
      }
    }

  /** Wait (bounded) until the listener bus has delivered every job and task
    * end for the recorded spans. */
  def drain(timeoutMs: Long = 20000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized {
      accs.values.forall(a => a.jobsEnded >= a.jobsStarted && a.tasksEnded >= a.tasksStarted)
    }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
    settled
  }

  /** Wall time of [t0, t1] not covered by any task interval. */
  private def idle(t0: Long, t1: Long, iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var cur = t0
    iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    math.max(0L, (t1 - t0) - covered) / 1e3
  }

  /** Summed child self time of the latest `name` span (0 when none). */
  def lastChildS(name: String): Double =
    synchronized(recs.reverseIterator.find(_.name == name).map(_.childS).getOrElse(0.0))

  def records: Seq[Rec] = synchronized(recs.toList)

  def summary: Map[String, Summary] = synchronized {
    recs.groupBy(_.name).map { case (name, rs) =>
      val n = rs.size.toDouble
      val as = rs.map(r => accs.getOrElse(r.group, new Acc))
      name -> Summary(
        rs.map(r => r.wallS - r.childS).sum / n,
        as.map(_.jobsStarted).sum / n,
        as.map(_.cpuNs).sum / 1e9 / n,
        as.map(_.shuffleBytes.toDouble).sum / n,
        rs.zip(as).map { case (r, a) => idle(r.startMs, r.endMs, a.intervals.toSeq) }.sum / n)
    }
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(this)
}

object Tracer {
  /** One finished span instance (times in epoch ms for task overlap, plus a
    * nanosecond wall). */
  final case class Rec(name: String, group: String, startMs: Long, endMs: Long,
      wallS: Double, childS: Double, newPersisted: Int)

  /** Per span name, the mean per call of self_s, jobs, task_cpu_s,
    * shuffle_bytes and idle_s. */
  final case class Summary(selfS: Double, jobs: Double, taskCpuS: Double,
      shuffleBytes: Double, idleS: Double)
}
