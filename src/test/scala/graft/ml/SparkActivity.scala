package graft.ml

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What a block of driver code launched on the cluster. */
final case class SparkActivity(jobs: Int, shuffleBytes: Long)

object SparkActivity {

  /** Jobs started and shuffle bytes written while `body` runs. A marker
    * job submitted afterwards flushes the listener bus, which delivers
    * job starts and task ends in order. */
  def of(spark: SparkSession)(body: => Unit): SparkActivity = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[Either[String, Long]]()
    val marker = s"activity-marker-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.add(Left(Option(e.properties).map(_.getProperty("spark.job.description", "")).orNull))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        events.add(Right(Option(e.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!events.asScala.exists(_ == Left(marker)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val seen = events.asScala.toSeq
      assert(seen.contains(Left(marker)), "listener never saw the marker job")
      val before = seen.takeWhile(_ != Left(marker))
      SparkActivity(before.count(_.isLeft), before.collect { case Right(b) => b }.sum)
    } finally sc.removeSparkListener(listener)
  }
}
