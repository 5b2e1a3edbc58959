package graft.streaming

import org.apache.spark.sql.streaming.OutputMode

import graft.Sessions
import graft.sources.Tables

/** Runnable streaming demo: replays the events table as a file-source
  * stream (one parquet file = one micro-batch source) through the hourly
  * windowed aggregation and prints the final state, which must equal the
  * batch q19_window_agg on the same data.
  *
  *   runMain graft.streaming.StreamMain [sfDir]
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(8)

    // events.ts parquet vintage varies (NANOS-as-long vs naive µs); set the
    // legacy conf via the batch loader, then stream with the RAW file schema
    // and apply the same normalization the batch path uses
    Tables.events(spark, sfDir)
    val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // the file stream source wants a directory: stage the single parquet
    // file behind a symlink in a temp dir (a real deployment tails a
    // landing directory of event files)
    val stageDir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.createSymbolicLink(
      stageDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))

    val raw = Tables.normalizeTs(
      spark.readStream.schema(rawSchema).parquet(stageDir.toString))

    val q = EventStreams.hourlyAgg(raw).writeStream
      .format("memory").queryName("hourly_stream")
      .outputMode(OutputMode.Complete())
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("hourly_stream").orderBy("ws", "event_type")
    val n = streamed.count()
    streamed.show(5, truncate = false)
    val batch = graft.operators.Relational.q19WindowAgg(spark, sfDir)
    val diff = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
    println(s"[stream] windows=$n batch-equivalence-diff=$diff")
    spark.stop()
  }
}
