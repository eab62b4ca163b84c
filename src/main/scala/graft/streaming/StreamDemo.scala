package graft.streaming

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** CLI surface for the streaming module: stages the events table into a
  * watched directory, runs the tumbling-window aggregation as a real
  * Structured Streaming query (AvailableNow), and prints the top windows.
  * Usage: StreamDemo [sfDir] — defaults to the smoke SF.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(appName = "stream-demo")

    // file streams watch directories; testdata ships single files
    val dir = Files.createTempDirectory("stream_demo")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), dir.resolve("events.parquet"))

    val result = EventStreams.runToMemory(spark,
      EventStreams.tumblingCounts(EventStreams.readEventStream(spark, dir.toString)),
      "stream_demo")
    val rows = result.orderBy(org.apache.spark.sql.functions.col("n_events").desc).collect()
    println(s"[stream-demo] windows=${result.count()} busiest:")
    rows.take(5).foreach(r => println(s"[stream-demo]   $r"))
    spark.stop()
  }
}
