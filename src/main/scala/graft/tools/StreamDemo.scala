package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.CdcStream

/** Streaming smoke drive: file-source micro-batches over the events
  * table -> watermarked windowed aggregation -> memory sink.
  * `sbt "runMain graft.tools.StreamDemo [sfDir]"`. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Sessions.local(4, "graft-stream-demo")
    import spark.implicits._

    val staging = java.nio.file.Files.createTempDirectory("graft_sd").toString
    graft.SparkEntry.events(spark, sfDir)
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(s"$staging/in")
    val schema = spark.read.parquet(s"$staging/in").schema

    val stream = CdcStream.readFiles(spark, s"$staging/in", schema, maxFilesPerTrigger = 1)
    val agg = CdcStream.windowedCounts(stream, "ts", "1 hour", "6 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    println("=== windowed counts (first 10) ===")
    spark.table("win").orderBy($"window.start", $"event_type").show(10, truncate = false)
    println(s"rows=${spark.table("win").count()}")
    spark.stop()
  }
}
