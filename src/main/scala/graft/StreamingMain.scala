package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.ops.StreamingOps

/** Runnable streaming showcase: replays an events fixture through the
  * file source and runs one of the streaming faces to completion,
  * printing the final state. Usage:
  *
  *   runMain graft.StreamingMain [tumbling|sliding|sessions|dedup] [sfDir]
  */
object StreamingMain {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("tumbling")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.fromEnv("graft-streaming")

    val staged = Files.createTempDirectory("graft-stream-main").toString
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$staged/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = StreamingOps.eventsStream(spark, staged)

    val (df, outputMode) = mode match {
      case "tumbling" => (StreamingOps.tumblingCounts(stream), "complete")
      case "sliding"  => (StreamingOps.slidingCounts(stream), "complete")
      case "sessions" => (StreamingOps.sessionCounts(stream), "complete")
      case "dedup"    => (StreamingOps.dedupWithinWatermark(stream), "append")
      case other =>
        System.err.println(s"unknown mode: $other (want tumbling|sliding|sessions|dedup)")
        sys.exit(2)
    }
    val q = df.writeStream.format("memory").queryName("out").outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
    val result = spark.table("out")
    println(s"mode=$mode rows=${result.count()}")
    result.show(10, truncate = false)
    spark.stop()
  }
}
