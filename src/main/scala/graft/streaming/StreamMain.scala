package graft.streaming

import graft.GraftSession
import graft.ml.{PlayFeatures, PlayPipeline, Scorer, TrainMain}
import org.apache.spark.sql.streaming.Trigger

/** Runnable streaming demo: rate-source play simulator (NiFi-equivalent
  * event synthesis) scored micro-batch-wise for ~10 seconds.
  *
  * Usage: runMain graft.streaming.StreamMain [modelDir] [seconds] [csvPath]
  * Loads saved models from modelDir if present (TrainMain writes
  * target/models), else trains them on the play CSV and saves them.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val modelDir = args.lift(0).getOrElse("target/models")
    val seconds = args.lift(1).map(_.toInt).getOrElse(10)
    val csv = args.lift(2).getOrElse(TrainMain.DefaultCsv)
    val spark = GraftSession.builder(8).appName("graft-stream").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (passM, runM) = PlayPipeline.loadOrTrain(modelDir,
      PlayFeatures.derive(PlayFeatures.readCsv(spark, csv)))
    val scorer = new Scorer(spark, passM, runM)

    var scoredTotal = 0L
    val q = PlayStream.scoreStream(
      PlayStream.simulatedPlays(spark, rowsPerSecond = 5),
      scorer,
      scored => {
        val rows = scored.select("event_id", "best_play", "passing_yards", "running_yards")
          .collect()
        scoredTotal += rows.length
        rows.take(3).foreach(r => println(s"SCORED $r"))
      },
      Trigger.ProcessingTime("1 second"))
    Thread.sleep(seconds * 1000L)
    q.stop()
    println(s"STREAM_DONE scored=$scoredTotal in ${seconds}s")
    spark.stop()
  }
}
