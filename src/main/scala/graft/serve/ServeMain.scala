package graft.serve

import graft.GraftSession
import graft.ml._

/** Start the scoring service: load (or train) the two models, start
  * the HTTP server, print the bound port. The play CSV feeds the
  * replay table, and the training when no models are saved.
  *
  * Usage: runMain graft.serve.ServeMain [modelDir] [port] [csvPath]
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val modelDir = args.lift(0).getOrElse("target/models")
    val port = args.lift(1).map(_.toInt).getOrElse(4444)
    val csv = args.lift(2).getOrElse(TrainMain.DefaultCsv)
    val spark = GraftSession.builder(8).appName("graft-serve").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val plays = PlayFeatures.derive(PlayFeatures.readCsv(spark, csv))
    val (passM, runM) = PlayPipeline.loadOrTrain(modelDir, plays)
    val server = new ScoringServer(new Scorer(spark, passM, runM), plays, port)
    server.start()
    println(s"SERVING port=${server.boundPort}")
    Thread.currentThread().join()
  }
}
