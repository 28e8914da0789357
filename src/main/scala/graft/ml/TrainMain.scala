package graft.ml

import graft.GraftSession

/** End-to-end training slice (SURVEY.md §7 minimum slice): read the
  * play-by-play CSV, derive features, fit the pass/run pipelines, save
  * both models, and score the reference's documented golden request
  * (reference `assets/app_nfl.py:286`, expected shape
  * `('Running Play', <passYds>, <runYds>)` per `:314`).
  *
  * Usage: runMain graft.ml.TrainMain [csvPath] [modelDir]
  */
object TrainMain {
  val DefaultCsv = "/root/reference/assets/static/assets/nfldata2.csv"

  def main(args: Array[String]): Unit = {
    val csv = args.lift(0).getOrElse(DefaultCsv)
    val modelDir = args.lift(1).getOrElse("target/models")
    val spark = GraftSession.builder(32).appName("graft-train").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val plays = PlayFeatures.derive(PlayFeatures.readCsv(spark, csv))
    val (passModel, runModel) = PlayPipeline.train(plays)
    PlayPipeline.save(passModel, s"$modelDir/nfl_model_pass")
    PlayPipeline.save(runModel, s"$modelDir/nfl_model_run")

    val scorer = new Scorer(spark, passModel, runModel)
    val golden = PlayRequest(qtr = 3, down = 3, TimeSecs = 60, yrdline100 = 50,
      ydstogo = 8, ydsnet = 15, month_day = 920, posteam = "PIT",
      DefensiveTeam = "NE", PlayType_lag = "Run")
    val p = scorer.scoreOne(golden)
    println(s"GOLDEN ${p.bestPlay} pass=${p.passingYards} run=${p.runningYards}")
    spark.stop()
  }
}
