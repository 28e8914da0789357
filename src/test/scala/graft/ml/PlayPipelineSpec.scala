package graft.ml

import graft.SparkSpec
import org.apache.spark.ml.feature.StringIndexerModel
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pipeline structure, fitted-state, persistence, and golden-request
  * checks (SURVEY.md §5.1-5.2). Behaviour checks run on the seeded
  * in-repo plays (`TestModels.fixtureModels`); the label order and the
  * golden argmax are facts of the reference's own data and run only
  * where its `nfldata2.csv` is present. */
class PlayPipelineSpec extends SparkSpec {

  private lazy val plays = TestModels.fixturePlays(spark)

  private lazy val models = TestModels.fixtureModels(spark)
  private lazy val scorer = new Scorer(spark, models._1, models._2)

  private val golden = PlayRequest(qtr = 3, down = 3, TimeSecs = 60,
    yrdline100 = 50, ydstogo = 8, ydsnet = 15, month_day = 920,
    posteam = "PIT", DefensiveTeam = "NE", PlayType_lag = "Run")

  test("StringIndexer labels are frequency-ordered per training subset " +
    "(pass model [Pass,Run,FirstPlay], run model [Run,Pass,FirstPlay])") {
    assume(TestModels.referencePresent, "reference nfldata2.csv not present")
    val models = TestModels.referenceModels(spark)
    val passLabels = models._1.stages(0).asInstanceOf[StringIndexerModel]
      .labelsArray.head.toSeq
    val runLabels = models._2.stages(0).asInstanceOf[StringIndexerModel]
      .labelsArray.head.toSeq
    assert(passLabels === Seq("Pass", "Run", "FirstPlay"))
    assert(runLabels === Seq("Run", "Pass", "FirstPlay"))
  }

  test("GBT stage carries the reference hyperparameters") {
    val gbt = models._1.stages(2)
      .asInstanceOf[org.apache.spark.ml.regression.GBTRegressionModel]
    assert(gbt.getMaxIter === 20)
    assert(gbt.getMaxDepth === 5)
    assert(gbt.getMaxBins === 350)
    assert(gbt.getSeed === 12345L)
    assert(gbt.numFeatures === 8)
  }

  test("golden request scores to the recommendation shape of the reference") {
    assume(TestModels.referencePresent, "reference nfldata2.csv not present")
    val models = TestModels.referenceModels(spark)
    val scorer = new Scorer(spark, models._1, models._2)
    val p = scorer.scoreOne(golden)
    assert(p.bestPlay === "Running Play") // same argmax as the reference anchor
    assert(!p.passingYards.isNaN && !p.runningYards.isNaN)
    assert(p.runningYards > p.passingYards)
    // our own fitted goldens (Spark 4 trees differ from the 2.1 anchor
    // 3.984/5.375 but must be in the same ballpark):
    assert(p.passingYards > 0 && p.passingYards < 15)
    assert(p.runningYards > 0 && p.runningYards < 15)
  }

  test("pipeline save → load → transform round trip is identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    PlayPipeline.save(models._1, s"$dir/pass")
    val reloaded = PlayPipeline.load(s"$dir/pass")
    val reScorer = new Scorer(spark, reloaded, models._2)
    assert(reScorer.scoreOne(golden) === scorer.scoreOne(golden))
  }

  test("handleInvalid=error: unseen PlayType_lag throws (reference parity)") {
    val bad = golden.copy(PlayType_lag = "Punt")
    val e = intercept[Exception] { scorer.scoreOne(bad) }
    assert(e.getMessage.toLowerCase.contains("unseen label") ||
      e.getCause != null)
  }

  test("local fast path returns the exact doubles of the transform path") {
    val requests = Seq(
      golden,
      golden.copy(qtr = 1, down = 1, TimeSecs = 900, PlayType_lag = "Pass"),
      golden.copy(qtr = 4, down = 4, yrdline100 = 1, ydstogo = 1, PlayType_lag = "FirstPlay"),
      golden.copy(TimeSecs = -300, ydsnet = 0)) // OT negative clock
    requests.foreach { r =>
      assert(scorer.scoreOneFast(r) === scorer.scoreOne(r), s"mismatch for $r")
    }
    // handleInvalid=error parity on the fast path too
    intercept[Exception] { scorer.scoreOneFast(golden.copy(PlayType_lag = "Punt")) }
  }

  test("batch scoring agrees with single-row scoring") {
    val sample = plays.limit(50)
    val batch = scorer.scoreBatch(sample)
    assert(batch.count() === 50)
    assert(batch.filter(col("passing_yards").isNull || col("running_yards").isNull)
      .count() === 0)
    val row = batch.filter(col("best_play") === "Passing Play")
      .union(batch.filter(col("best_play") === "Running Play"))
    assert(row.count() === 50) // every row got a recommendation
  }

  test("training leaves the caller's cache of the shared plays in place") {
    assert(models._1.stages.nonEmpty) // forces the shared fit
    assert(plays.storageLevel === StorageLevel.MEMORY_AND_DISK)
  }
}

/** Model-quality gate (SURVEY.md §5.5): RMSE within a pinned band.
  * In-sample RMSE (the suite's shared models are fitted on the full
  * subsets); the band regression-pins our own Spark 4 training, not
  * the reference's 2.1-era trees. */
class ModelQualitySpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("pass/run model RMSE stays within the pinned band") {
    assume(TestModels.referencePresent, "reference nfldata2.csv not present")
    val plays = TestModels.referencePlays(spark)
    val (passM, runM) = TestModels.referenceModels(spark)
    def rmse(model: org.apache.spark.ml.PipelineModel, playType: String): Double = {
      val scored = model.transform(plays.filter(col("PlayType") === playType))
        .select(col("prediction"), col("Yards_Gained").cast("double").as("y"))
      math.sqrt(scored.select(avg(pow(col("prediction") - col("y"), 2))).head().getDouble(0))
    }
    val passRmse = rmse(passM, "Pass")
    val runRmse = rmse(runM, "Run")
    info(f"in-sample RMSE pass=$passRmse%.3f run=$runRmse%.3f")
    // measured at pin time: pass 4.230, run 3.166 — band allows ±25%
    // drift before flagging a training regression:
    assert(passRmse > 3.2 && passRmse < 5.3, s"pass RMSE $passRmse")
    assert(runRmse > 2.4 && runRmse < 4.0, s"run RMSE $runRmse")
  }
}
