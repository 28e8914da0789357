package graft.ml

import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's core "query plan": a 3-stage Spark ML pipeline
  * (StringIndexer → VectorAssembler → GBTRegressor), one model per
  * play type, trained with the exact hyperparameters recovered from
  * the persisted model metadata (reference
  * `assets/static/assets/nfl_model_pass/stages/2_GBTRegressor_*` /
  * `metadata/part-00000`; SURVEY.md §2.3).
  */
object PlayPipeline {

  /** Build the unfitted pipeline with the reference's parameters. */
  def build(): Pipeline = {
    val indexer = new StringIndexer()
      .setInputCol("PlayType_lag")
      .setOutputCol("PlayType_lag_index")
      .setHandleInvalid("error") // reference: handleInvalid=error
      .setStringOrderType("frequencyDesc") // fitted labels are frequency-ordered
    val assembler = new VectorAssembler()
      .setInputCols(PlaySchema.featureCols.toArray)
      .setOutputCol("features")
    val gbt = new GBTRegressor()
      .setLabelCol(PlaySchema.labelCol)
      .setFeaturesCol("features")
      .setPredictionCol("prediction")
      .setMaxIter(20)
      .setMaxDepth(5)
      .setMaxBins(350)
      .setStepSize(0.1)
      .setLossType("squared")
      .setImpurity("variance")
      .setSubsamplingRate(1.0)
      .setMinInstancesPerNode(1)
      .setMinInfoGain(0.0)
      .setMaxMemoryInMB(256)
      .setCacheNodeIds(false)
      .setCheckpointInterval(10)
      .setSeed(12345L)
    new Pipeline().setStages(Array(indexer, assembler, gbt))
  }

  /** Train the pass and run models on their PlayType subsets (the
    * reference ships two separately-fitted models; SURVEY.md §2.3). */
  def train(plays: DataFrame): (PipelineModel, PipelineModel) = {
    val p = build()
    // 29k rows fit comfortably in memory; cache so the two fits and
    // the indexer's frequency count don't rescan the source. A cache
    // the caller already holds is theirs: use it, leave it in place.
    val owned = plays.storageLevel == StorageLevel.NONE
    val cached = if (owned) plays.cache() else plays
    try {
      val passModel = p.fit(cached.filter(col("PlayType") === "Pass"))
      val runModel = p.fit(cached.filter(col("PlayType") === "Run"))
      (passModel, runModel)
    } finally if (owned) cached.unpersist()
  }

  def save(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  def load(path: String): PipelineModel = PipelineModel.load(path)

  /** The pass and run models saved under `modelDir`; when none are
    * saved there, fit them on `plays` and save them there first.
    * `plays` is only read when the models must be fitted. */
  def loadOrTrain(modelDir: String, plays: => DataFrame): (PipelineModel, PipelineModel) = {
    val (pass, run) = (s"$modelDir/nfl_model_pass", s"$modelDir/nfl_model_run")
    if (new java.io.File(pass).isDirectory) (load(pass), load(run))
    else {
      val m = train(plays)
      save(m._1, pass)
      save(m._2, run)
      m
    }
  }
}
