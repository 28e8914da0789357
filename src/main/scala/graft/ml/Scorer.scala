package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One scoring request — the 10 fields of the reference's `/api`
  * JSON contract (reference `assets/app_nfl.py:286-297`). */
final case class PlayRequest(
    qtr: Int, down: Int, TimeSecs: Int, yrdline100: Int, ydstogo: Int,
    ydsnet: Int, month_day: Int, posteam: String, DefensiveTeam: String,
    PlayType_lag: String)

/** Result of the two-model argmax (reference `assets/app_nfl.py:151-160`):
  * score both models, recommend the play predicted to gain more yards. */
final case class PlayPrediction(
    bestPlay: String, passingYards: Double, runningYards: Double)

/** Serving-side scorer: both fitted models preloaded once (the
  * reference preloads at startup, `assets/app_nfl.py:337-338`), then
  * per-request 1-row transform + head.
  */
final class Scorer(spark: SparkSession, passModel: PipelineModel, runModel: PipelineModel) {

  private val requestSchema = StructType(Seq(
    StructField("qtr", IntegerType), StructField("down", IntegerType),
    StructField("TimeSecs", IntegerType), StructField("yrdline100", IntegerType),
    StructField("ydstogo", IntegerType), StructField("ydsnet", IntegerType),
    StructField("month_day", IntegerType), StructField("posteam", StringType),
    StructField("DefensiveTeam", StringType), StructField("PlayType_lag", StringType)))

  private def toDf(r: PlayRequest): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row(
        r.qtr, r.down, r.TimeSecs, r.yrdline100, r.ydstogo, r.ydsnet,
        r.month_day, r.posteam, r.DefensiveTeam, r.PlayType_lag)),
      requestSchema)

  private def predictOne(model: PipelineModel, df: DataFrame): Double =
    model.transform(df).select("prediction").head().getDouble(0)

  /** §3.1 semantics: two 1-row transforms, argmax. */
  def scoreOne(r: PlayRequest): PlayPrediction = {
    val df = toDf(r)
    val pass = predictOne(passModel, df)
    val run = predictOne(runModel, df)
    val best = if (pass > run) "Passing Play" else "Running Play"
    PlayPrediction(best, pass, run)
  }

  // ── driver-local fast path ───────────────────────────────────────────
  // A 1-row `transform` pays Catalyst analysis + codegen per request
  // (~100 ms). The fitted pipeline is three deterministic steps —
  // label lookup, vector assembly, tree-ensemble walk — all pure JVM,
  // so serving evaluates them directly: same stages, same doubles
  // (asserted exact in ScorerSpec), microseconds per request. The
  // `transform` path stays as the semantic reference and the batch
  // path (SURVEY.md §7 hard part c).

  private def localScorer(model: PipelineModel): PlayRequest => Double = {
    // resolve stages by TYPE, not position — a reshaped pipeline (extra
    // stage, reordered stages) fails here with a clear message at
    // construction, not with a ClassCastException on the first request
    def stage[S <: org.apache.spark.ml.Transformer](implicit ct: scala.reflect.ClassTag[S]): S =
      model.stages.collectFirst { case s: S => s }.getOrElse(
        throw new IllegalArgumentException(
          s"pipeline has no ${ct.runtimeClass.getSimpleName} stage " +
            s"(stages: ${model.stages.map(_.getClass.getSimpleName).mkString(", ")})"))
    val indexer = stage[org.apache.spark.ml.feature.StringIndexerModel]
    val labelToIndex: Map[String, Double] = indexer.labelsArray(0)
      .zipWithIndex.map { case (l, i) => l -> i.toDouble }.toMap
    val assembler = stage[org.apache.spark.ml.feature.VectorAssembler]
    val gbt = stage[org.apache.spark.ml.regression.GBTRegressionModel]
    val field: Map[String, PlayRequest => Double] = Map(
      "qtr" -> (_.qtr.toDouble), "down" -> (_.down.toDouble),
      "TimeSecs" -> (_.TimeSecs.toDouble), "yrdline100" -> (_.yrdline100.toDouble),
      "ydstogo" -> (_.ydstogo.toDouble), "ydsnet" -> (_.ydsnet.toDouble),
      "month_day" -> (_.month_day.toDouble),
      // handleInvalid=error parity: unseen label throws, like the
      // fitted StringIndexerModel (reference behavior, SURVEY §7a) —
      // as a bad argument, since the label comes from the request
      "PlayType_lag_index" -> (r => labelToIndex.getOrElse(r.PlayType_lag,
        throw new IllegalArgumentException(
          s"Unseen label in PlayType_lag: ${r.PlayType_lag}"))))
    val getters = assembler.getInputCols.map(field)
    r => gbt.predict(
      org.apache.spark.ml.linalg.Vectors.dense(getters.map(_(r))))
  }

  // built at construction (not lazily): a pipeline-shape mismatch
  // fails when the Scorer is created — i.e. at server startup — rather
  // than on the first live request
  private val passLocal = localScorer(passModel)
  private val runLocal = localScorer(runModel)

  /** Same result as [[scoreOne]] without a Spark job per request. An
    * unseen `PlayType_lag` throws IllegalArgumentException naming the
    * field and the label. */
  def scoreOneFast(r: PlayRequest): PlayPrediction = {
    val pass = passLocal(r)
    val run = runLocal(r)
    val best = if (pass > run) "Passing Play" else "Running Play"
    PlayPrediction(best, pass, run)
  }

  /** Vectorized batch scoring: one distributed transform per model,
    * no per-row driver round trips — the path that scales. */
  def scoreBatch(plays: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val pass = passModel.transform(plays)
      .withColumnRenamed("prediction", "passing_yards")
      .drop("PlayType_lag_index", "features")
    val run = runModel.transform(pass)
      .withColumnRenamed("prediction", "running_yards")
      .drop("PlayType_lag_index", "features")
    run.withColumn("best_play",
      when(col("passing_yards") > col("running_yards"), lit("Passing Play"))
        .otherwise(lit("Running Play")))
  }
}
