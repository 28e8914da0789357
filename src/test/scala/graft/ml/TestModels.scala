package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Train-once cache shared by every suite in the test JVM (GBT
  * training is the expensive fixture), over two play sources:
  *  - `fixturePlays` / `fixtureModels`: the seeded in-repo table of
  *    `PlayFixture`, for specs of program behaviour (~3,000 rows);
  *  - `referencePlays` / `referenceModels`: the reference's own
  *    `nfldata2.csv` (29,412 rows; both fits take ~30 s), for specs of
  *    facts of that data. It lies outside the repository, so those
  *    specs `assume(referencePresent, ...)` first. */
object TestModels {

  val referenceCsv: String = TrainMain.DefaultCsv

  def referencePresent: Boolean = new java.io.File(referenceCsv).isFile

  private lazy val fixtureCsv: String = PlayFixture.write()

  private val plays = scala.collection.mutable.Map.empty[String, DataFrame]
  private val models =
    scala.collection.mutable.Map.empty[String, (PipelineModel, PipelineModel)]

  private def playsOf(spark: SparkSession, csv: String): DataFrame = synchronized {
    plays.getOrElseUpdate(csv,
      PlayFeatures.derive(PlayFeatures.readCsv(spark, csv)).cache())
  }

  private def modelsOf(spark: SparkSession, csv: String): (PipelineModel, PipelineModel) =
    synchronized {
      models.getOrElseUpdate(csv, PlayPipeline.train(playsOf(spark, csv)))
    }

  def fixturePlays(spark: SparkSession): DataFrame = playsOf(spark, fixtureCsv)

  def fixtureModels(spark: SparkSession): (PipelineModel, PipelineModel) =
    modelsOf(spark, fixtureCsv)

  def referencePlays(spark: SparkSession): DataFrame = playsOf(spark, referenceCsv)

  def referenceModels(spark: SparkSession): (PipelineModel, PipelineModel) =
    modelsOf(spark, referenceCsv)
}
