package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Feature derivations must reproduce the CSV's own precomputed
  * month_day / PlayType_lag columns (the strongest available oracle:
  * the reference ships both derived columns in its data). Every check
  * is a fact of the reference's `nfldata2.csv`, so each runs only where
  * that file is present. */
class PlayFeaturesSpec extends SparkSpec {

  private lazy val raw =
    PlayFeatures.readCsv(spark, TestModels.referenceCsv).cache()

  private def assumeReference(): Unit =
    assume(TestModels.referencePresent, "reference nfldata2.csv not present")

  test("CSV parses all 29,412 rows with no corrupt records") {
    assumeReference()
    assert(raw.count() === 29412)
    assert(raw.filter(col("GameID").isNull).count() === 0)
    assert(raw.filter(col("PlayType").isNull).count() === 0)
  }

  test("negative TimeSecs (overtime) survives the int parse") {
    assumeReference()
    assert(raw.agg(min("TimeSecs")).head().getInt(0) < 0)
  }

  test("derived month_day matches the CSV's precomputed column") {
    assumeReference()
    val diff = PlayFeatures.withMonthDay(raw)
      .filter(col("month_day_derived") =!= col("month_day"))
    assert(diff.count() === 0)
  }

  test("derived PlayType_lag matches the CSV's precomputed column") {
    assumeReference()
    val derived = PlayFeatures.withPlayTypeLag(raw)
    val diff = derived.filter(col("PlayType_lag_derived") =!= col("PlayType_lag"))
    assert(diff.count() === 0)
  }

  test("first play of every (GameID, Drive) is FirstPlay") {
    assumeReference()
    val firsts = PlayFeatures.derive(raw)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("GameID", "Drive").orderBy(col("TimeSecs").desc)))
      .filter(col("rn") === 1)
    assert(firsts.filter(col("PlayType_lag") =!= "FirstPlay").count() === 0)
  }

  test("month_day stays within calendar bounds") {
    assumeReference()
    val mm = PlayFeatures.derive(raw)
      .agg(min("month_day"), max("month_day")).head()
    assert(mm.getInt(0) >= 101 && mm.getInt(1) <= 1231)
  }
}
