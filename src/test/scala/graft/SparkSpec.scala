package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy), on a fixed
  * 4 slots so results and plans do not depend on the host. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4, cpus = 4)
      .appName(getClass.getSimpleName)
      .getOrCreate()
    graft.expr.GraftFunctions.register(s)
    s
  }

  lazy val sf001: Tables = Tables(spark, "/root/testdata/sf0.001")
}
