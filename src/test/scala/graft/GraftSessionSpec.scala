package graft

import org.scalatest.funsuite.AnyFunSuite

/** The settings every graft session shares, read from the factory's
  * value without starting a session: a main that drifts from them
  * fails here instead of in a run. */
class GraftSessionSpec extends AnyFunSuite {

  test("a session gets the extension, UTC, nanos-as-long, no UI, and the slots and partitions given") {
    val s = GraftSession.settings(shufflePartitions = 6, cpus = 3)
    assert(s("spark.sql.extensions") === "graft.expr.GraftExtensions")
    assert(s("spark.sql.session.timeZone") === "UTC")
    assert(s("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s("spark.ui.enabled") === "false")
    assert(s("spark.master") === "local[3]")
    assert(s("spark.sql.shuffle.partitions") === "6")
    assert(GraftSession.settings(5)("spark.master") === s"local[${GraftSession.cpus}]")
  }

  test("cpus follows SPARK_GRAFT_CPUS, else the host's cores") {
    assert(GraftSession.cpusOf(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(GraftSession.cpusOf(Map.empty) === Runtime.getRuntime.availableProcessors())
    assert(GraftSession.cpus === GraftSession.cpusOf(sys.env))
  }
}
