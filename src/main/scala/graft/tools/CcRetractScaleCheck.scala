package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.functions._

/** Engine-side equality check for the delete-capable CC increment at
  * generated SFs where the DuckDB closure oracle is intractable
  * (q202's documented class): ccApplyChanges over the persisted q208
  * state must equal the from-scratch distributed closure over
  * (base \ D) ∪ I. Prints one PASS/FAIL line per sfDir argument —
  * the sf1+ evidence row the board cites for q208/q210. */
object CcRetractScaleCheck {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CcRetractScaleCheck <sfDir> [<sfDir> ...]")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.register(spark)
    import spark.implicits._
    args.foreach { dir =>
      val t = Tables(spark, dir)
      val t0 = System.nanoTime()
      val got = Graph.ccCoPurchaseRetract(t)
      val truth = Dedup.connectedComponents(
          t.customer.select($"c_custkey"),
          Graph.customerCoEdges(t).filter(($"a" + $"b") % 7 =!= 0))
        .select($"id".as("c_custkey"), $"component")
      val diff = got.exceptAll(truth).count() + truth.exceptAll(got).count()
      val n = got.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val verdict = if (diff == 0 && n > 0) "PASS" else "FAIL"
      println(f"""{"check":"cc_retract","sf":"$dir","verdict":"$verdict","rows":$n,"diff":$diff,"sec":$secs%.1f}""")
    }
    spark.stop()
  }
}
