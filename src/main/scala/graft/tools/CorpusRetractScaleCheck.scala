package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.{Dedup, Relational}
import org.apache.spark.sql.functions._

/** Engine-side equality check for the delete-capable corpus stores at
  * generated SFs where the DuckDB oracles are intractable (the
  * recursive closure + O(n²) pair predicates, q202's documented
  * class): q215's dedupApplyDeletes and q216's erApplyDeletes over
  * the persisted full states must equal the from-scratch engine
  * clustering/resolution of the surviving corpus. Prints one
  * PASS/FAIL line per (check, sfDir) — the sf1+ evidence rows the
  * board cites for q215/q216, CcRetractScaleCheck's pattern. */
object CorpusRetractScaleCheck {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CorpusRetractScaleCheck <sfDir> [<sfDir> ...]")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.register(spark)
    import spark.implicits._
    args.foreach { dir =>
      val t = Tables(spark, dir)

      locally {
        val t0 = System.nanoTime()
        val got = Dedup.dedupDeleteClusters(t)
        val surv = t.documents.filter($"doc_id" % 13 =!= 5)
        val pairs = Dedup
          .minhashPairsOver(surv, $"doc_id", $"text", 0.4, 16, 2)
          .select($"id_a", $"id_b")
        val truth = Dedup.connectedComponents(surv.select($"doc_id"),
            pairs, edgesWithinNodes = true)
          .select($"id".as("doc_id"), $"component".as("cluster_id"),
            ($"id" === $"component").as("is_keeper"))
        val diff = got.exceptAll(truth).count() + truth.exceptAll(got).count()
        val n = got.count()
        val secs = (System.nanoTime() - t0) / 1e9
        val verdict = if (diff == 0 && n > 0) "PASS" else "FAIL"
        println(f"""{"check":"dedup_delete","sf":"$dir","verdict":"$verdict","rows":$n,"diff":$diff,"sec":$secs%.1f}""")
      }

      locally {
        val t0 = System.nanoTime()
        val got = Relational.partGoldenRecordsDelete(t)
        val surv = t.part.filter($"p_partkey" % 17 =!= 3)
        val truth = Relational.goldenRecordsOver(surv, $"p_partkey",
            $"p_brand", $"p_name", 2)
          .select($"cluster_id", $"golden_id", $"golden_name", $"n_members")
        val diff = got.exceptAll(truth).count() + truth.exceptAll(got).count()
        val n = got.count()
        val secs = (System.nanoTime() - t0) / 1e9
        val verdict = if (diff == 0 && n > 0) "PASS" else "FAIL"
        println(f"""{"check":"er_delete","sf":"$dir","verdict":"$verdict","rows":$n,"diff":$diff,"sec":$secs%.1f}""")
      }
    }
    spark.stop()
  }
}
