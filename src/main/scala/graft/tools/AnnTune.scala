package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** ANN parameter sweep: measures mean recall@10 (and the worst probe)
  * of each LSH / IVF configuration against the exact brute-force
  * top-10, per SF dir. This is the evidence behind the production
  * defaults in [[Similarity.annLsh]] / [[Similarity.annIvf]] and the
  * q101/q102 gate floor — rerun after touching either index.
  *
  * Usage: runMain graft.tools.AnnTune <sfDir> [<sfDir> ...]
  */
object AnnTune {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnnTune <sfDir> [<sfDir> ...]")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (dir <- args) {
      val t = Tables(spark, dir)
      val exact = Similarity.knnBruteForce(t)
        .select(col("q_id"), col("vec_id")).cache()
      val nExact = exact.count() // materialize once per SF

      def recall(name: String, ann: org.apache.spark.sql.DataFrame): Unit = {
        val hits = exact.join(ann.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
        val per = exact.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(coalesce(col("h"), lit(0L)).as("h"))
          .collect().map(_.getLong(0).toDouble / 10.0)
        println(f"[anntune] $dir $name mean=${per.sum / per.length}%.2f " +
          f"worst=${per.min}%.2f (n_exact=$nExact)")
      }

      for (tbl <- Seq(4, 8); ham <- Seq(2))
        recall(s"lsh tables=$tbl planes=6 ham=$ham",
          Similarity.annLsh(t, nPlanes = 6, nTables = tbl, probeHamming = ham))
      for {
        (nl, np) <- Seq((16, 4), (16, 5), (16, 6))
        na <- Seq(1, 2, 3)
      } recall(s"ivf nList=$nl nProbe=$np nAssign=$na",
        Similarity.annIvf(t, nList = nl, nProbe = np, nAssign = na))
      recall("ivfpq m=16 ks=32 rerank=200 (defaults)", Similarity.annPq(t))
      exact.unpersist()
    }
    spark.stop()
  }
}
