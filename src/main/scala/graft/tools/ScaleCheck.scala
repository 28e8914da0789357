package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Scale self-consistency check for the linear dedup pipeline at SFs
  * where the DuckDB brute-force pair oracle is intractable (the 50k-doc
  * generated sf1 corpus is ~1.25e9 candidate pairs).
  *
  * Ground truth comes from the GENERATOR's planted structure instead:
  * `ScaleUp … withDocs` makes every original document's `factor`
  * replicas near-duplicates of each other (suffix-token change only,
  * shingle jaccard ≈ 0.95), so the within-replica-group pairs whose
  * EXACT shingle distance clears the threshold — computed here
  * directly, ~factor²/2 pairs per original, linear overall — must ALL
  * be emitted by the banding path (recall on the planted truth), and
  * q103's clustering must co-label every such pair (its edges come
  * from the same banding mine, but through the full CC composition).
  *
  * Usage: runMain graft.tools.ScaleCheck <scaledSfDir> <factor>
  */
object ScaleCheck {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ScaleCheck <scaledSfDir> <factor>")
    val (dir, factor) = (args(0), args(1).toInt)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.TextFunctions.{jaccardSorted, shingles}
    val t = Tables(spark, dir)
    val maxDist = 0.4

    def fail(msg: String): Nothing = {
      System.err.println(s"[scalecheck] FAIL: $msg")
      spark.stop(); sys.exit(1)
    }

    // replica group = original doc id (ScaleUp: new id = orig + rep·stride)
    val stride = (t.documents.agg(max(col("doc_id"))).head().getLong(0) + 1) / factor
    val docs = t.documents
      .select(col("doc_id"), pmod(col("doc_id"), lit(stride)).as("grp"),
        array_sort(shingles(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(true)
    // planted truth: within-group pairs at exact distance <= maxDist —
    // group sizes are `factor`, so this is factor²/2 · originals pairs,
    // linear in the corpus, no banding involved
    val truth = docs.select(col("grp"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(docs.select(col("grp"), col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("grp"))
      .filter(col("id_a") < col("id_b"))
      .filter(lit(1.0) - jaccardSorted(col("sh_a"), col("sh_b")) <= maxDist)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val nTruth = truth.count()

    val banded = Dedup.minhashPairsFast(t, maxDist).select(col("id_a"), col("id_b"))
    val missed = truth.join(banded, Seq("id_a", "id_b"), "left_anti").count()
    if (missed != 0) fail(s"q51 banding missed $missed of $nTruth planted true pairs")
    println(s"[scalecheck] q51 recall on planted truth: $nTruth/$nTruth pairs found")

    val labels = Dedup.dedupClustersFast(t, maxDist)
      .select(col("doc_id"), col("cluster_id"))
    val split = truth
      .join(labels.select(col("doc_id").as("id_a"), col("cluster_id").as("c_a")), Seq("id_a"))
      .join(labels.select(col("doc_id").as("id_b"), col("cluster_id").as("c_b")), Seq("id_b"))
      .filter(col("c_a") =!= col("c_b")).count()
    if (split != 0) fail(s"q103 split $split planted true pairs across clusters")
    println(s"[scalecheck] q103 co-labels all $nTruth planted pairs — consistent")
    spark.stop()
  }
}
