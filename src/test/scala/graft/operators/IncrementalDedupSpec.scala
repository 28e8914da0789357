package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q162: incremental dedup vs a persisted band index — equivalence to
  * from-scratch clustering, index-side zero-exchange plan, and the
  * updated-index round trip. */
class IncrementalDedupSpec extends SparkSpec {

  test("incremental clustering equals from-scratch clustering of the union") {
    val incr = Dedup.incrementalDedupClusters(sf001)
    val scratch = Dedup.dedupClustersFast(sf001)
      .select(col("doc_id"), col("cluster_id"), col("is_keeper"))
    assert(incr.count() === sf001.documents.count())
    assert(incr.exceptAll(scratch).isEmpty && scratch.exceptAll(incr).isEmpty,
      "incremental result diverges from one-shot clustering")
  }

  test("the band join reads the index buckets without an index-side exchange") {
    import spark.implicits._
    // force the index to exist (memoized build)
    Dedup.incrementalDedupClusters(sf001).count()
    val idx = graft.State.name(sf001, "dedup_idx", "documents")
    val idxBands = spark.table(s"${idx}_bands")
    val delta = sf001.documents.filter(($"doc_id" % 10) === 0)
    val dd = Dedup.shingledDocs(delta, $"doc_id", $"text", 3)
    val joined = Dedup.flatBands(dd, 16, 2)
      .select($"doc_id".as("id_d"), $"bk").hint("merge")
      .join(idxBands.select($"doc_id".as("id_i"), $"bk"), Seq("bk"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // exactly ONE exchange: the delta side shuffling into the index's
    // bucket layout; the bucketed index scan plans exchange-free
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected only the delta-side exchange:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"index scan should use the bucket layout:\n$plan")
  }

  test("updated index serves the next delta identically to a rebuild") {
    import spark.implicits._
    // three-way split: 80% base, 10% delta1 (absorbed into the updated
    // index), 10% delta2 deduped against it — must equal from-scratch
    val m = ($"doc_id" % 10)
    val base = sf001.documents.filter(m =!= 0 && m =!= 1)
    val delta1 = sf001.documents.filter(m === 1)
    val delta2 = sf001.documents.filter(m === 0)
    Dedup.buildDedupIndex(base, $"doc_id", $"text", "graft_test_idx_a")
    Dedup.updateDedupIndex(delta1, $"doc_id", $"text",
      "graft_test_idx_a", "graft_test_idx_b")
    val incr = Dedup.dedupIncrementalOver(delta2, $"doc_id", $"text",
      "graft_test_idx_b")
    val scratch = Dedup.dedupClustersFast(sf001)
      .select(col("doc_id"), col("cluster_id"), col("is_keeper"))
    assert(incr.exceptAll(scratch).isEmpty && scratch.exceptAll(incr).isEmpty,
      "two-step incremental result diverges from one-shot clustering")
  }
}
