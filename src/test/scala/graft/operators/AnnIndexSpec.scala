package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q182: the persisted IVF-PQ index lifecycle — probe-from-disk ≡
  * probe-from-memory, frozen-quantizer delta append ≡ rebuild, probes
  * prune to the probed partitions, and the recall gate holds. */
class AnnIndexSpec extends SparkSpec {

  private def emb = sf001.embeddings.select(col("vec_id"), col("embedding"))

  test("an empty embedding corpus fails fast, naming the empty corpus") {
    import spark.implicits._
    val empty = emb.filter(lit(false))
    val viaProbe = intercept[IllegalArgumentException] {
      Similarity.annPqOver(empty, $"vec_id", $"embedding", _ < 5).collect()
    }
    assert(viaProbe.getMessage.contains("empty embedding corpus"))
    val viaIndex = intercept[IllegalArgumentException] {
      Similarity.buildAnnIndex(empty, $"vec_id", $"embedding", "graft_test_ann_empty")
    }
    assert(viaIndex.getMessage.contains("empty embedding corpus"))
  }

  test("probe from the persisted index equals the in-memory IVF-PQ path") {
    import spark.implicits._
    Similarity.buildAnnIndex(sf001.embeddings, $"vec_id", $"embedding",
      "graft_test_ann_same")
    val probes = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val fromDisk = Similarity.annIndexProbe(spark, "graft_test_ann_same",
      probes, emb).collect()
    val inMem = Similarity.annPq(sf001).collect()
    // parquet doubles round-trip bit-exactly, the fits are seeded on
    // identical input → ranks AND cosines must match row for row
    assert(fromDisk.length === inMem.length)
    fromDisk.zip(inMem).foreach { case (a, b) =>
      assert(a === b, s"disk probe diverged: $a vs $b")
    }
  }

  test("frozen-quantizer delta append equals a rebuild encoding the union") {
    import spark.implicits._
    val base = sf001.embeddings.filter($"vec_id" % 10 =!= 7)
    val delta = sf001.embeddings.filter($"vec_id" % 10 === 7)
    Similarity.buildAnnIndex(base, $"vec_id", $"embedding",
      "graft_test_ann_two")
    Similarity.updateAnnIndex(delta, $"vec_id", $"embedding",
      "graft_test_ann_two")
    Similarity.buildAnnIndex(sf001.embeddings, $"vec_id", $"embedding",
      "graft_test_ann_rebuild", trainOn = Some(base))
    val a = spark.table("graft_test_ann_two")
      .select($"vec_id", $"ivf_list", $"codes")
    val b = spark.table("graft_test_ann_rebuild")
      .select($"vec_id", $"ivf_list", $"codes")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "two-step index diverges from the frozen-training rebuild")
    // the models themselves must be identical (training never saw the
    // delta in either path)
    assert(Similarity.loadPqModel(spark, "graft_test_ann_two") ===
      Similarity.loadPqModel(spark, "graft_test_ann_rebuild"))
  }

  test("probe scan prunes to the probed ivf_list partitions") {
    import spark.implicits._
    Similarity.buildAnnIndex(sf001.embeddings, $"vec_id", $"embedding",
      "graft_test_ann_prune")
    val probes = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val probe = Similarity.annIndexProbe(spark, "graft_test_ann_prune",
      probes, emb)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    // the index scan must carry a runtime partition filter on the
    // probed lists (dynamic partition pruning off the broadcast side)
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the index scan:\n$plan")
  }

  test("q182 gate: recall >= 0.9 from the appended index at sf0.001") {
    val r = Similarity.annIndexGate(sf001).collect()
    assert(r.length === 5 && r.forall(_.getBoolean(1)),
      s"recall gate failed: ${r.mkString(", ")}")
  }

  // ── filtered search (q188) ──────────────────────────────────────────

  test("filtered probe returns only eligible ids and pre-filters the scan") {
    import spark.implicits._
    Similarity.buildAnnIndex(sf001.embeddings, $"vec_id", $"embedding",
      "graft_test_ann_filt")
    val probes = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val pred = col("vec_id") % 3 === 0
    val got = Similarity.annIndexProbeWhere(spark, "graft_test_ann_filt",
      probes, emb.filter(pred), pred, nProbe = 8, rerank = 400)
    assert(got.filter(col("vec_id") % 3 =!= 0).count() === 0,
      "filtered probe surfaced an ineligible id")
    // pre-filter semantics: identical to probing an index that only
    // ever CONTAINED the eligible rows (same frozen training, so the
    // same codes) — the strongest form of "the filter reaches the
    // scan, it doesn't post-trim a mixed shortlist"
    Similarity.buildAnnIndex(sf001.embeddings.filter(pred),
      $"vec_id", $"embedding", "graft_test_ann_filtref",
      trainOn = Some(sf001.embeddings))
    val refProbe = Similarity.annIndexProbe(spark,
      "graft_test_ann_filtref", probes, emb.filter(pred),
      nProbe = 8, rerank = 400)
    assert(got.exceptAll(refProbe).isEmpty && refProbe.exceptAll(got).isEmpty,
      "filtered probe diverges from the eligible-only index probe")
    assert(got.count() > 0)
  }

  test("q188 gate: filtered recall >= 0.9 at sf0.001") {
    val r = Similarity.annFilteredGate(sf001).collect()
    assert(r.length === 5 && r.forall(x => x.getBoolean(1) && x.getBoolean(2)),
      s"filtered gate failed: ${r.mkString(", ")}")
  }

  // ── tombstone deletes + compaction (q189) ──────────────────────────

  test("tombstoned ids vanish from probes; compaction changes nothing") {
    import spark.implicits._
    Similarity.buildAnnIndex(sf001.embeddings, $"vec_id", $"embedding",
      "graft_test_ann_del")
    val probes = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val survivors = emb.filter($"vec_id" % 10 =!= 3)
    val before = Similarity.annIndexProbe(spark, "graft_test_ann_del",
      probes, emb)
    assert(before.filter($"vec_id" % 10 === 3).count() > 0,
      "fixture must surface the to-be-deleted cohort pre-delete")
    Similarity.deleteFromAnnIndex(
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"),
      "graft_test_ann_del")
    val tombed = Similarity.annIndexProbe(spark, "graft_test_ann_del",
      probes, survivors)
    assert(tombed.filter($"vec_id" % 10 === 3).count() === 0,
      "tombstoned id surfaced in a probe")
    val tombedRows = tombed.collect()
    // delete is idempotent: deleting the same cohort again is a no-op
    Similarity.deleteFromAnnIndex(
      emb.filter($"vec_id" % 10 === 3 && $"vec_id" < 100).select($"vec_id"),
      "graft_test_ann_del")
    val again = Similarity.annIndexProbe(spark, "graft_test_ann_del",
      probes, survivors).collect()
    assert(tombedRows.toSeq === again.toSeq, "re-delete changed the probe")
    // the sidecar is bounded by DISTINCT deleted ids — the re-delete
    // above must not have appended duplicate tombstone rows
    val distinctDeleted = emb.filter($"vec_id" % 10 === 3).count()
    assert(spark.table("graft_test_ann_del_tombs").count() === distinctDeleted,
      "re-delete grew the tombstone sidecar past the distinct-id bound")
    // compaction: physical rewrite, identical answers, tombstones gone
    // — and exactly ONE data write (the swap is a directory move, not
    // a second rewrite; counted via a write-command listener)
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val wl = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe.optimizedPlan.getClass.getSimpleName
            .contains("InsertIntoHadoopFsRelationCommand"))
          writes.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(wl)
    try {
      Similarity.compactAnnIndex(spark, "graft_test_ann_del")
      // listener delivery is async on the shared bus — settle
      val deadline = System.nanoTime() + 10_000_000_000L
      while (writes.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(200) // catch a late second write, if any
      assert(writes.get() === 1,
        s"compaction must write the survivors exactly once, saw ${writes.get()}")
    } finally spark.listenerManager.unregister(wl)
    assert(!spark.catalog.tableExists("graft_test_ann_del_tombs"),
      "compaction must clear the tombstone sidecar")
    assert(spark.table("graft_test_ann_del")
      .filter($"vec_id" % 10 === 3).count() === 0,
      "compaction left deleted rows in the index")
    val compacted = Similarity.annIndexProbe(spark, "graft_test_ann_del",
      probes, survivors).collect()
    assert(tombedRows.toSeq === compacted.toSeq,
      "compaction changed probe results")
    // the re-registered (path-swapped) table stays a full lifecycle
    // citizen: frozen-quantizer appends land in it and are probe-visible
    val preAppend = spark.table("graft_test_ann_del").count()
    Similarity.updateAnnIndex(
      sf001.embeddings.filter($"vec_id" < 8)
        .select(($"vec_id" + 1000000000L).as("vec_id"), $"embedding"),
      $"vec_id", $"embedding", "graft_test_ann_del")
    // 8 vectors × nAssign=3 multi-assignment rows each
    assert(spark.table("graft_test_ann_del").count() === preAppend + 24,
      "append after compaction did not land in the swapped table")
  }

  test("a probe inside the retrain swap window raises, never wrong distances") {
    import spark.implicits._
    Similarity.buildAnnIndex(
      sf001.embeddings.filter($"vec_id" < 300),
      $"vec_id", $"embedding", "graft_test_ann_epoch")
    val probes = sf001.embeddings.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val raw = sf001.embeddings.filter($"vec_id" < 300)
      .select($"vec_id", $"embedding")
    // healthy index: epochs agree, probe answers
    assert(Similarity.annIndexProbe(spark, "graft_test_ann_epoch",
      probes, raw).count() > 0)
    // inject the exact mid-swap state retrainAnnIndex passes through:
    // index already stamped with the NEW generation, meta sidecar
    // still the old one — the probe must raise loudly instead of
    // ranking the new codes under the old quantizers' distances
    val old = Similarity.metaEpoch(spark, "graft_test_ann_epoch")
    spark.sql("ALTER TABLE graft_test_ann_epoch SET TBLPROPERTIES " +
      s"('graft.epoch' = '${old + 1}')")
    val e = intercept[IllegalStateException] {
      Similarity.annIndexProbe(spark, "graft_test_ann_epoch", probes, raw)
    }
    assert(e.getMessage.contains("epoch mismatch"),
      s"expected the epoch-mismatch raise, got: $e")
    // swap completes (property restored) → probes answer again
    spark.sql("ALTER TABLE graft_test_ann_epoch SET TBLPROPERTIES " +
      s"('graft.epoch' = '$old')")
    assert(Similarity.annIndexProbe(spark, "graft_test_ann_epoch",
      probes, raw).count() > 0)
  }

  test("q189 gate: post-delete recall >= 0.9 at sf0.001") {
    val r = Similarity.annDeleteGate(sf001).collect()
    assert(r.length === 5 && r.forall(x => x.getBoolean(1) && x.getBoolean(2)),
      s"delete gate failed: ${r.mkString(", ")}")
  }
}
