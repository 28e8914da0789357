package graft.streaming

import graft.{State, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** One embedding-ingest row under replay. */
case class ReplayVec(vec_id: Long, embedding: Array[Float])

/** Streaming ANN index maintenance (q205) — the missing streaming
  * member of the stateful families: dedup, ER, CDC/IVM, and SCD2 all
  * have foreachBatch twins; the vector store didn't. Each micro-batch
  * of new embeddings folds into the persisted IVF-PQ index through
  * [[Similarity.updateAnnIndex]] — encode against the FROZEN
  * quantizers, append into the partitioned layout. The fold is
  * associative by construction (encoding is per-row against
  * constants), so ANY chunking of the ingest produces exactly the
  * rows of a one-shot batch append — StreamAnnSpec pins the set
  * equality and the probe identity, and the driver-visible gate holds
  * the streamed index to the q182 recall contract against the
  * full-corpus brute-force truth.
  *
  * State posture: the ONLY cross-batch state is the frozen-model
  * sidecar (one row, ~9 KB), the nList-row per-list count sidecar
  * (rolled forward per batch for the q204 drift detector), and the
  * index table itself — no in-memory fold state at all, which is what
  * makes this the
  * production `foreachBatch` ingest shape (a real deployment points
  * the same two tables at object storage; drift-triggered retrains
  * are q204's job, on their own schedule). Per batch the cost is
  * O(batch): encode + one partitioned append; the existing corpus is
  * never rescanned, never reshuffled. */
object StreamAnn {

  // two data micro-batches — one real cross-batch append at the
  // minimum turnaround cost (the StreamIvm/StreamGraph rationale)
  private val Chunks = 2

  /** Build the base index (all but the vec_id%10==7 cohort) once per
    * fixture, then stream the held-out cohort through the foreachBatch
    * append in [[Chunks]] micro-batches. */
  private[streaming] def ensureStreamedIndex(spark: SparkSession,
      dir: String): String = {
    val t = Tables(spark, dir)
    import spark.implicits._
    State.ensure(t, "ann_stream", "embeddings") { name =>
      Similarity.buildAnnIndex(t.embeddings.filter($"vec_id" % 10 =!= 7),
        $"vec_id", $"embedding", name)
      val deltaRows = State.memo(t.spark.sparkContext, s"q205:${t.dir}") {
        t.embeddings.filter($"vec_id" % 10 === 7)
          .select($"vec_id", $"embedding")
          .orderBy($"vec_id").as[ReplayVec].collect().toSeq
      }
      val chunks =
        if (deltaRows.isEmpty) Seq(Seq.empty[ReplayVec])
        else deltaRows.grouped(
          math.max(1, (deltaRows.length + Chunks - 1) / Chunks)).toSeq
      val ss = spark.newSession()
      graft.expr.GraftFunctions.register(ss)
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      implicit val sqlCtx: SQLContext = ss.sqlContext
      val input = MemoryStream[ReplayVec]
      val ckDir = StreamReplay.checkpointDir("graft_stream_ann_")
      val q = input.toDS().writeStream
        .option("checkpointLocation", ckDir.getPath)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[ReplayVec], _: Long) =>
            Similarity.updateAnnIndex(batch.toDF(), col("vec_id"),
              col("embedding"), name)
            (): Unit
        }
        .start()
      try {
        chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      } finally {
        q.stop()
        graft.Tables.deleteRec(ckDir)
      }
      // the appends ran in the cloned streaming session; the CALLER's
      // session already holds a relation-cache snapshot of the index
      // (the build's per-list count pass read it), and cross-session
      // appends don't invalidate it — refresh, or the caller reads the
      // pre-stream file listing
      spark.catalog.refreshTable(name)
    }
  }

  /** q205 — the streamed index answers the q182 probes under the same
    * recall contract: mean recall@10 ≥ 0.9 vs the full-corpus
    * brute-force truth. A stream that dropped, duplicated, or
    * mis-encoded any batch fails the gate (and StreamAnnSpec's
    * stronger row-set equality vs the one-shot batch append). */
  def annIngestGate(spark: SparkSession, dir: String): DataFrame =
    Similarity.annTableGate(Tables(spark, dir),
      ensureStreamedIndex(spark, dir))
}
