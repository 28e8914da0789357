package graft.streaming

import graft.operators.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CDC upsert materialization — the production shape for
  * "keep a queryable snapshot table fresh from a change stream":
  * `foreachBatch` folds every micro-batch of the change feed into the
  * maintained snapshot with [[Cdc.mergeApply]]. This is exactly the
  * pattern Structured Streaming documents for upsert sinks (the sink
  * API is append-only; merge semantics live in the batch hook), and
  * its correctness rests on the algebra CdcSpec proves: mergeApply is
  * ASSOCIATIVE across any split of the log, so ANY micro-batch
  * chunking folds to the same snapshot as one batch pass — q172's
  * oracle is therefore the plain full-slice latest-wins window, never
  * seeing the chunking.
  *
  * Scale posture: per micro-batch the work is one map-side-combinable
  * min_by agg over the DELTA plus one keyed full-outer join against
  * the snapshot — O(batch + touched-keys), the same cost envelope as
  * the batch q167 view maintenance. In production the snapshot side
  * is a bucketed/partitioned table (Delta/Iceberg MERGE target); here
  * it rides as an eagerly-checkpointed frame so the replay's lineage
  * stays bounded across batches (the StreamRecovery recipe). The
  * driver never sees row data — only the final snapshot is returned.
  */
object StreamCdc {

  /** q172 — replay the first-week event change log in
    * [[StreamReplay.Chunks]] micro-batches through a
    * foreachBatch upsert; return the final maintained snapshot. Must
    * hash-equal the batch latest-wins snapshot of the same slice. */
  def cdcUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (slice, _) = StreamReplay.eventSlice(spark, dir)
    val snap = StreamReplay.fold(spark, slice) { _ =>
      // the maintained snapshot — swapped per micro-batch, eagerly
      // checkpointed so lineage/CacheManager never see a growing chain.
      // @volatile: written on the stream-execution thread inside
      // foreachBatch, read by the caller thread after the last batch —
      // make the cross-thread publication explicit rather than riding
      // on StreamExecution's internal locking
      @volatile var snapshot: Option[DataFrame] = None
      (batch => {
        val log = batch
          .select($"user_id".as("key"),
            graft.functions.TimeFunctions.tsMicros($"ts").as("us"),
            $"event_id".as("seq"),
            when($"event_type" === "error", "D").otherwise("U").as("op"),
            $"value", $"event_type".as("etype"))
        snapshot = Some(Cdc.mergeApply(snapshot, log).localCheckpoint(true))
      }, () => snapshot)
    }.getOrElse(sys.error("stream produced no batches — empty fixture slice?"))
    StreamReplay.rehome(spark, snap)
      .select($"key".as("user_id"), $"value", $"etype",
        timestamp_micros($"us").as("updated_ts"))
      .orderBy($"user_id")
  }

  /** q194 — streaming SCD2 maintenance: the history table kept fresh
    * from the change stream. The first micro-batch assembles the
    * dimension with [[Cdc.scd2Over]]; every later one MERGES via
    * [[Cdc.scd2Increment]] — closed versions immutable, each touched
    * key's open version re-entering as the synthetic leading upsert.
    * Contiguous (us, seq)-ordered chunks are exactly the increment's
    * precondition, and the increment identity makes ANY such chunking
    * fold to the full-log assembly — so q194's oracle IS q159's, blind
    * to the chunking (StreamCdcSpec pins stream ≡ one-shot batch).
    * Per batch: O(batch + open-versions-of-touched-keys) — the closed
    * history is never rewritten, the production SCD2-merge shape. */
  def scd2Stream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (slice, _) = StreamReplay.eventSlice(spark, dir)
    val history = StreamReplay.fold(spark, slice) { _ =>
      @volatile var dim: Option[DataFrame] = None
      (batch => {
        val log = batch
          .select($"user_id".as("key"),
            graft.functions.TimeFunctions.tsMicros($"ts").as("us"),
            $"event_id".as("seq"),
            when($"event_type" === "error", "D").otherwise("U").as("op"),
            $"value", $"event_type".as("etype"))
        dim = Some((dim match {
          case None    => Cdc.scd2Over(log)
          case Some(d) => Cdc.scd2Increment(d, log)
        }).localCheckpoint(true))
      }, () => dim)
    }.getOrElse(sys.error("stream produced no batches — empty fixture slice?"))
    StreamReplay.rehome(spark, history)
      .select($"key".as("user_id"), $"value", $"etype",
        timestamp_micros($"valid_from_us").as("valid_from"),
        timestamp_micros($"valid_to_us").as("valid_to"), $"is_current")
      .orderBy($"user_id", $"valid_from")
  }
}
