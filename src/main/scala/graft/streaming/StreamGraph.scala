package graft.streaming

import graft.{State, Tables}
import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One undirected edge under replay ([[graft.operators.Graph]]
  * increment shape). */
case class ReplayEdge(a: Long, b: Long)

/** One edge CHANGE under replay: op 'I' (insert) or 'D' (delete). */
case class ReplayEdgeOp(op: String, a: Long, b: Long)

/** Streaming graph maintenance (q210) — the last stateful family to
  * get its foreachBatch twin: dedup (q172-era), CDC (q172), IVM
  * (q177/q187/q199/q207), SCD2 (q194), ER (q198's batch increment),
  * and ANN (q205) all fold deltas through their batch algebra; the
  * graph labeling now does too. Each micro-batch of NEW edges folds
  * through [[Graph.ccIncrementFrames]] — the condensation argument is
  * per-batch exact, and min-label merges are associative across any
  * chunking of an insert log (each batch's merges commute with later
  * ones: the component minimum only ever decreases), so
  * stream(b1…bk) ≡ one-shot increment(∪bᵢ) ≡ the from-scratch
  * closure. q210's oracle is the LAST equality (q202's recursive
  * walk, blind to chunking); StreamGraphSpec pins the first two.
  *
  * Production shape: foreachBatch MERGEs the relabel delta into the
  * component-bucketed state table; here the state rolls forward as a
  * localCheckpoint'd frame (the harness stand-in, as in StreamIvm).
  * Per batch the cost is O(batch + members-of-merged-components) —
  * the labeling is read exchange-free, never rescanned wholesale. */
object StreamGraph {

  /** q210 — stream the q202 delta slice ((a+b) mod 5 ≡ 0 co-purchase
    * edges) through the foreachBatch CC fold in [[StreamReplay.Chunks]]
    * micro-batches over the persisted base labeling; return the final
    * (c_custkey, component) shaped exactly like q202's output. */
  def ccStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val table = Graph.ensureCcState(t)
    val deltaRows = State.memo(spark.sparkContext, s"q210:$dir") {
      Graph.customerCoEdges(t)
        .filter(($"a" + $"b") % 5 === 0)
        .orderBy($"a", $"b").as[ReplayEdge].collect().toSeq
    }
    val labeling = StreamReplay.fold(spark, deltaRows) { ss =>
      @volatile var state: DataFrame = ss.table(table).localCheckpoint(true)
      (batch => {
        state = Graph.ccIncrementFrames(batch.toDF(), state)
          .localCheckpoint(true)
      }, () => state)
    }
    StreamReplay.rehome(spark, labeling)
      .select($"id".as("c_custkey"), $"component")
      .orderBy($"c_custkey")
  }

  /** q213's replayed-subgraph bound (the q114/q177 recipe): FIXED, so
    * the harness's per-batch cost is ~constant in SF — each delete
    * batch re-solves the components it touches, and on the unbounded
    * co-purchase graph EVERY delete batch touches the giant component
    * (a 3×-full-CC replay wall that measures the fixture, not the
    * operator). Covers the full sf0.001 corpus (customer keys < 1500
    * there, bound inactive) and caps generated-SF replays at a
    * ~4k-node subgraph. Must match the `< 4096` predicates in the
    * q213 oracle SQL. */
  private[streaming] val MaxStreamNode = 4096L

  /** The bounded q213 base state: the q208 split restricted to the
    * [[MaxStreamNode]] subgraph (labels + edge sidecar). */
  private def ensureBoundedCcrState(t: Tables): String = {
    import t.spark.implicits._
    State.ensure(t, "ccrs_state", "lineitem", "orders") {
      Graph.buildCcStateFull(
        t.customer.select($"c_custkey").filter($"c_custkey" < MaxStreamNode),
        Graph.customerCoEdges(t)
          .filter($"a" < MaxStreamNode && $"b" < MaxStreamNode &&
            ($"a" * 3 + $"b") % 11 =!= 0),
        _)
    }
  }

  private def boundedChanges(t: Tables): DataFrame = {
    import t.spark.implicits._
    val inBound = $"a" < MaxStreamNode && $"b" < MaxStreamNode
    Graph.ccrDeletes(t).filter(inBound).select(lit("D").as("op"), $"a", $"b")
      .unionByName(Graph.ccrInserts(t).filter(inBound)
        .select(lit("I").as("op"), $"a", $"b"))
  }

  /** q213 — streaming CC maintenance WITH DELETIONS: the q208 fold
    * fed by a mixed I/D edge-change stream, filling the
    * retraction×streaming cell of the family matrix (q187 did it for
    * IVM, q213 does it for graphs), over the bounded replay subgraph.
    * Each micro-batch folds through
    * [[Graph.ccApplyChangesFrames]] (touched components re-solve,
    * inserts condense) and rolls BOTH state pieces forward: the
    * labeling (the fold's output) and the edge sidecar — survivors
    * minus the batch's deletes plus its inserts, RE-LABELED under the
    * new labeling (one join against the checkpointed labels, q187's
    * fact-frame roll-forward shape). Composable because each batch's
    * fold is exact on its pre-state and the change log references
    * only edges present at its position, so stream(b1…bk) ≡ one-shot
    * apply(∪bᵢ) ≡ the from-scratch closure over the final edge set —
    * StreamGraphSpec pins the first two, q213's oracle is the last
    * (q208's recursive walk over the bounded world, blind to
    * chunking). Per batch O(batch + members/edges-of-touched-
    * components); the production shape MERGEs the touched components'
    * rows of both bucketed tables. */
  def ccRetractStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val table = ensureBoundedCcrState(t)
    val changeRows = State.memo(spark.sparkContext, s"q213:$dir") {
      boundedChanges(t)
        .orderBy($"a", $"b", $"op").as[ReplayEdgeOp].collect().toSeq
    }
    // 1 shuffle partition, not 4: the fold's wall is CC-round
    // latency over the BOUNDED subgraph — every stage is tiny, and
    // per-stage scheduler overhead scales with task count
    val labeling = StreamReplay.fold(spark, changeRows, partitions = 1) { ss =>
      @volatile var state: DataFrame = ss.table(table).localCheckpoint(true)
      @volatile var stateEdges: DataFrame =
        ss.table(s"${table}_edges").localCheckpoint(true)
      (batch => {
        val d = batch.toDF()
        val ins = d.filter(col("op") === "I").select(col("a"), col("b"))
        val del = d.filter(col("op") === "D").select(col("a"), col("b"))
        val labels = Graph.ccApplyChangesFrames(ins, del, state, stateEdges)
          .localCheckpoint(true)
        // edge roll-forward: survivors ∪ inserts, labeled under the
        // NEW labeling (batch N+1's delete lookups and touched-
        // component reads need post-batch-N components). Inserts are
        // canonicalized (a < b) and de-duplicated FIRST — the sidecar's
        // distinct-canonical contract is what delete matching relies
        // on, and a reversed or repeated insert in the change log must
        // not corrupt it (ccApplyChangesFrames raises on a duplicated
        // sidecar). Only TOUCHED components' edges re-label (deletes'
        // components plus insert endpoints' components — the only
        // labels a batch can change); untouched rows pass through,
        // keeping the roll-forward O(batch + touched-component edges).
        // insC/touchedComps are delta-bounded and derived from
        // in-memory batch rows + already-checkpointed state — cheap to
        // recompute at each of their 2-3 uses, NOT worth an eager
        // checkpoint job each (the fold's wall is driver job count)
        val insC = ins.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b")).distinct()
        val delC = del.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b")).distinct()
        val ends = insC.select(col("a").as("id"))
          .unionByName(insC.select(col("b").as("id"))).distinct()
        val touchedComps = stateEdges.join(broadcast(delC), Seq("a", "b"))
          .select(col("component"))
          .unionByName(state.join(broadcast(ends), Seq("id"), "left_semi")
            .select(col("component")))
          .distinct()
        val untouched = stateEdges
          .join(broadcast(touchedComps), Seq("component"), "left_anti")
        val relabeled = stateEdges
          .join(broadcast(touchedComps), Seq("component"), "left_semi")
          .select(col("a"), col("b"))
          .join(broadcast(delC), Seq("a", "b"), "left_anti")
          .unionByName(insC)
          .distinct() // an insert duplicating a surviving edge collapses
          .join(labels.select(col("id").as("a"), col("component")), Seq("a"))
          .select(col("component"), col("a"), col("b"))
        stateEdges = untouched.unionByName(relabeled).localCheckpoint(true)
        state = labels
      }, () => state)
    }
    StreamReplay.rehome(spark, labeling)
      .select($"id".as("c_custkey"), $"component")
      .orderBy($"c_custkey")
  }

  /** The one-shot twin of [[ccRetractStream]] over the same bounded
    * world — StreamGraphSpec's stream ≡ one-shot comparison surface. */
  private[streaming] def ccRetractOneShot(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val table = ensureBoundedCcrState(t)
    val c = boundedChanges(t)
    Graph.ccApplyChanges(
        c.filter($"op" === "I").select($"a", $"b"),
        c.filter($"op" === "D").select($"a", $"b"), table)
      .select($"id".as("c_custkey"), $"component")
      .orderBy($"c_custkey")
  }
}
