package graft.streaming

import graft.{State, Tables}
import graft.operators.Ivm
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One order-stream row under replay (top-level: encoder codegen). */
case class ReplayOrder(o_orderdate: java.sql.Timestamp, o_orderkey: Long,
    o_custkey: Long, o_totalprice: Double)

/** One fact-level change row under replay ([[graft.operators.Ivm]]
  * delta shape; Option encodes the I/D-side NULLs). */
case class ReplayFactChange(fkey: Long, change: String,
    key_old: Option[Long], q_old: Option[Long],
    key_new: Option[Long], q_new: Option[Long])

/** One dimension-move row under replay ([[graft.operators.Ivm]]
  * mergeDimMove delta shape). */
case class ReplayDimMove(key: Long, g_old: String, g_new: String)

/** One multi-measure change row under replay
  * ([[graft.operators.MultiIvm]] delta shape for the q200 fixture's
  * (cents, units, prio) declaration). */
case class ReplayMultiChange(fkey: Long, change: String,
    key_old: Option[Long], key_new: Option[Long],
    old_cents: Option[Long], new_cents: Option[Long],
    old_units: Option[Long], new_units: Option[Long],
    old_prio: Option[String], new_prio: Option[String])

/** Streaming aggregate-view maintenance — q167's batch IVM fed by a
  * stream: `foreachBatch` folds each micro-batch's map-side-combined
  * partials into the maintained per-group view with the same monoid
  * merge ([[Ivm.mergePartials]]). Associativity + commutativity of
  * (count, integer sum, min, max) make ANY chunking fold to the
  * from-scratch aggregate, so q177's oracle is q167's: one plain
  * GROUP BY over ALL the facts, blind to the micro-batch structure.
  * This is the standard "streaming rollup into a serving table"
  * deployment (foreachBatch + MERGE target); per batch the cost is
  * O(batch + touched groups) — the view never rescans history.
  */
object StreamIvm {

  /** Replayed-slice bound (the q114 recipe): FIXED, so the harness's
    * driver-side collect is constant in SF — covers the full
    * sf0.001/0.01/0.1 corpora (order keys < 2²⁰ there, bound
    * inactive) and caps generated-SF replays at the original chunk.
    * Must match the `o_orderkey < 1048576` predicate in the q177
    * oracle SQL. MemoryStream is a driver-side test source; the
    * foreachBatch fold itself consumes any streaming Dataset. */
  private[streaming] val MaxStreamOrderKey = 1L << 20

  /** q177 — replay the bounded order slice date-ordered in
    * [[StreamReplay.Chunks]] micro-batches through the foreachBatch
    * view fold; return the final view shaped exactly like q167's
    * output. */
  def orderRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val slice = State.memo(spark.sparkContext, s"q177:$dir") {
      Tables(spark, dir).orders
        .filter($"o_orderkey" < MaxStreamOrderKey)
        .select($"o_orderdate", $"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_orderdate", $"o_orderkey")
        .as[ReplayOrder].collect().toSeq
    }
    val rollup = StreamReplay.fold(spark, slice) { _ =>
      // @volatile: written on the stream-execution thread, read by the
      // caller thread after the last batch — explicit cross-thread
      // publication
      @volatile var view: Option[DataFrame] = None
      (batch => {
        val p = Ivm.partials(batch.toDF(), col("o_custkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        view = Some(view.fold(p)(v => Ivm.mergePartials(v, p))
          .localCheckpoint(true))
      }, () => view)
    }.getOrElse(sys.error("stream produced no batches"))
    StreamReplay.rehome(spark, rollup)
      .select($"key".as("o_custkey"), $"n".as("n_orders"),
        ($"s".cast("double") / 100.0).as("total_price"),
        ($"mn".cast("double") / 100.0).as("min_price"),
        ($"mx".cast("double") / 100.0).as("max_price"))
      .orderBy($"o_custkey")
  }

  /** q187 — streaming RETRACTABLE view maintenance: the missing
    * streaming half of q180, exactly as q177 was the streaming half of
    * q167. A CDC change stream carrying deletes, repricing updates,
    * group MOVES, and inserts (q180's delta, derived from the bounded
    * fact slice) arrives in micro-batches; `foreachBatch` folds each
    * through [[Ivm.mergeDeltaRetractFrames]] — count/sum retract
    * signed, min/max re-aggregate from the surviving facts of the
    * touched groups — and ROLLS THE FACT FRAME FORWARD (anti-join out
    * the retracted fkeys, append the added facts), so batch N+1's
    * re-aggregation sees the post-batch-N world. That roll-forward is
    * what makes the fold composable: stream(b1…bk) ≡ one-shot
    * batch(b1 ∪ … ∪ bk) ≡ scratch aggregate over surviving facts —
    * q187's oracle is the LAST equality, blind to the chunking, and
    * StreamIvmSpec pins the first.
    *
    * Production shape: foreachBatch MERGEs into a bucketed fact table
    * and the aggregate view (both persisted; here in-memory localCheckpoint
    * frames — the test harness's stand-in for the table sink). Per
    * batch the cost is O(batch + facts-of-touched-groups): the view
    * and fact frames are never rescanned wholesale. */
  def orderRollupRetract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deltaRows = State.memo(spark.sparkContext, s"q187:$dir") {
      Ivm.orderFactDeltaOf(
          Ivm.orderFacts(Tables(spark, dir))
            .filter(col("fkey") < MaxStreamOrderKey))
        .as[ReplayFactChange].collect().toSeq.sortBy(_.fkey)
    }
    val rollup = StreamReplay.fold(spark, deltaRows) { ss =>
      @volatile var facts: DataFrame = Ivm.orderFacts(Tables(ss, dir))
        .filter(col("fkey") < MaxStreamOrderKey).localCheckpoint(true)
      @volatile var view: DataFrame =
        Ivm.partials(facts, col("key"), col("q")).localCheckpoint(true)
      (batch => {
        val d = batch.toDF()
        // view first (its re-agg reads the PRE-batch facts), then the
        // fact roll-forward batch N+1 will aggregate against
        view = Ivm.mergeDeltaRetractFrames(d, view, facts)
          .localCheckpoint(true)
        val retracted = d.filter(col("change").isin("D", "U")).select(col("fkey"))
        val adds = d.filter(col("change").isin("I", "U"))
          .select(col("fkey"), col("key_new").as("key"), col("q_new").as("q"))
        facts = facts
          .join(broadcast(retracted), Seq("fkey"), "left_anti")
          .unionByName(adds).localCheckpoint(true)
      }, () => view)
    }
    StreamReplay.rehome(spark, rollup)
      .select($"key".as("o_custkey"), $"n".as("n_orders"),
        ($"s".cast("double") / 100.0).as("total_price"),
        ($"mn".cast("double") / 100.0).as("min_price"),
        ($"mx".cast("double") / 100.0).as("max_price"))
      .orderBy($"o_custkey")
  }

  /** q207 — STREAMING multi-measure view maintenance: q200's fold fed
    * by the change stream, completing the family pattern (q167→q177,
    * q180→q187, q195→q199, q200→q207). Each micro-batch folds through
    * the SAME frame-level algebra ([[graft.operators.MultiIvm
    * .mergeMultiDeltaFrames]] — signed count/sums/split-squares, plus
    * the count-distinct re-derivation) and ROLLS FORWARD both pieces
    * of state: the view (the merge output IS the updated view) and
    * the multiplicity sidecar (untouched keys' rows pass through,
    * touched keys take [[graft.operators.MultiIvm
    * .updatedMultiplicities]]'s rows — the write-back a production
    * MERGE does). Both folds are associative, so stream(b1…bk) ≡
    * one-shot batch(∪bᵢ) ≡ the scratch aggregate over survivors —
    * StreamIvmSpec pins the first equality, q207's oracle is the
    * last, blind to chunking. Per batch O(batch + touched keys'
    * sidecar rows); the production shape MERGEs into the bucketed
    * view + sidecar tables. */
  def multiMeasureStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MultiIvm
    val Ms = Seq("cents", "units")
    val Ds = Seq("prio")
    val boundedFacts = MultiIvm.orderMultiFacts(Tables(spark, dir))
      .filter(col("fkey") < MaxStreamOrderKey)
    val deltaRows = State.memo(spark.sparkContext, s"q207:$dir") {
      MultiIvm.orderMultiDelta(boundedFacts)
        .as[ReplayMultiChange].collect().toSeq.sortBy(_.fkey)
    }
    val rollup = StreamReplay.fold(spark, deltaRows) { ss =>
      val baseFacts = MultiIvm.orderMultiFacts(Tables(ss, dir))
        .filter(col("fkey") < MaxStreamOrderKey).localCheckpoint(true)
      @volatile var view: DataFrame =
        MultiIvm.multiPartials(baseFacts, Ms, Ds).localCheckpoint(true)
      @volatile var mult: DataFrame = baseFacts
        .groupBy(col("key"), col("prio").as("v"))
        .agg(count(lit(1)).as("m")).localCheckpoint(true)
      (batch => {
        val d = batch.toDF()
        // view first (its cd re-derivation reads the PRE-batch
        // sidecar), then roll the sidecar forward for batch N+1
        val merged = MultiIvm.mergeMultiDeltaFrames(d, Ms, Ds, view,
          Map("prio" -> mult)).localCheckpoint(true)
        val touched = d.select(col("key_old").as("key"))
          .where(col("key_old").isNotNull)
          .unionByName(d.select(col("key_new").as("key"))
            .where(col("key_new").isNotNull)).distinct()
        mult = mult.join(touched, Seq("key"), "left_anti")
          .unionByName(MultiIvm.updatedMultiplicities(d, mult, "prio"))
          .localCheckpoint(true)
        view = merged
      }, () => view)
    }
    val S = 1L << 30
    val v = StreamReplay.rehome(spark, rollup)
    val nD = col("n").cast("double")
    val sD = col("s_cents").cast("double")
    val ssq = col("ssh_cents").cast("double") * lit(S.toDouble) +
      col("ssl_cents").cast("double")
    v.select($"key".as("o_custkey"), $"n".as("n_orders"),
      (sD / 100.0).as("total_price"),
      ((sD / 100.0) / nD).as("avg_price"),
      (((ssq - sD * sD / nD) / nD) / 10000.0).as("var_price"),
      $"s_units".as("sum_units"),
      $"cd_prio".as("n_priorities"))
      .orderBy($"o_custkey")
  }

  /** q211 — STREAMING multi-measure dimension-move maintenance:
    * q206's fold fed by the SCD1 update stream, completing the
    * family-matrix row q207 completed for fact deltas. Each
    * micro-batch folds through [[graft.operators.MultiIvm
    * .mergeMultiDimMove]] (additive partials transfer signed,
    * count-distinct re-derives off the group multiplicities) and
    * rolls BOTH state pieces forward: the view (the merge output) and
    * the group-level multiplicity sidecar (untouched groups pass
    * through, touched groups take [[graft.operators.MultiIvm
    * .movedGroupMultRows]]'s merged rows — the same write-back a
    * production MERGE does). The per-key state is STATIC under moves
    * (a move changes a key's group, never its partials or its (v, m)
    * vector), and each key moves at most once in the log, so any
    * chunking folds to the same state: stream(b1…bk) ≡ one-shot
    * batch(∪bᵢ) ≡ the post-move scratch rollup. q211's oracle is
    * q206's verbatim; StreamIvmSpec pins stream ≡ one-shot. Per
    * batch: O(batch + touched groups' sidecar rows); facts never in
    * the loop. */
  def multiMeasureDimMoveStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MultiIvm
    val Ms = Seq("cents", "units")
    val Ds = Seq("prio")
    val t = Tables(spark, dir)
    val perKeyTable = MultiIvm.ensureMultiView(t)
    val moves = State.memo(spark.sparkContext, s"nation_moves:$dir") {
      Ivm.nationMoveDelta(t).as[ReplayDimMove]
        .collect().toSeq.sortBy(_.key)
    }
    val rollup = StreamReplay.fold(spark, moves) { ss =>
      val (view0, gmult0) = MultiIvm.nationMultiBase(Tables(ss, dir), perKeyTable)
      @volatile var view: DataFrame = view0.localCheckpoint(true)
      @volatile var gmult: DataFrame = gmult0.localCheckpoint(true)
      (batch => {
        val d = batch.toDF()
        // view first (its cd re-derivation reads the PRE-batch group
        // multiplicities), then roll the sidecar forward for batch N+1
        val merged = MultiIvm.mergeMultiDimMove(view,
          Map("prio" -> gmult), perKeyTable, d, Ms, Ds)
          .localCheckpoint(true)
        val touched = d
          .select(explode(array(col("g_old"), col("g_new"))).as("g"))
          .filter(col("g").isNotNull).distinct()
        gmult = gmult.join(broadcast(touched), Seq("g"), "left_anti")
          .unionByName(MultiIvm.movedGroupMultRows(gmult,
            ss.table(s"${perKeyTable}_mult_prio"), d, touched, "prio"))
          .localCheckpoint(true)
        view = merged
      }, () => view)
    }
    val S = 1L << 30
    val v = StreamReplay.rehome(spark, rollup)
    val nD = col("n").cast("double")
    val sD = col("s_cents").cast("double")
    val ssq = col("ssh_cents").cast("double") * lit(S.toDouble) +
      col("ssl_cents").cast("double")
    v.select($"g".as("n_name"), $"n".as("n_orders"),
      (sD / 100.0).as("total_price"),
      ((sD / 100.0) / nD).as("avg_price"),
      (((ssq - sD * sD / nD) / nD) / 10000.0).as("var_price"),
      $"s_units".as("sum_units"),
      $"cd_prio".as("n_priorities"))
      .orderBy($"n_name")
  }

  /** q214 — STREAMING multi-measure dim-moves on the FULL (min/max-
    * carrying) view: q212's fold fed by the SCD1 stream, completing
    * the min/max × move × streaming cell. Three state pieces roll
    * forward per batch: the view (the merge output), the group
    * multiplicity sidecar ([[graft.operators.MultiIvm
    * .movedGroupMultRows]]' write-back), and the post-move MAPPING —
    * the batch's moves applied to the running (key, g) assignment
    * BEFORE the merge, because the touched groups' min/max re-derive
    * over member-key partials under the membership as of the END of
    * the batch. Same composability argument as q211 (per-key state
    * static under moves, each key moves once per log) plus q212's
    * re-derivation exactness per batch ⇒ stream ≡ one-shot ≡
    * post-move scratch incl. min/max; oracle = q212's verbatim,
    * StreamIvmSpec pins stream ≡ one-shot. Facts never in the loop. */
  def multiMeasureDimMoveFullStream(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MultiIvm
    val Ms = Seq("cents", "units")
    val Ds = Seq("prio")
    val t = Tables(spark, dir)
    val perKeyTable = MultiIvm.ensureMultiViewFull(t)
    val moves = State.memo(spark.sparkContext, s"nation_moves:$dir") {
      Ivm.nationMoveDelta(t).as[ReplayDimMove]
        .collect().toSeq.sortBy(_.key)
    }
    val rollup = StreamReplay.fold(spark, moves) { ss =>
      val ts = Tables(ss, dir)
      val (view0, gmult0) = MultiIvm.nationMultiBaseFull(ts, perKeyTable)
      @volatile var view: DataFrame = view0.localCheckpoint(true)
      @volatile var gmult: DataFrame = gmult0.localCheckpoint(true)
      // the running (key, g) membership — starts at the base assignment
      @volatile var mapping: DataFrame = ts.customer
        .select($"c_custkey".as("key"), $"c_nationkey")
        .join(broadcast(ts.nation.select($"n_nationkey".as("c_nationkey"),
          $"n_name".as("g"))), Seq("c_nationkey"))
        .select($"key", $"g").localCheckpoint(true)
      (batch => {
        val d = batch.toDF()
        // membership first (the merge re-derives min/max under the
        // POST-batch assignment), then the merge against the
        // PRE-batch sidecar, then the sidecar write-back
        val mappingNext = mapping
          .join(broadcast(d.select(col("key"), col("g_new"))), Seq("key"),
            "left")
          .select(col("key"),
            coalesce(col("g_new"), col("g")).as("g")).localCheckpoint(true)
        val merged = MultiIvm.mergeMultiDimMoveFull(view,
          Map("prio" -> gmult), perKeyTable, mappingNext, d, Ms, Ds)
          .localCheckpoint(true)
        val touched = d
          .select(explode(array(col("g_old"), col("g_new"))).as("g"))
          .filter(col("g").isNotNull).distinct()
        gmult = gmult.join(broadcast(touched), Seq("g"), "left_anti")
          .unionByName(MultiIvm.movedGroupMultRows(gmult,
            ss.table(s"${perKeyTable}_mult_prio"), d, touched, "prio"))
          .localCheckpoint(true)
        view = merged
        mapping = mappingNext
      }, () => view)
    }
    val S = 1L << 30
    val v = StreamReplay.rehome(spark, rollup)
    val nD = col("n").cast("double")
    val sD = col("s_cents").cast("double")
    val ssq = col("ssh_cents").cast("double") * lit(S.toDouble) +
      col("ssl_cents").cast("double")
    v.select($"g".as("n_name"), $"n".as("n_orders"),
      (sD / 100.0).as("total_price"),
      ((sD / 100.0) / nD).as("avg_price"),
      (((ssq - sD * sD / nD) / nD) / 10000.0).as("var_price"),
      ($"mn_cents".cast("double") / 100.0).as("min_price"),
      ($"mx_cents".cast("double") / 100.0).as("max_price"),
      $"s_units".as("sum_units"),
      $"mx_units".as("max_units"),
      $"cd_prio".as("n_priorities"))
      .orderBy($"n_name")
  }

  /** q199 — STREAMING dimension-move maintenance: q195's fold fed by a
    * stream of SCD1 dim updates. The per-key aggregate index is STATIC
    * under moves (a move changes a key's group, never its partial), so
    * the per-batch fold is pure signed addition into the group view —
    * associative across any chunking of a valid move log (each move's
    * g_old is the key's group at its position in the log), which makes
    * stream(b1…bk) ≡ one-shot batch(∪bᵢ) ≡ the post-move scratch
    * rollup. q199's oracle is q195's verbatim; StreamIvmSpec pins the
    * stream ≡ one-shot equality. Per batch: O(batch) view work + one
    * narrow scan of the per-key index — facts never in the loop. */
  def nationRevenueDimMoveStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val aggTable = Ivm.ensureCustAggIndex(t)
    val moves = State.memo(spark.sparkContext, s"nation_moves:$dir") {
      Ivm.nationMoveDelta(t).as[ReplayDimMove]
        .collect().toSeq.sortBy(_.key)
    }
    val rollup = StreamReplay.fold(spark, moves) { ss =>
      @volatile var view: DataFrame =
        Ivm.nationBaseView(Tables(ss, dir), aggTable).localCheckpoint(true)
      (batch => {
        view = Ivm.mergeDimMove(view, aggTable, batch.toDF())
          .localCheckpoint(true)
      }, () => view)
    }
    StreamReplay.rehome(spark, rollup)
      .select($"g".as("n_name"), $"n".as("n_orders"),
        ($"s".cast("double") / 100.0).as("total_price"))
      .orderBy($"n_name")
  }
}
