package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q167: incremental aggregate maintenance — merge ≡ from-scratch for
  * every split of the facts, multi-step roll-forward, and the
  * view-side zero-exchange plan over the bucketed layout. */
class IvmSpec extends SparkSpec {

  private def cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")

  private def scratch = Ivm.partials(sf001.orders, col("o_custkey"), cents)

  test("merged view equals from-scratch aggregation for any date split") {
    import spark.implicits._
    for (cut <- Seq("1994-01-01", "1997-01-01", "1999-01-01")) {
      // the extreme cuts exercise empty-base and empty-delta merges
      val c = lit(s"$cut 00:00:00").cast("timestamp")
      Ivm.buildAggIndex(sf001.orders.filter($"o_orderdate" < c),
        $"o_custkey", cents, "graft_test_ivm")
      val merged = Ivm.mergeDelta(sf001.orders.filter($"o_orderdate" >= c),
        $"o_custkey", cents, "graft_test_ivm")
      assert(merged.exceptAll(scratch).isEmpty &&
        scratch.exceptAll(merged).isEmpty,
        s"incremental merge diverges from scratch at cut $cut")
    }
  }

  test("two-step roll-forward equals one-shot (merge is associative)") {
    import spark.implicits._
    val c1 = lit("1995-01-01 00:00:00").cast("timestamp")
    val c2 = lit("1997-01-01 00:00:00").cast("timestamp")
    Ivm.buildAggIndex(sf001.orders.filter($"o_orderdate" < c1),
      $"o_custkey", cents, "graft_test_ivm_a")
    // roll the first delta forward into a new persisted view
    // (same orphaned-location hygiene as buildAggIndex)
    spark.sql("DROP TABLE IF EXISTS graft_test_ivm_b")
    graft.Tables.deleteRec(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_test_ivm_b"))
    Ivm.mergeDelta(sf001.orders.filter($"o_orderdate" >= c1 && $"o_orderdate" < c2),
        $"o_custkey", cents, "graft_test_ivm_a")
      .write.bucketBy(8, "key").sortBy("key")
      .saveAsTable("graft_test_ivm_b")
    // ...then fold the second delta into THAT
    val merged = Ivm.mergeDelta(sf001.orders.filter($"o_orderdate" >= c2),
      $"o_custkey", cents, "graft_test_ivm_b")
    assert(merged.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(merged).isEmpty,
      "two-step roll-forward diverges from one-shot aggregation")
  }

  test("the merge join reads the view buckets without a view-side exchange") {
    import spark.implicits._
    val c = lit("1997-01-01 00:00:00").cast("timestamp")
    Ivm.buildAggIndex(sf001.orders.filter($"o_orderdate" < c),
      $"o_custkey", cents, "graft_test_ivm_plan")
    val merged = Ivm.mergeDelta(sf001.orders.filter($"o_orderdate" >= c),
      $"o_custkey", cents, "graft_test_ivm_plan")
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // exactly TWO exchanges: the delta's partial agg, then its shuffle
    // into the view's bucket layout; the bucketed view scan is free
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"view side must not re-shuffle:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"view scan should use the bucket layout:\n$plan")
  }

  test("q167 fixture query returns the full rollup") {
    val r = Ivm.incrementalOrderRollup(sf001)
    assert(r.count() === sf001.orders.select("o_custkey").distinct().count())
    // spot-check the monoid: totals are non-negative, min <= max
    assert(r.filter(col("min_price") > col("max_price")).count() === 0)
    assert(r.filter(col("n_orders") <= 0).count() === 0)
  }

  // ── retraction-aware maintenance (q180) ────────────────────────────

  private def factFrame = sf001.orders.select(
    col("o_orderkey").as("fkey"), col("o_custkey").as("key"), cents.as("q"))

  private def buildRetractTables(suffix: String): (String, String) = {
    import spark.implicits._
    val vt = s"graft_test_ivmr_view_$suffix"
    val ft = s"graft_test_ivmr_facts_$suffix"
    Ivm.buildAggIndex(sf001.orders, $"o_custkey", cents, vt)
    Ivm.buildFactIndex(factFrame, ft)
    (vt, ft)
  }

  test("retract merge equals from-scratch aggregation over surviving facts") {
    val (vt, ft) = buildRetractTables("scratch")
    val merged = Ivm.mergeDeltaRetract(Ivm.orderFactDelta(sf001), vt, ft)
    // the world that never had the deleted/old rows
    val f = factFrame
    val surv = f.filter(col("fkey") % 97 =!= 0)
      .select(when(col("fkey") % 97 === 2, col("key") + 1).otherwise(col("key")).as("key"),
        (col("q") + when(col("fkey") % 97 === 1, 12345L).otherwise(0L)).as("q"))
      .unionByName(f.filter(col("fkey") % 97 === 3)
        .select(col("key"), (col("q") + 55L).as("q")))
    val scratchSurv = surv.groupBy("key").agg(
      count(lit(1)).as("n"), sum(col("q")).as("s"),
      min(col("q")).as("mn"), max(col("q")).as("mx"))
    assert(merged.exceptAll(scratchSurv).isEmpty &&
      scratchSurv.exceptAll(merged).isEmpty,
      "retraction merge diverges from the surviving-facts aggregate")
  }

  test("empty delta leaves the view unchanged; delete-all drops its group") {
    import spark.implicits._
    val (vt, ft) = buildRetractTables("edge")
    val cols = Seq("fkey", "change", "key_old", "q_old", "key_new", "q_new")
    val empty = Seq.empty[(Long, String, Option[Long], Option[Long],
      Option[Long], Option[Long])].toDF(cols: _*)
    val unchanged = Ivm.mergeDeltaRetract(empty, vt, ft)
    assert(unchanged.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(unchanged).isEmpty, "empty delta must be identity")
    // delete EVERY fact of one customer: its row must vanish
    val victim = factFrame.orderBy("key").select("key").head().getLong(0)
    val delAll = factFrame.filter(col("key") === victim)
      .select(col("fkey"), lit("D").as("change"), col("key").as("key_old"),
        col("q").as("q_old"), lit(null).cast("long").as("key_new"),
        lit(null).cast("long").as("q_new"))
    val after = Ivm.mergeDeltaRetract(delAll, vt, ft)
    assert(after.filter(col("key") === victim).isEmpty,
      "a group whose last fact is deleted must drop out of the view")
    assert(after.count() === scratch.count() - 1)
  }

  test("retracting a fact the view never held fails loudly") {
    import spark.implicits._
    val (vt, ft) = buildRetractTables("neg")
    val ghost = Seq((-1L, "D", 999999999L, 100L, Option.empty[Long],
      Option.empty[Long]))
      .toDF("fkey", "change", "key_old", "q_old", "key_new", "q_new")
    val ex = intercept[Exception] {
      Ivm.mergeDeltaRetract(ghost, vt, ft).collect()
    }
    assert(ex.getMessage != null && ex.toString.contains("negative count")
      || ex.getCause != null && ex.getCause.toString.contains("negative count"),
      s"expected the negative-count raise_error, got: $ex")
  }

  test("retract merge never shuffles the persisted view or fact rows") {
    import spark.implicits._
    val (vt, ft) = buildRetractTables("plan")
    // a genuinely delta-sized change set (two real fact rows collected
    // up front, not a frame derived from the facts scan) so every
    // exchange in the executed plan is provably delta-bounded
    val picked = factFrame.orderBy("fkey").limit(2).collect()
    val (f0, f1) = (picked(0), picked(1))
    val delta = Seq(
      (f0.getLong(0), "D", Some(f0.getLong(1)), Some(f0.getLong(2)),
        Option.empty[Long], Option.empty[Long]),
      (f1.getLong(0), "U", Some(f1.getLong(1)), Some(f1.getLong(2)),
        Some(f1.getLong(1) + 1), Some(f1.getLong(2))),
      (900000L, "I", Option.empty[Long], Option.empty[Long],
        Some(f0.getLong(1)), Some(777L)))
      .toDF("fkey", "change", "key_old", "q_old", "key_new", "q_new")
    val merged = Ivm.mergeDeltaRetract(delta, vt, ft)
    merged.collect()
    val plan = merged.queryExecution.executedPlan
    // neither persisted table's rows may cross an exchange: every
    // shuffle subtree reads only the in-memory delta
    val shuffles = plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    val offenders = shuffles.filter(s => s.toString.contains("graft_test_ivmr"))
    assert(offenders.isEmpty,
      s"persisted view/fact rows crossed an exchange:\n${offenders.mkString("\n")}")
    assert(plan.toString.contains("SelectedBucketsCount") ||
      plan.toString.contains("Bucketed: true"),
      s"expected bucketed scans:\n$plan")
  }

  // ── dimension-move maintenance (q195) ──────────────────────────────

  test("mergeDimMove transfers partials, empties groups, raises on phantoms") {
    import spark.implicits._
    // per-key agg index: k1 (2 facts, 30), k2 (1 fact, 5), k3 (1, 7)
    val perKey = Seq(("k1", 2L, 30L, 10L, 20L), ("k2", 1L, 5L, 5L, 5L),
      ("k3", 1L, 7L, 7L, 7L))
      .toDF("key", "n", "s", "mn", "mx")
    // drop + clear the location: the dir can survive from a previous
    // test JVM whose in-memory catalog is gone (LOCATION_ALREADY_EXISTS)
    spark.sql("DROP TABLE IF EXISTS graft_test_dimmove_agg")
    graft.Tables.deleteRec(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_test_dimmove_agg"))
    perKey.write.saveAsTable("graft_test_dimmove_agg")
    val view = Seq(("A", 3L, 35L), ("B", 1L, 7L)).toDF("g", "n", "s")
    // k2 moves A→B; k3 moves B→A; k9 (no facts) moves — contributes 0
    val delta = Seq(("k2", "A", "B"), ("k3", "B", "A"), ("k9", "A", "B"))
      .toDF("key", "g_old", "g_new")
    val got = Ivm.mergeDimMove(view, "graft_test_dimmove_agg", delta)
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toList
    assert(got === List(("A", 3L, 37L), ("B", 1L, 5L)))
    // emptying a group drops it: move k1 AND k3 out of A
    val drain = Seq(("k1", "A", "B"), ("k3", "A", "B"))
      .toDF("key", "g_old", "g_new")
    val view2 = Seq(("A", 3L, 37L)).toDF("g", "n", "s")
    val got2 = Ivm.mergeDimMove(view2, "graft_test_dimmove_agg", drain)
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(got2 === List(("B", 3L)))
    // phantom: retracting from a group that never held the key's mass
    val phantom = Seq(("k1", "NOPE", "A")).toDF("key", "g_old", "g_new")
    val ex = intercept[Exception] {
      Ivm.mergeDimMove(Seq(("A", 1L, 1L)).toDF("g", "n", "s"),
        "graft_test_dimmove_agg", phantom).collect()
    }
    assert(ex.toString.contains("negative count") ||
      (ex.getCause != null && ex.getCause.toString.contains("negative count")))
  }

  test("q195 fixture equals the scratch post-move rollup") {
    import spark.implicits._
    val got = Ivm.nationRevenueDimMove(sf001)
    val truth = sf001.orders
      .join(sf001.customer.select($"c_custkey",
        when($"c_custkey" % 89 === 0, ($"c_nationkey" + 7) % 25)
          .otherwise($"c_nationkey").as("nk")),
        $"o_custkey" === $"c_custkey")
      .join(sf001.nation, $"nk" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_orders"),
        (sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).cast("double")
          / 100.0).as("total_price"))
    assert(got.count() > 0)
    assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty,
      "dim-move maintenance diverges from the post-move scratch rollup")
  }

  test("mergeDimMove plans no fact scan and no index shuffle") {
    import spark.implicits._
    Ivm.nationRevenueDimMove(sf001).collect() // ensure index exists
    val aggTable = graft.State.name(sf001, "ivm_cust", "orders")
    val view = Seq(("NATION_1", 10L, 1000L)).toDF("g", "n", "s")
    val delta = Seq((89L, "NATION_1", "NATION_2"))
      .toDF("key", "g_old", "g_new")
    val merged = Ivm.mergeDimMove(view, aggTable, delta)
    merged.collect()
    val plan = merged.queryExecution.executedPlan
    assert(!plan.toString.contains("orders"),
      s"the fact table must be out of the loop:\n$plan")
    val shuffles = plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    val offenders = shuffles.filter(_.toString.contains("graft_ivm_cust"))
    assert(offenders.isEmpty,
      s"per-key index rows crossed an exchange:\n${offenders.mkString("\n")}")
  }

  // ── q201: dimension moves carrying min/max ─────────────────────────

  test("q201 fixture equals the scratch post-move rollup including min/max") {
    import spark.implicits._
    val got = Ivm.nationRevenueDimMoveFull(sf001)
    val cents = floor($"o_totalprice" * 100 + 0.5).cast("long")
    val truth = sf001.orders
      .join(sf001.customer.select($"c_custkey",
        when($"c_custkey" % 89 === 0, ($"c_nationkey" + 7) % 25)
          .otherwise($"c_nationkey").as("nk")),
        $"o_custkey" === $"c_custkey")
      .join(sf001.nation, $"nk" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_orders"),
        (sum(cents).cast("double") / 100.0).as("total_price"),
        (min(cents).cast("double") / 100.0).as("min_price"),
        (max(cents).cast("double") / 100.0).as("max_price"))
    assert(got.count() > 0)
    assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty,
      "full dim-move maintenance diverges from the post-move scratch rollup")
  }

  test("mergeDimMoveFull: untouched groups keep min/max, movers re-derive, no fact scan") {
    import spark.implicits._
    Ivm.nationRevenueDimMoveFull(sf001).collect() // ensure index exists
    val aggTable = graft.State.name(sf001, "ivm_cust", "orders")
    // hand view with a sentinel untouched group: its mn/mx must pass
    // through byte-identically since no move touches it
    val view = Seq(("G_TOUCHED", 10L, 1000L, 5L, 500L),
      ("G_OTHER", 3L, 300L, 7L, 70L), ("G_UNTOUCHED", 2L, 50L, 11L, 22L))
      .toDF("g", "n", "s", "mn", "mx")
    // key 89 exists in the index (custkey 89 ≡ 0 mod 89)
    val delta = Seq((89L, "G_TOUCHED", "G_OTHER"))
      .toDF("key", "g_old", "g_new")
    val idx = spark.table(aggTable)
    val k89 = idx.filter($"key" === 89L).collect()(0)
    // mapping: key 89 now lives in G_OTHER; give both touched groups
    // one other member so they survive with derivable min/max
    val other = idx.filter($"key" =!= 89L).orderBy("key").limit(1).collect()(0)
    val mapping = Seq((89L, "G_OTHER"), (other.getLong(0), "G_TOUCHED"))
      .toDF("key", "g")
    val merged = Ivm.mergeDimMoveFull(view, aggTable, mapping, delta)
    merged.collect()
    val rows = merged.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows("G_UNTOUCHED") === ((2L, 50L, 11L, 22L)),
      s"untouched group must pass through: ${rows("G_UNTOUCHED")}")
    assert(rows("G_TOUCHED")._1 === 10L - k89.getLong(1) &&
      rows("G_TOUCHED")._2 === 1000L - k89.getLong(2),
      "count/sum must transfer out of the old group")
    assert(rows("G_TOUCHED")._3 === other.getLong(3) &&
      rows("G_TOUCHED")._4 === other.getLong(4),
      "old group's min/max must re-derive from its remaining member")
    assert(rows("G_OTHER")._1 === 3L + k89.getLong(1),
      "count must transfer into the new group")
    assert(rows("G_OTHER")._3 === k89.getLong(3) &&
      rows("G_OTHER")._4 === k89.getLong(4),
      "new group's min/max must re-derive from its member partials")
    val plan = merged.queryExecution.executedPlan
    assert(!plan.toString.contains("orders"),
      s"the fact table must be out of the loop:\n$plan")
  }
}
