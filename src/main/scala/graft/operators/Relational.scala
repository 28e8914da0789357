package graft.operators

import graft.{State, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core relational operator inventory (SURVEY.md §2.5): scans, filters,
  * joins (broadcast/shuffle/semi/anti), hash aggregation, rollup/cube,
  * windows, sorts/top-k, set ops, conditional aggregation.
  *
  * Scale notes (100 TB design intent):
  *  - Dimension tables (region/nation/supplier/part at TPC-H ratios) are
  *    broadcast explicitly; fact-fact joins (orders⋈lineitem) shuffle on
  *    the join key and benefit from AQE + bucketing when materialized.
  *  - Aggregations are expressed so Catalyst plans partial (map-side)
  *    aggregation before the shuffle.
  *  - Money arithmetic accumulates in DECIMAL (exact, order-independent
  *    — a deliberate determinism property: the same query on a 1000-way
  *    shuffle returns bit-identical results) and is surfaced as DOUBLE.
  */
object Relational {

  /** Exact, order-independent sum of a double column: accumulate as
    * DECIMAL(18,2|4), surface as DOUBLE. Deterministic under any
    * partitioning/merge order — required for the hash-based oracle and
    * a good property at cluster scale. */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact mean via decimal sum / count (both engines compute the same
    * IEEE division of identical operands). */
  private def davg(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(DecimalType(18, scale))).cast("double") / count(c)

  // ── q01: TPC-H Q1-style pricing summary ─────────────────────────────
  // filter → partial+final hash agg; no shuffle beyond the group-by.
  def pricingSummary(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 4).as("sum_disc_price"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount", 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  // ── q02: TPC-H Q6-style forecasting revenue (scan-heavy filter agg) ──
  def revenueFilter(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
        $"l_discount" >= 0.03 && $"l_discount" <= 0.07 &&
        $"l_quantity" < 24)
      .agg(dsum($"l_extendedprice" * $"l_discount", 4).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  // ── q03: shipping-priority top-k (3-way join, agg, sort, limit) ──────
  def topOrders(t: Tables): DataFrame = {
    import t.spark.implicits._
    val c = t.customer.filter($"c_mktsegment" === "BUILDING")
    val o = t.orders.filter($"o_orderdate" < lit("2020-01-01").cast("timestamp"))
    val l = t.lineitem
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 4).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  // ── q04: EXISTS semi-join, priority counts ───────────────────────────
  def orderPriority(t: Tables): DataFrame = {
    import t.spark.implicits._
    val bigLines = t.lineitem.filter($"l_quantity" > 45)
      .select($"l_orderkey".as("o_orderkey"))
    t.orders.join(bigLines, Seq("o_orderkey"), "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  // ── q05: NOT EXISTS anti-join: customers with no pending orders ──────
  def customersWithoutOrders(t: Tables): DataFrame = {
    import t.spark.implicits._
    val pending = t.orders.filter($"o_orderstatus" === "P")
      .select($"o_custkey".as("c_custkey"))
    t.customer
      .join(pending, Seq("c_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  // ── q06: TPC-H Q5-style revenue by nation (5-way join, broadcast dims)
  def nationRevenue(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(t.customer.select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t.region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"n_name")
  }

  // ── q07: market-segment profile (agg over one table) ─────────────────
  def marketSegments(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.customer.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        davg($"c_acctbal").as("avg_acctbal"),
        min($"c_acctbal").as("min_acctbal"),
        max($"c_acctbal").as("max_acctbal"))
      .orderBy($"c_mktsegment")
  }

  // ── q08: per-group top-k via ranking window ──────────────────────────
  def topOrdersPerCustomer(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    t.orders
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
      .orderBy($"o_custkey", $"rn")
  }

  // ── q09: running total window (frame-based aggregation) ──────────────
  def runningTotal(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.orders
      .select($"o_custkey", $"o_orderkey",
        sum($"o_totalprice".cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running_spend"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  // ── q10: lag/lead — previous order price + gap in days ───────────────
  // (the reference's PlayType_lag pattern: lag over partition+order;
  //  SURVEY.md §2.2 "Implied lag", assets/app_nfl.py:374 semantics)
  def orderGaps(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    t.orders
      .select($"o_custkey", $"o_orderkey",
        coalesce(lag($"o_totalprice", 1).over(w), lit(-1.0)).as("prev_price"),
        coalesce(datediff(to_date($"o_orderdate"), to_date(lag($"o_orderdate", 1).over(w))),
          lit(-1)).as("gap_days"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  // ── q11: rollup over region → nation hierarchy ───────────────────────
  def rollupRegionNation(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.customer
      .join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t.region), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"), dsum($"c_acctbal").as("total_bal"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  // ── q12: cube over returnflag × linestatus ───────────────────────────
  def cubeFlagStatus(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .cube($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  // ── q13: distinct aggregation ────────────────────────────────────────
  def distinctParts(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  // ── q14: set op — customers with both fulfilled and open orders ──────
  def setOpCustomers(t: Tables): DataFrame = {
    import t.spark.implicits._
    val f = t.orders.filter($"o_orderstatus" === "F").select($"o_custkey")
    val o = t.orders.filter($"o_orderstatus" === "O").select($"o_custkey")
    f.intersect(o).orderBy($"o_custkey")
  }

  // ── q15: conditional aggregation (CASE WHEN inside agg) ──────────────
  def priorityShipping(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_linestatus")
      .agg(
        sum(when($"o_orderpriority" === "1-URGENT" ||
          $"o_orderpriority" === "2-HIGH", 1L).otherwise(0L)).as("high_count"),
        sum(when($"o_orderpriority" =!= "1-URGENT" &&
          $"o_orderpriority" =!= "2-HIGH", 1L).otherwise(0L)).as("low_count"))
      .orderBy($"l_linestatus")
  }

  // ── q16: HAVING — high-volume suppliers ──────────────────────────────
  def bigSuppliers(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem.groupBy($"l_suppkey")
      .agg(dsum($"l_quantity").as("total_qty"), count(lit(1)).as("n_items"))
      .filter($"total_qty" > 1000.0)
      .orderBy($"l_suppkey")
  }

  // ── q17: string functions over part ──────────────────────────────────
  def partStrings(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.part
      .filter($"p_size" >= 1 && $"p_size" <= 15)
      .groupBy(upper($"p_brand").as("brand"),
        substring($"p_type", 1, 6).as("type_prefix"))
      .agg(count(lit(1)).as("n_parts"),
        min($"p_retailprice").as("min_price"),
        max($"p_retailprice").as("max_price"))
      .orderBy($"brand", $"type_prefix")
  }

  // ── q18: date-part extraction and grouping ───────────────────────────
  def ordersByMonth(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .groupBy(year($"o_orderdate").as("o_year"), month($"o_orderdate").as("o_month"))
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total_price"))
      .orderBy($"o_year", $"o_month")
  }

  // ── q19: JSON extraction over events ─────────────────────────────────
  def eventProps(t: Tables): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.types.{MapType, StringType, IntegerType}
    t.events
      .withColumn("k", from_json($"props", MapType(StringType, IntegerType))("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        (sum($"k").cast("double") / count($"k")).as("avg_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  // ── q35: chained set ops — UNION then EXCEPT ─────────────────────────
  def unionExceptCustomers(t: Tables): DataFrame = {
    import t.spark.implicits._
    val urgent = t.orders.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    val high = t.orders.filter($"o_orderpriority" === "2-HIGH").select($"o_custkey")
    val pending = t.orders.filter($"o_orderstatus" === "P").select($"o_custkey")
    urgent.union(high).except(pending).orderBy($"o_custkey")
  }

  // ── q36: custom typed Aggregator — exact weighted mean ───────────────
  def weightedAvgPrice(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem.groupBy($"l_returnflag")
      .agg(graft.functions.Aggregators
        .weightedMeanOf($"l_extendedprice", $"l_quantity").as("w_avg_price"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  // ── q37: GROUPING SETS via the SQL surface ───────────────────────────
  def groupingSets(t: Tables): DataFrame = {
    t.lineitem.createOrReplaceTempView("lineitem_gs")
    t.spark.sql(
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n_rows
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  }

  // ── q39: HLL approximate distinct (rows-only: sketch is engine-
  //         specific) alongside the exact count it approximates ────────
  /** Two separate aggregations joined on the 3-row group key, NOT one
    * agg with both `approx_count_distinct` and `countDistinct`: mixing
    * a distinct and a non-distinct aggregate makes Catalyst plan an
    * Expand that doubles every input row (12M expanded rows at sf1).
    * Split, the HLL pass and the partial-distinct pass each scan the
    * 2-column projection once with full map-side combine — measured
    * 8.0 s → 1.3–1.7 s solo at sf1 (`Profile`, warm runs) — and the
    * join is a broadcast of 3 rows. Same expansion-free shape a
    * 100 TB scan wants. */
  def approxDistinct(t: Tables): DataFrame = {
    import t.spark.implicits._
    val approx = t.lineitem.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
    // isNotNull preserves countDistinct semantics (NULL is not a
    // distinct value) — free on the current non-null fixture, correct
    // if it ever ships nullable partkeys; also matches what
    // approx_count_distinct excludes
    val exact = t.lineitem.select($"l_returnflag", $"l_partkey")
      .filter($"l_partkey".isNotNull).distinct()
      .groupBy($"l_returnflag").agg(count(lit(1)).as("exact_parts"))
    approx.join(broadcast(exact), "l_returnflag")
      .withColumn("rel_err",
        abs($"approx_parts" - $"exact_parts") / $"exact_parts")
      .orderBy($"l_returnflag")
  }

  // ── q109: HLL approx-distinct, relative-error-gated ─────────────────
  /** Driver-visible gate for [[approxDistinct]] (q39, rows-only by
    * nature since the HLL estimate is engine-specific) — the q107
    * pattern: the CONTRACT is oracle-checked even though the value is
    * not. HLL++ at rsd 0.02 is deterministic for fixed data, so
    * `rel_err ≤ maxRelErr` (2.5 standard errors) is a stable
    * regression tripwire at every SF: it flips — and the oracle hash
    * mismatches — if the sketch's accuracy regresses. */
  def approxDistinctGate(t: Tables, maxRelErr: Double = 0.05): DataFrame = {
    import t.spark.implicits._
    approxDistinct(t)
      .select($"l_returnflag", ($"rel_err" <= maxRelErr).as("meets_bound"))
      .orderBy($"l_returnflag")
  }

  // ── q48: RANGE window frame — trailing 30-day spend per customer ─────
  def rangeWindowSpend(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy(unix_timestamp($"o_orderdate"))
      .rangeBetween(-30L * 86400, 0)
    t.orders
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        sum($"o_totalprice".cast(DecimalType(18, 2))).over(w)
          .cast("double").as("spend_30d"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  // ── q49: exact median as the ⌈n/2⌉-th ordered element (rank-based,
  //         no interpolation → identical across engines) ───────────────
  def medianAcctbal(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal", $"c_custkey")
    val n = Window.partitionBy($"c_mktsegment")
    t.customer
      .select($"c_mktsegment", $"c_acctbal",
        row_number().over(w).as("rn"),
        count(lit(1)).over(n).as("cnt"))
      .filter($"rn" === ceil($"cnt" / 2.0).cast("int"))
      .select($"c_mktsegment", $"c_acctbal".as("median_acctbal"))
      .orderBy($"c_mktsegment")
  }

  // ── q45: correlated scalar subquery (SQL surface; Catalyst
  //         decorrelates it into a left outer aggregate join) ──────────
  def scalarSubquery(t: Tables): DataFrame = {
    t.customer.createOrReplaceTempView("customer_sq")
    t.orders.createOrReplaceTempView("orders_sq")
    t.spark.sql(
      """SELECT c_custkey, c_mktsegment,
        | COALESCE((SELECT MAX(o_totalprice) FROM orders_sq
        |           WHERE o_custkey = c_custkey), -1.0) AS max_order
        |FROM customer_sq""".stripMargin)
  }

  // ── q46: pivot — one column per l_linestatus value ───────────────────
  def pivotQuantities(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum($"l_quantity".cast(DecimalType(18, 2))).cast("double"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .na.fill(-1.0, Seq("qty_f", "qty_o"))
      .orderBy($"l_returnflag")
  }

  /** Typed row for the Dataset API query. */
  final case class OrderRow(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double)

  // ── q47: typed Dataset API (case-class Encoder, groupByKey + typed
  //         aggs; counts/max are exact so the oracle holds) ────────────
  def typedOrderStats(t: Tables): DataFrame = {
    import t.spark.implicits._
    val ds = t.orders
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .as[OrderRow]
    ds.filter(_.o_totalprice > 0.0)
      .groupByKey(_.o_orderstatus)
      .agg(
        count($"o_orderkey").as("n_orders").as[Long],
        max($"o_totalprice").as("max_price").as[Double])
      .toDF("o_orderstatus", "n_orders", "max_price")
      .orderBy($"o_orderstatus")
  }

  // ── q20: event-time tumbling window (batch twin of the streaming op) ─
  // ── q55: ranking-function family (dense_rank / ntile / lead) ────────
  // One window, fully-ordered by a unique tiebreaker → every function
  // is deterministic and the ANSI semantics match across engines.
  def rankFamily(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    t.orders.select($"o_custkey", $"o_orderkey",
      dense_rank().over(w).cast("int").as("drank"),
      ntile(4).over(w).as("tile"),
      lead($"o_totalprice", 1, -1.0).over(w).as("next_price"))
  }

  // ── q56: exact interpolated percentiles per group ───────────────────
  // Spark's `percentile` and DuckDB's `quantile_cont` share the ANSI
  // definition: index p·(n−1) into the sorted values, linear
  // interpolation — deterministic doubles from identical inputs.
  def quantityPercentiles(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("n_rows"))
  }

  // ── q107: approximate quantiles, rank-error-gated ───────────────────
  /** The SCALE path for quantiles: `approx_percentile` (Spark's
    * KLL/GK-style mergeable sketch — bounded memory, partial
    * aggregation, no full sort) against q56's exact `percentile`
    * (which collects each group's values). The sketch contract is a
    * RANK guarantee — the returned value's exact rank is within
    * N/accuracy of the target rank — so the driver-visible gate
    * recomputes each returned value's exact rank range
    * [count(< v), count(≤ v)] in one pass and checks the interval
    * overlaps [target − N/acc, target + N/acc]. The oracle
    * degenerates to "the bound holds" (like q101/q102): the sketch's
    * VALUES are engine-specific, its guarantee is not. */
  def approxQuantileGate(t: Tables, accuracy: Int = 1000): DataFrame = {
    import t.spark.implicits._
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val approx = t.lineitem.agg(
      percentile_approx($"l_quantity", lit(qs.toArray), lit(accuracy)).as("vs"),
      count(lit(1)).as("n")).head()
    val vs = approx.getSeq[Any](0).map {
      case d: java.math.BigDecimal => BigDecimal(d)
      case d: java.lang.Double     => BigDecimal(d.doubleValue)
      case o                       => BigDecimal(o.toString)
    }
    val n = approx.getLong(1)
    val rankCols = vs.zipWithIndex.flatMap { case (v, i) =>
      Seq(
        sum(when($"l_quantity" < v, 1L).otherwise(0L)).as(s"lo_$i"),
        sum(when($"l_quantity" <= v, 1L).otherwise(0L)).as(s"hi_$i"))
    }
    val ranks = t.lineitem.agg(rankCols.head, rankCols.tail: _*).head()
    val err = n.toDouble / accuracy
    val rows = qs.zipWithIndex.map { case (q, i) =>
      val (lo, hi) = (ranks.getLong(2 * i), ranks.getLong(2 * i + 1))
      val target = q * n
      // value covers integer ranks (lo, hi] = {lo+1..hi}; the bound
      // holds iff one of them lands in [target-err, target+err], and
      // the lowest covered rank is lo+1 — not lo
      (q, hi >= target - err && lo + 1 <= target + err)
    }
    rows.toDF("quantile", "meets_bound").orderBy($"quantile")
  }

  // ── q58: dispersion statistics, exactly ─────────────────────────────
  // Engines' native stddev/variance use Welford-style streaming
  // updates whose float error depends on row order — not oracle-able.
  // Computing the two moments in DECIMAL (exact, order-independent)
  // and deriving variance/stddev with one fixed double expression is
  // bit-identical across engines AND across any cluster partitioning.
  def quantityDispersion(t: Tables): DataFrame = {
    import t.spark.implicits._
    val n = count(lit(1)).cast("double")
    val s1 = dsum($"l_quantity")
    val s2 = sum(($"l_quantity" * $"l_quantity").cast(DecimalType(28, 4))).cast("double")
    t.lineitem
      .groupBy($"l_returnflag")
      .agg(((s2 - s1 * s1 / n) / (n - lit(1.0))).as("var_qty"),
        sqrt((s2 - s1 * s1 / n) / (n - lit(1.0))).as("stddev_qty"),
        n.cast("long").as("n_rows"))
  }

  // ── q110: covariance / correlation, exactly ─────────────────────────
  /** Same recipe as q58 one moment up: native `corr`/`covar_samp` are
    * Welford-style streaming updates (order-dependent float — not
    * oracle-able and not partition-deterministic). Instead the five
    * moments Σx, Σy, Σx², Σy², Σxy accumulate EXACTLY and one fixed
    * double expression derives sample covariance and Pearson
    * correlation — bit-identical across engines and any cluster
    * partitioning/merge order. The price column is a double holding a
    * 2-dp value, and double→DECIMAL casts are NOT portable (Spark
    * shortest-string vs DuckDB round-in-double), so both sides first
    * recover exact integer units — `floor(x·100 + 0.5)` is identical
    * IEEE arithmetic everywhere, and quantities are integral — then
    * every moment is integer math summed in DECIMAL(38,0) (no row
    * bound). Covariance is rescaled by the one fixed /100.0;
    * correlation is scale-free. */
  /** Generic facade form over ARBITRARY columns: `xCol`/`yCol` must
    * hold fixed-point values of `xDecimals`/`yDecimals` fractional
    * digits (0 for integers) — the floor recovery and all five
    * DECIMAL(38,0) moments are exact, and the covariance rescale by
    * 10^(xDecimals+yDecimals) is the single fixed double op. The
    * recovered integers are cast to DECIMAL(38,0) BEFORE the moment
    * products, so x·x / x·y never pass through Long — values past
    * ~3e9 fixed-point units stay exact instead of silently wrapping
    * in non-ANSI mode. */
  def exactCorrelationOver(
      df: DataFrame, keyCol: org.apache.spark.sql.Column,
      xCol: org.apache.spark.sql.Column, yCol: org.apache.spark.sql.Column,
      xDecimals: Int = 0, yDecimals: Int = 0): DataFrame = {
    val xi = floor(xCol * lit(math.pow(10.0, xDecimals)) + lit(0.5))
      .cast(DecimalType(38, 0))
    val yi = floor(yCol * lit(math.pow(10.0, yDecimals)) + lit(0.5))
      .cast(DecimalType(38, 0))
    val n = count(lit(1)).cast("double")
    def isum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 0))).cast("double")
    val x = col("x")
    val y = col("y")
    df.select(keyCol.as("key"), xi.as("x"), yi.as("y"))
      .groupBy(col("key"))
      .agg(
        (((isum(x * y) - isum(x) * isum(y) / n) / (n - lit(1.0)))
          / lit(math.pow(10.0, xDecimals + yDecimals))).as("cov"),
        ((isum(x * y) - isum(x) * isum(y) / n)
          / (sqrt(isum(x * x) - isum(x) * isum(x) / n)
            * sqrt(isum(y * y) - isum(y) * isum(y) / n))).as("corr"),
        n.cast("long").as("n_rows"))
  }

  // ── q192: grouped ordinary-least-squares regression, exactly ────────
  /** Per-group simple linear regression (slope, intercept, R²) — the
    * q110 recipe one derivation further: native `regr_slope`/
    * `regr_intercept` are Welford-style streaming folds
    * (order-dependent float — not oracle-able, not partition-
    * deterministic), so instead the five moments accumulate EXACTLY
    * (floor-recovered fixed-point integers summed as DECIMAL(38,0) —
    * map-side combinable, any partitioning) and each statistic is ONE
    * fixed double expression over the correctly-rounded moment casts:
    *
    *   slope_f = (Σxy − Σx·Σy/n) / (Σx² − (Σx)²/n)
    *   intercept_f = (Σy − slope_f·Σx) / n
    *   R² = (Σxy − Σx·Σy/n)² / ((Σx² − (Σx)²/n)·(Σy² − (Σy)²/n))
    *
    * Zero-variance groups (x constant, or y constant for R²) yield
    * NULL via an explicit guard — never Inf/NaN, which don't hash
    * portably. The fixed-point rescale (10^(yDecimals−xDecimals) for
    * slope, 10^yDecimals for intercept) is a single division each;
    * R² is scale-free. This is the workhorse of per-segment trend
    * analysis ("is spend rising per nation?") — at 100 TB it's one
    * map-side-combined agg, |groups| result rows, no window, no
    * second pass. */
  /** Shared split-moment aggregation over a pre-shaped (key, x, y)
    * long frame: per-key (n, Σx, Σy, Σx², Σy², Σxy) with the second
    * moments floor-split at 2³⁰ before the DECIMAL(38,0) sums and
    * recombined hi·2³⁰ + lo — every engine-crossing cast stays on the
    * exact int64 path (the q192 DuckDB hugeint-cast finding), the
    * recombination is the identical double op pair. Consumed by
    * [[groupedOlsOver]] and [[lagAutocorrOver]]. */
  private def splitMomentsAgg(kxy: DataFrame): DataFrame = {
    val S = 1L << 30
    val sD = lit(S.toDouble) // 2³⁰ exact as double
    val n = count(lit(1)).cast("double")
    def isum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 0))).cast("double")
    def lo(p: String) = pmod(col(p), lit(S))
    def hi(p: String) = expr(s"($p - ${p}_lo) div ${S}L")
    val split = kxy
      .withColumn("pxx", col("x") * col("x"))
      .withColumn("pyy", col("y") * col("y"))
      .withColumn("pxy", col("x") * col("y"))
      .withColumn("pxx_lo", lo("pxx")).withColumn("pyy_lo", lo("pyy"))
      .withColumn("pxy_lo", lo("pxy"))
      .withColumn("pxx_hi", hi("pxx")).withColumn("pyy_hi", hi("pyy"))
      .withColumn("pxy_hi", hi("pxy"))
    split
      .groupBy(col("key"))
      .agg(n.as("n"), isum(col("x")).as("sx"), isum(col("y")).as("sy"),
        isum(col("pxx_hi")).as("sxx_hi"), isum(col("pxx_lo")).as("sxx_lo"),
        isum(col("pyy_hi")).as("syy_hi"), isum(col("pyy_lo")).as("syy_lo"),
        isum(col("pxy_hi")).as("sxy_hi"), isum(col("pxy_lo")).as("sxy_lo"))
      .withColumn("sxx", col("sxx_hi") * sD + col("sxx_lo"))
      .withColumn("syy", col("syy_hi") * sD + col("syy_lo"))
      .withColumn("sxy", col("sxy_hi") * sD + col("sxy_lo"))
  }

  def groupedOlsOver(
      df: DataFrame, keyCol: org.apache.spark.sql.Column,
      xCol: org.apache.spark.sql.Column, yCol: org.apache.spark.sql.Column,
      xDecimals: Int = 0, yDecimals: Int = 0): DataFrame = {
    // Second moments are SPLIT at 2³⁰ before the decimal sums (the
    // dimStats recipe): a decimal sum that exceeds 2⁶³ takes DuckDB's
    // two-part hugeint→double cast, which is NOT correctly rounded
    // (measured 1-ULP drift at generated sf1) — splitting keeps every
    // cast value on the exact int64 path of BOTH engines, and the
    // recombination hi·2³⁰ + lo is the identical double op pair.
    // Floor-split (lo = pmod ∈ [0, 2³⁰), hi = (p − lo) div 2³⁰) is
    // sign-correct for negative products. Domain (ANSI-loud beyond):
    // |fixed-point values| < 2³¹ (long products), < 2³¹ rows/group.
    val xi = floor(xCol * lit(math.pow(10.0, xDecimals)) + lit(0.5))
      .cast("long")
    val yi = floor(yCol * lit(math.pow(10.0, yDecimals)) + lit(0.5))
      .cast("long")
    splitMomentsAgg(df.select(keyCol.as("key"), xi.as("x"), yi.as("y")))
      .withColumn("dxy", col("sxy") - col("sx") * col("sy") / col("n"))
      .withColumn("dxx", col("sxx") - col("sx") * col("sx") / col("n"))
      .withColumn("dyy", col("syy") - col("sy") * col("sy") / col("n"))
      .withColumn("slope_f", when(col("dxx") > 0, col("dxy") / col("dxx")))
      .select(col("key"), col("n").cast("long").as("n_rows"),
        (col("slope_f") / lit(math.pow(10.0, yDecimals - xDecimals)))
          .as("slope"),
        (when(col("slope_f").isNotNull,
          (col("sy") - col("slope_f") * col("sx")) / col("n"))
          / lit(math.pow(10.0, yDecimals))).as("intercept"),
        when(col("dxx") > 0 && col("dyy") > 0,
          (col("dxy") * col("dxy")) / (col("dxx") * col("dyy"))).as("r2"))
  }

  /** q192 fixture: per-nation trend of order value over time — cents
    * regressed on whole days since the epoch (midnight timestamps make
    * the integer-µs division exact). The question every revenue
    * dashboard asks, answered bit-identically on both engines. */
  def nationSpendTrend(t: Tables): DataFrame = {
    import t.spark.implicits._
    import graft.functions.TimeFunctions.tsMicros
    val facts = t.orders
      .join(broadcast(t.customer.select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(t.nation.select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
    groupedOlsOver(facts, $"n_name",
      (tsMicros($"o_orderdate") / 86400000000L).cast("long"),
      $"o_totalprice", xDecimals = 0, yDecimals = 2)
      .select($"key".as("n_name"), $"n_rows", $"slope", $"intercept", $"r2")
      .orderBy($"n_name")
  }

  // ── q196: per-key lag-k autocorrelation, exactly ────────────────────
  /** Serial correlation of a per-key series with its own k-step lag —
    * the first question asked of any per-entity time series ("is this
    * signal trending or memoryless?"), and the residual diagnostic
    * behind every forecasting model (Box–Jenkins identification).
    * One window pass pairs each value with lag-k (per key, ordered by
    * the caller's total order), then Pearson over the pairs via the
    * SAME split exact-moment machinery as q192 — engine-exact,
    * order-independent, NULL (never NaN) for constant or too-short
    * series. Scale: one exchange on the key for the lag window, one
    * map-side-combined agg — no second pass, no self-join (the naive
    * formulation joins the series to itself shifted, shuffling twice).
    * Output: (key, n_pairs, autocorr). */
  def lagAutocorrOver(
      df: DataFrame, keyCol: org.apache.spark.sql.Column,
      tsCol: org.apache.spark.sql.Column, seqCol: org.apache.spark.sql.Column,
      valCol: org.apache.spark.sql.Column, k: Int = 1,
      decimals: Int = 6): DataFrame = {
    require(k >= 1, s"lag must be >= 1: $k")
    val vi = floor(valCol * lit(math.pow(10.0, decimals)) + lit(0.5))
      .cast("long")
    val w = Window.partitionBy(col("key")).orderBy(col("__ts"), col("__seq"))
    val pairs = df
      .select(keyCol.as("key"), tsCol.as("__ts"), seqCol.as("__seq"),
        vi.as("y"))
      .withColumn("x", lag(col("y"), k).over(w))
      .filter(col("x").isNotNull)
      .select(col("key"), col("x"), col("y"))
    splitMomentsAgg(pairs)
      .withColumn("dxy", col("sxy") - col("sx") * col("sy") / col("n"))
      .withColumn("dxx", col("sxx") - col("sx") * col("sx") / col("n"))
      .withColumn("dyy", col("syy") - col("sy") * col("sy") / col("n"))
      .select(col("key"), col("n").cast("long").as("n_pairs"),
        when(col("dxx") > 0 && col("dyy") > 0,
          col("dxy") / (sqrt(col("dxx")) * sqrt(col("dyy"))))
          .as("autocorr"))
  }

  /** q196 fixture: per-user lag-1 autocorrelation of event values in
    * (ts, event_id) order — memorylessness check on the event stream. */
  def userValueAutocorr(t: Tables): DataFrame = {
    import t.spark.implicits._
    import graft.functions.TimeFunctions.tsMicros
    lagAutocorrOver(t.events, $"user_id", tsMicros($"ts"), $"event_id",
      $"value")
      .select($"key".as("user_id"), $"n_pairs", $"autocorr")
      .orderBy($"user_id")
  }

  def quantityPriceCorrelation(t: Tables): DataFrame = {
    import t.spark.implicits._
    exactCorrelationOver(
      t.lineitem, $"l_returnflag", $"l_quantity", $"l_extendedprice",
      xDecimals = 0, yDecimals = 2)
      .select($"key".as("l_returnflag"), $"cov".as("cov_qty_price"),
        $"corr".as("corr_qty_price"), $"n_rows")
      .orderBy($"l_returnflag")
  }

  // ── q60: top suppliers by shipped revenue (TPC-H Q15 shape) ─────────
  // Aggregate the fact table FIRST (map-side partial → 10 supplier
  // rows), then broadcast-join the dims onto the tiny result — never
  // the other way around.
  def topSuppliers(t: Tables, k: Int = 5): DataFrame = {
    import t.spark.implicits._
    val rev = t.lineitem
      .groupBy($"l_suppkey")
      .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_items"))
    rev.join(broadcast(t.supplier), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(t.nation), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"n_name", $"revenue", $"n_items")
      .orderBy($"revenue".desc, $"s_suppkey")
      .limit(k)
  }

  def eventDailyWindows(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.events
      .groupBy(window($"ts", "1 day").getField("start").as("day_start"), $"event_type")
      .agg(count(lit(1)).as("n_events"), dsum($"value", 4).as("total_value"))
      .orderBy($"day_start", $"event_type")
  }

  // ── q82: FULL OUTER join with preserved null sides ──────────────────
  // Nations seen from the negative-balance customer side OR the
  // negative-balance supplier side; a side's absence stays NULL (no
  // coalesce-away) — the outer-join semantics themselves are what the
  // oracle checks. Both inputs are pre-aggregated (tiny), so the
  // outer join itself is broadcast-able; at scale a fact-fact full
  // outer is a plain shuffle SMJ on the key.
  def fullOuterBalances(t: Tables): DataFrame = {
    import t.spark.implicits._
    val c = t.customer.filter($"c_acctbal" < 0)
      .groupBy($"c_nationkey").agg(count(lit(1)).as("neg_customers"))
    val s = t.supplier.filter($"s_acctbal" < 0)
      .groupBy($"s_nationkey").agg(count(lit(1)).as("neg_suppliers"))
    c.join(s, $"c_nationkey" === $"s_nationkey", "full_outer")
      .select(
        coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        $"neg_customers", $"neg_suppliers")
      .orderBy($"nationkey")
  }

  // ── q83: unpivot (wide metrics → long) ──────────────────────────────
  // The melt complement of q46's pivot: one wide per-region row of
  // three counts becomes three (region, metric, value) rows via the
  // native `unpivot` operator (plans as Expand — each input row is
  // emitted k times with a projection, no shuffle added).
  def regionMetricsLong(t: Tables): DataFrame = {
    import t.spark.implicits._
    val wide = broadcast(t.region)
      .join(t.nation, $"r_regionkey" === $"n_regionkey")
      .join(t.customer, $"n_nationkey" === $"c_nationkey", "left")
      .groupBy($"r_name")
      .agg(countDistinct($"n_nationkey").as("n_nations"),
        count($"c_custkey").as("n_customers"),
        countDistinct($"c_mktsegment").as("n_segments"))
    wide.unpivot(
        Array($"r_name"),
        Array($"n_nations", $"n_customers", $"n_segments"),
        "metric", "value")
      .orderBy($"r_name", $"metric")
  }

  // ── q95: single-pass column profiler (ANALYZE-style stats) ──────────
  // Per numeric column: count, exact distinct count, min/max, and the
  // decimal-exact mean — in ONE scan of the table (the multi-distinct
  // plans as a single Expand + aggregate, not one job per column),
  // then an explode from the one wide row to (column, stats) rows.
  // The profiler every ingestion pipeline runs before deciding
  // partitioning and encodings; at 100 TB one pass vs k passes is the
  // difference between minutes and hours.
  def columnProfileOver(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfileOver needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        davg(col(c), 4).as(s"${c}__avg"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("column_name"),
        col(s"${c}__n").as("n"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"),
        col(s"${c}__avg").as("avg_v"))
    }
    wide.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  def columnProfile(t: Tables): DataFrame = {
    import t.spark.implicits._
    columnProfileOver(t.lineitem,
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy($"column_name")
  }

  // ── q157: entity resolution — golden records ─────────────────────────
  /** The full entity-resolution pipeline as ONE composition of the
    * engine's own primitives — blocking + fuzzy matching
    * ([[fuzzyPairsOver]]'s PassJoin-indexed Levenshtein pairs),
    * transitive clustering ([[graft.operators.Dedup.connectedComponents]]'
    * pointer-jumping CC, O(log d) rounds), and survivorship: per
    * cluster the GOLDEN record is the longest name, ties to the
    * smallest id — one collision-free `min_by` struct key
    * ((−len, id), the q145 recipe), no window. Every stage is the
    * already-scale-proven operator; the composition adds one small
    * join and one agg. Emits one row per entity (cluster), singletons
    * included — the golden-record table IS the deduplicated entity
    * table. */
  def goldenRecordsOver(df: DataFrame, idCol: Column, blockCol: Column,
      nameCol: Column, maxDist: Int): DataFrame = {
    val pairs = fuzzyPairsOver(df, idCol, blockCol, nameCol, maxDist)
      .select(col("id_a"), col("id_b"))
    val nodes = df.select(idCol.as("id"))
    val cc = graft.operators.Dedup.connectedComponents(
      nodes, pairs, edgesWithinNodes = true)
    val named = cc.join(df.select(idCol.as("id"), nameCol.as("name")), "id")
    // struct ordering key (−len asc, id asc) — collision-free for any
    // long id, unlike the former len·2³²−id packing (overflow ≥ 2³²)
    val key = struct((-length(col("name")).cast("long")).as("nl"),
      col("id").as("i"))
    named.groupBy(col("component").as("cluster_id"))
      .agg(min_by(col("id"), key).as("golden_id"),
        min_by(col("name"), key).as("golden_name"),
        count(lit(1)).as("n_members"))
  }

  def partGoldenRecords(t: Tables, maxDist: Int = 2): DataFrame = {
    import t.spark.implicits._
    goldenRecordsOver(t.part, $"p_partkey", $"p_brand", $"p_name", maxDist)
      .orderBy($"cluster_id")
  }

  // ── q198: INCREMENTAL entity resolution ─────────────────────────────
  // q157 re-resolves the world per run; no production MDM does — new
  // records arrive daily and must match against the EXISTING canonical
  // clusters (the q162/q182 persisted-index treatment applied to ER).
  // The exactness lever is graph condensation: matching is name-based
  // and within-block, so the existing clusters are a CONDENSATION of
  // the full similarity graph — running CC over {cluster reps ∪ new
  // ids} with the delta's edges (new↔new, new↔old mapped to the old
  // record's rep) yields exactly the components a full recompute
  // would, including the hard case of a new record WELDING two
  // existing clusters. Survivorship is re-derived only for touched
  // blocks' members (read off the persisted membership table); golden
  // rows of untouched blocks pass through from the persisted golden
  // table. Refresh cost: O(new + members-of-touched-BLOCKS) — block
  // granularity, because the block is the matching scope.

  private val ErMemberCols = Seq("id", "block", "name", "cluster")
  private val ErGoldenCols =
    Seq("block", "cluster_id", "golden_id", "golden_name", "n_members")

  /** The survivorship agg shared by full and incremental resolution:
    * one min_by per output column on the collision-free
    * (−len, id) struct key. `mem` is (id, block, name, cluster). */
  private def survivorshipOver(mem: DataFrame): DataFrame = {
    val key = struct((-length(col("name")).cast("long")).as("nl"),
      col("id").as("i"))
    mem.groupBy(col("block"), col("cluster").as("cluster_id"))
      .agg(min_by(col("id"), key).as("golden_id"),
        min_by(col("name"), key).as("golden_name"),
        count(lit(1)).as("n_members"))
  }

  /** Resolve `df` from scratch and persist the canonical state: a
    * membership table (id, block, name, cluster) BUCKETED BY cluster
    * and a golden table (block, cluster_id, golden_id, golden_name,
    * n_members) bucketed by block — the state
    * [[goldenRecordsIncrement]] matches new batches against. */
  def buildErIndex(df: DataFrame, idCol: Column, blockCol: Column,
      nameCol: Column, maxDist: Int, table: String, buckets: Int = 8): Unit = {
    val spark = df.sparkSession
    State.dropTables(spark, table, s"${table}_golden")
    val base = df.select(idCol.as("id"), blockCol.as("block"),
      nameCol.as("name"))
    val pairs = fuzzyPairsOver(df, idCol, blockCol, nameCol, maxDist)
      .select(col("id_a"), col("id_b"))
    val cc = graft.operators.Dedup.connectedComponents(
      base.select(col("id")), pairs, edgesWithinNodes = true)
    val mem = base.join(cc, "id")
      .select(col("id"), col("block"), col("name"),
        col("component").as("cluster"))
    mem.repartition(buckets, col("cluster"))
      .write.bucketBy(buckets, "cluster").saveAsTable(table)
    survivorshipOver(spark.table(table))
      .repartition(buckets, col("block")).write.bucketBy(buckets, "block").saveAsTable(s"${table}_golden")
  }

  /** Match a new batch against the persisted canonical state and
    * return the UPDATED golden-record table (block, cluster_id,
    * golden_id, golden_name, n_members) — identical to a full
    * re-resolution of (existing ∪ new), spec-proven. New ids must be
    * disjoint from existing ids. Use [[updateErIndex]] to also roll
    * the persisted state forward. */
  def goldenRecordsIncrement(newDf: DataFrame, table: String,
      maxDist: Int): DataFrame =
    erIncrementState(newDf, table, maxDist)._1

  /** The incremental core: returns (updated golden table, updated
    * membership table, updated pair sidecar if the state carries one
    * — [[buildErIndexFull]] states do, [[buildErIndex]] states don't)
    * for a new batch against the persisted state. */
  private def erIncrementState(newDf: DataFrame, table: String,
      maxDist: Int): (DataFrame, DataFrame, Option[DataFrame]) = {
    val spark = newDf.sparkSession
    require(newDf.columns.sameElements(Seq("id", "block", "name")),
      s"new batch must be (id, block, name): ${newDf.columns.toSeq}")
    val members = spark.table(table)
    require(members.columns.sameElements(ErMemberCols),
      s"$table is not an ER membership table: ${members.columns.toSeq}")
    val golden = spark.table(s"${table}_golden")
    val touchedBlocks = newDf.select(col("block")).distinct()
    // whole clusters live inside one block (matching is within-block),
    // so the touched-block semi-join captures complete clusters
    val oldTouched = members
      .join(broadcast(touchedBlocks), Seq("block"), "left_semi")
    val probe = newDf.unionByName(
      oldTouched.select(col("id"), col("block"), col("name")))
    val pairs = fuzzyPairsOver(probe, col("id"), col("block"), col("name"),
      maxDist).select(col("id_a"), col("id_b"))
    // condense: old endpoints map to their cluster rep, new to themselves
    val rep = oldTouched.select(col("id"), col("cluster"))
    val edges = pairs
      .join(rep.select(col("id").as("id_a"), col("cluster").as("__ca")),
        Seq("id_a"), "left")
      .join(rep.select(col("id").as("id_b"), col("cluster").as("__cb")),
        Seq("id_b"), "left")
      .select(coalesce(col("__ca"), col("id_a")).as("a"),
        coalesce(col("__cb"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
    val nodes = newDf.select(col("id"))
      .unionByName(oldTouched.select(col("cluster").as("id")).distinct())
      .distinct()
    val cc = graft.operators.Dedup.connectedComponents(nodes, edges,
      edgesWithinNodes = true)
    val clusterMap = cc
      .join(oldTouched.select(col("cluster").as("id")).distinct(),
        Seq("id"), "left_semi")
      .select(col("id").as("cluster"), col("component").as("__nc"))
    val relabeledOld = oldTouched.join(clusterMap, Seq("cluster"))
      .select(col("id"), col("block"), col("name"), col("__nc").as("cluster"))
    val newMem = newDf
      .join(cc.select(col("id"), col("component").as("cluster")), Seq("id"))
      .select(col("id"), col("block"), col("name"), col("cluster"))
    val touchedMem = relabeledOld.unionByName(newMem)
    val updatedGolden = golden
      .join(broadcast(touchedBlocks), Seq("block"), "left_anti")
      .unionByName(survivorshipOver(touchedMem))
    val updatedMembers = members
      .join(broadcast(touchedBlocks), Seq("block"), "left_anti")
      .select(col("id"), col("block"), col("name"), col("cluster"))
      .unionByName(touchedMem)
    // delete-capable states also persist the verified pair set; the
    // probe's pair run covers ALL within-block pairs of the touched
    // blocks (probe = new ∪ every old member there), so the sidecar
    // rolls forward as untouched-block rows + relabeled probe pairs —
    // an insert never silently delete-breaks a full state
    val updatedPairs =
      if (!spark.catalog.tableExists(s"${table}_pairs")) None
      else Some(spark.table(s"${table}_pairs")
        .join(broadcast(touchedBlocks), Seq("block"), "left_anti")
        .select(col("cluster"), col("block"), col("id_a"), col("id_b"))
        .unionByName(pairs
          .join(touchedMem.select(col("id").as("id_a"), col("block"),
            col("cluster")), Seq("id_a"))
          .select(col("cluster"), col("block"), col("id_a"), col("id_b"))))
    (updatedGolden, updatedMembers, updatedPairs)
  }

  /** Roll the persisted canonical state forward with a new batch —
    * rewrites the touched blocks' membership and golden rows; two-step
    * ≡ rebuild (spec-proven, the q162/q182 lifecycle contract). */
  def updateErIndex(newDf: DataFrame, table: String, maxDist: Int,
      buckets: Int = 8): Unit = {
    val spark = newDf.sparkSession
    val (updatedGolden, updatedMembers, updatedPairs) =
      erIncrementState(newDf, table, maxDist)
    val g = updatedGolden.localCheckpoint(true)
    val m = updatedMembers.localCheckpoint(true)
    val p = updatedPairs.map(_.localCheckpoint(true))
    State.dropTables(spark,
      Seq(table, s"${table}_golden") ++ p.map(_ => s"${table}_pairs"): _*)
    m.repartition(buckets, col("cluster"))
      .write.bucketBy(buckets, "cluster").saveAsTable(table)
    g.repartition(buckets, col("block"))
      .write.bucketBy(buckets, "block").saveAsTable(s"${table}_golden")
    p.foreach(_.repartition(buckets, col("cluster"))
      .write.bucketBy(buckets, "cluster")
      .sortBy("cluster", "id_a", "id_b").saveAsTable(s"${table}_pairs"))
  }

  /** q198: incremental golden records — the canonical state is built
    * from 90% of parts once (memoized), the p_partkey%10==4 batch
    * matched in at query time; must hash-equal q157's FULL-corpus
    * resolution (the oracle is q157's verbatim). */
  def partGoldenRecordsIncremental(t: Tables, maxDist: Int = 2): DataFrame = {
    import t.spark.implicits._
    val table = State.ensure(t, "er", "part") {
      buildErIndex(t.part.filter($"p_partkey" % 10 =!= 4),
        $"p_partkey", $"p_brand", $"p_name", maxDist, _)
    }
    val delta = t.part.filter($"p_partkey" % 10 === 4)
      .select($"p_partkey".as("id"), $"p_brand".as("block"),
        $"p_name".as("name"))
    goldenRecordsIncrement(delta, table, maxDist)
      .select($"cluster_id", $"golden_id", $"golden_name", $"n_members")
      .orderBy($"cluster_id")
  }

  // ── q216: incremental ER under MEMBER DELETION ──────────────────────
  // [[updateErIndex]] grows the canonical state; retracting a member
  // (GDPR erasure, a source system un-merging a record, curation
  // rollback) had no maintenance path — and deletion is the hard
  // direction, because removing the record that BRIDGED two real
  // entities must split a previously-welded cluster, which min-label
  // clustering can never express incrementally without state. The
  // treatment is q215's (and q208's) touched-component recipe: persist
  // the verified fuzzy-match pair set WITH each pair's cluster label,
  // bucketed by cluster, and on a delete batch re-run CC over ONLY the
  // clusters that lost a member — surviving members and pairs stream
  // off the cluster-bucketed state behind broadcast semi/anti joins
  // (no state shuffle), survivorship is re-derived for exactly those
  // clusters, and every untouched golden row passes through
  // byte-identically. Exact because the match predicate is per-pair
  // (levenshtein within a block): deleting a record removes exactly
  // its incident pairs and can never create one, and no surviving pair
  // crosses a cluster boundary (clusters are the transitive closure),
  // so CC restricted to a touched cluster IS the global CC there.
  // Cost: O(|D| + members/pairs-of-touched-clusters); the corpus-scale
  // tables are never re-matched or re-labeled.

  /** [[buildErIndex]] plus the delete-capable state: the verified
    * fuzzy-pair set written WITH each pair's cluster label and block,
    * bucketed by cluster — so a delete batch's touched-cluster
    * re-solve reads only its own buckets. The insert-side consumers
    * ([[goldenRecordsIncrement]], [[updateErIndex]]) read the
    * member/golden tables unchanged and roll this sidecar forward. */
  def buildErIndexFull(df: DataFrame, idCol: Column, blockCol: Column,
      nameCol: Column, maxDist: Int, table: String, buckets: Int = 8): Unit = {
    val spark = df.sparkSession
    State.dropTables(spark, table, s"${table}_golden", s"${table}_pairs")
    val base = df.select(idCol.as("id"), blockCol.as("block"),
      nameCol.as("name"))
    val pairs = fuzzyPairsOver(df, idCol, blockCol, nameCol, maxDist)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val cc = graft.operators.Dedup.connectedComponents(
      base.select(col("id")), pairs, edgesWithinNodes = true)
    base.join(cc, "id")
      .select(col("id"), col("block"), col("name"),
        col("component").as("cluster"))
      .repartition(buckets, col("cluster")).write.bucketBy(buckets, "cluster").saveAsTable(table)
    survivorshipOver(spark.table(table))
      .repartition(buckets, col("block")).write.bucketBy(buckets, "block").saveAsTable(s"${table}_golden")
    // both endpoints share one cluster and block by construction (the
    // labeling is the transitive closure of exactly these pairs)
    pairs
      .join(spark.table(table).select(col("id").as("id_a"), col("block"),
        col("cluster")), Seq("id_a"))
      .select(col("cluster"), col("block"), col("id_a"), col("id_b"))
      .repartition(buckets, col("cluster")).write.bucketBy(buckets, "cluster").sortBy("cluster", "id_a", "id_b")
      .saveAsTable(s"${table}_pairs")
  }

  /** The golden-record table over the SURVIVING corpus after deleting
    * `deleteIds`' members from a [[buildErIndexFull]] state —
    * identical to a from-scratch resolution of the survivors (q216's
    * oracle). Deletes referencing a record the state never held raise
    * loudly (the [[graft.operators.Ivm]] family's phantom contract). */
  def erApplyDeletes(deleteIds: DataFrame, table: String): DataFrame =
    erDeleteState(deleteIds, table)._1

  /** The delete core: (updated golden, updated members, updated pair
    * sidecar) for a delete batch against a full state. */
  private def erDeleteState(deleteIds: DataFrame, table: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = deleteIds.sparkSession
    val members = spark.table(table)
    require(members.columns.sameElements(ErMemberCols),
      s"$table is not an ER membership table: ${members.columns.toSeq}")
    val golden = spark.table(s"${table}_golden")
    val pairs = spark.table(s"${table}_pairs")
    // both counts ride their frame's materialization job via observe()
    // (the connectedComponents recipe — two fewer driver jobs on a
    // latency-bound fold)
    val (del, nDel) = State.checkpointCounted(
      deleteIds.select(col(deleteIds.columns.head).as("id")).distinct(),
      count(lit(1)))
    // each delete's cluster off the bucketed membership — the small
    // side broadcasts; the matched rows are delta-bounded
    val (matched, nMatched) = State.checkpointCounted(
      members.join(broadcast(del), Seq("id")).select(col("cluster")),
      count(lit(1)))
    if (nMatched != nDel)
      throw new IllegalArgumentException(
        s"Relational.erApplyDeletes: ${nDel - nMatched} of $nDel deletes "
          + "reference records the state never held — phantom deletes")
    val delComp = matched.distinct()
    // touched clusters' surviving members and pairs, off the
    // cluster-bucketed state (broadcast semi + anti joins — no state
    // shuffle, ErRetractSpec asserts it)
    val survMembers = members
      .join(broadcast(delComp), Seq("cluster"), "left_semi")
      .join(broadcast(del), Seq("id"), "left_anti")
      .select(col("id"), col("block"), col("name"))
    val survPairs = pairs
      .join(broadcast(delComp), Seq("cluster"), "left_semi")
      .join(broadcast(del.select(col("id").as("id_a"))),
        Seq("id_a"), "left_anti")
      .join(broadcast(del.select(col("id").as("id_b"))),
        Seq("id_b"), "left_anti")
      .select(col("id_a"), col("id_b"))
    val cc = graft.operators.Dedup.connectedComponents(
      survMembers.select(col("id")), survPairs, edgesWithinNodes = true)
    val touchedMem = survMembers
      .join(cc.select(col("id"), col("component").as("cluster")), Seq("id"))
      .select(col("id"), col("block"), col("name"), col("cluster"))
    val updatedGolden = golden
      .join(broadcast(delComp.select(col("cluster").as("cluster_id"))),
        Seq("cluster_id"), "left_anti")
      .select(col("block"), col("cluster_id"), col("golden_id"),
        col("golden_name"), col("n_members"))
      .unionByName(survivorshipOver(touchedMem))
    val updatedMembers = members
      .join(broadcast(delComp), Seq("cluster"), "left_anti")
      .select(col("id"), col("block"), col("name"), col("cluster"))
      .unionByName(touchedMem)
    val updatedPairs = pairs
      .join(broadcast(delComp), Seq("cluster"), "left_anti")
      .select(col("cluster"), col("block"), col("id_a"), col("id_b"))
      .unionByName(survPairs
        .join(touchedMem.select(col("id").as("id_a"), col("block"),
          col("cluster")), Seq("id_a"))
        .select(col("cluster"), col("block"), col("id_a"), col("id_b")))
    (updatedGolden, updatedMembers, updatedPairs)
  }

  /** Roll the FULL canonical state forward under a delete batch —
    * the deleted members leave every table, touched clusters carry the
    * post-delete labeling (splits included), untouched rows rewrite
    * byte-identically. Two-step ≡ rebuild over the survivors
    * (ErRetractSpec proves table-level equality). */
  def updateErIndexDeletes(deleteIds: DataFrame, table: String,
      buckets: Int = 8): Unit = {
    val spark = deleteIds.sparkSession
    val (g0, m0, p0) = erDeleteState(deleteIds, table)
    val g = g0.localCheckpoint(true)
    val m = m0.localCheckpoint(true)
    val p = p0.localCheckpoint(true)
    State.dropTables(spark, table, s"${table}_golden", s"${table}_pairs")
    m.repartition(buckets, col("cluster"))
      .write.bucketBy(buckets, "cluster").saveAsTable(table)
    g.repartition(buckets, col("block"))
      .write.bucketBy(buckets, "block").saveAsTable(s"${table}_golden")
    p.repartition(buckets, col("cluster"))
      .write.bucketBy(buckets, "cluster").sortBy("cluster", "id_a", "id_b")
      .saveAsTable(s"${table}_pairs")
  }

  /** q216 fixture: the FULL delete-capable state built over the whole
    * part corpus once (memoized, q215's recipe), then the
    * p_partkey ≡ 3 (mod 17) slice DELETED at query time. The emitted
    * golden table covers the survivors and must hash-equal q157's
    * from-scratch resolution of exactly the surviving corpus — blind
    * to the engine's state/delete split. */
  def partGoldenRecordsDelete(t: Tables, maxDist: Int = 2): DataFrame = {
    import t.spark.implicits._
    val table = State.ensure(t, "erf", "part") {
      buildErIndexFull(t.part, $"p_partkey", $"p_brand", $"p_name", maxDist, _)
    }
    erApplyDeletes(t.part.filter($"p_partkey" % 17 === 3)
        .select($"p_partkey"), table)
      .select($"cluster_id", $"golden_id", $"golden_name", $"n_members")
      .orderBy($"cluster_id")
  }

  // ── q156: column drift detector ──────────────────────────────────────
  /** Training/serving skew detection — the ML-ops check a feature
    * pipeline runs between two snapshots (yesterday vs today, train
    * vs serve, segment A vs B): profile the same columns on both
    * sides (each via [[columnProfileOver]]'s ONE-scan multi-stat
    * pass), join the k-row profiles, and flag columns whose mean
    * shifted more than `relThresh` relatively or whose [min, max]
    * range changed. The relative shift clears its zero denominator
    * (both means 0 ⇒ no shift) — every statistic is an exact-integer
    * or decimal-derived double, so flags are engine-exact.
    *
    * Plan: two single-scan profile aggs (map-side combined) + a
    * k-row join — nothing scales with anything but the scans. */
  def columnDriftOver(a: DataFrame, b: DataFrame, cols: Seq[String],
      relThresh: Double = 0.05): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame =
      columnProfileOver(df, cols).select(col("column_name"),
        col("n").as(s"n_$s"), col("n_distinct").as(s"nd_$s"),
        col("min_v").as(s"min_$s"), col("max_v").as(s"max_$s"),
        col("avg_v").as(s"avg_$s"))
    val denom = greatest(abs(col("avg_a")), abs(col("avg_b")))
    side(a, "a").join(side(b, "b"), "column_name")
      .withColumn("avg_shift",
        when(denom > 0, abs(col("avg_a") - col("avg_b")) / denom)
          .otherwise(lit(0.0)))
      .withColumn("range_changed",
        col("min_a") =!= col("min_b") || col("max_a") =!= col("max_b"))
      .withColumn("drifted",
        col("avg_shift") > relThresh || col("range_changed"))
  }

  /** Fixture instance: click-vs-purchase event profiles — `value`'s
    * range genuinely differs between the segments, `user_id` is
    * stationary, so the detector must split them. */
  def eventDrift(t: Tables): DataFrame = {
    import t.spark.implicits._
    columnDriftOver(
      t.events.filter($"event_type" === "click"),
      t.events.filter($"event_type" === "purchase"),
      Seq("value", "user_id"))
      .orderBy($"column_name")
  }

  // ── q84: fuzzy name matching (edit-distance pairs, blocked) ─────────
  // Entity-resolution primitive: near-identical part names within a
  // brand block at Levenshtein distance ≤ maxDist. Two stacked
  // de-quadratications, both exact:
  //
  //  1. CANONICALIZE-THEN-EXPAND (round 4): the comparison step runs
  //     over DISTINCT (block, name) values only — dup-heavy corpora
  //     collapse Σ|block|² to Σ|distinct names|² — and the id-level
  //     result is recovered with two linear expansion joins.
  //  2. SEGMENT-INDEX CANDIDATES (round 7): the distinct-name pair
  //     step itself was still an all-pairs join per block, and brand
  //     blocks GROW with the corpus (25 brands at every SF — the sf
  //     sweep measured 4.1× wall on 3× data). Now candidates come
  //     from PassJoin-style partitioning (Li/Deng/Wang/Feng, PVLDB
  //     2011): each name splits into d+1 contiguous segments; by
  //     pigeonhole, ≤ d edits leave SOME segment untouched, so any
  //     pair within distance d shares one segment EXACTLY, at a
  //     start shifted ≤ d. Index side emits its d+1 segments keyed
  //     (block, len, j, seg); probe side emits, for each target
  //     length l within ±d of its own, the substrings of segment-j
  //     length starting within ±d of the scheme's segment start (the
  //     loose-window superset of PassJoin's refined shift bound —
  //     more candidates, same completeness). Join on the key, verify
  //     with the real levenshtein. Candidate volume is linear in
  //     names (≈ (2d+1)²·(d+1) probe keys each) + the true-ish pair
  //     groups, never a block product.
  //
  // A |Δlen| ≤ d integer prefilter (implied by lev ≤ d) still guards
  // the verify. Same output bit-for-bit: candidates are a superset of
  // the true pair set by the pigeonhole argument, and the verify
  // filter is unchanged (OperatorsSpec cross-checks against the
  // brute-force join).
  /** Generic blocked edit-distance pairing (Graft facade entry).
    * `maxDist` ∈ [0, 5]: 0 degenerates to exact-duplicate names
    * within a block (no segment index needed); null names never pair
    * (SQL equality semantics — same as the pre-round-7 all-pairs
    * join, where a null name's levenshtein is null and filters out). */
  def fuzzyPairsOver(
      df: DataFrame, idCol: org.apache.spark.sql.Column,
      blockCol: org.apache.spark.sql.Column,
      nameCol: org.apache.spark.sql.Column, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 5, s"maxDist out of range: $maxDist")
    val d = maxDist
    val base = df
      .select(idCol.as("__id"), blockCol.as("block"), nameCol.as("__nm"))
      .filter(col("__nm").isNotNull)
    if (maxDist == 0) {
      // lev-0 pairs are exactly identical names in a block — one
      // equi-join on (block, name), no candidate generation
      return base.select(col("__id").as("id_a"), col("block"),
          col("__nm").as("__nm"))
        .join(base.select(col("__id").as("id_b"), col("block"),
          col("__nm").as("__nm")), Seq("block", "__nm"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("block"), lit(0).as("lev"))
    }
    val names = base.select(col("block"), col("__nm")).distinct()
      .withColumn("len", length(col("__nm")))
    // segment scheme for a length-l name: start q(j) = floor(j·l/(d+1)),
    // segment j = [q(j), q(j+1)) — deterministic, shared by both sides
    def q(j: String, l: String) = s"cast(floor(($j * $l) / ${d + 1}) as int)"
    def segLen(j: String, l: String) = s"(${q(s"($j + 1)", l)} - ${q(j, l)})"
    val indexKeys = expr(
      s"transform(sequence(0, $d), j -> struct(j AS j, " +
        s"substring(__nm, ${q("j", "len")} + 1, ${segLen("j", "len")}) AS seg))")
    val index = names
      .select(col("block"), col("len").as("l"), col("__nm").as("nm_i"),
        explode(indexKeys).as("k"))
      .select(col("block"), col("l"), col("k.j").as("j"), col("k.seg").as("seg"),
        col("nm_i"))
    // probe: for every target length l (±d) and segment j, all
    // substrings of that segment's length starting within ±d of the
    // scheme start (empty when the name is too short to host one).
    // The length sequence starts at greatest(0, len−d) — including
    // the l = 0 target — so names of length ≤ d probe the empty
    // name's index entries (all-empty segments) and the reflexive
    // empty-name pair survives; only length-≤d names ever emit an
    // l = 0 key, so the extra volume is O(d) keys per tiny name.
    val lo = s"greatest(0, ${q("j", "l")} - $d)"
    val hi = s"least(len - ${segLen("j", "l")}, ${q("j", "l")} + $d)"
    val probeKeys = expr(
      s"""array_distinct(flatten(transform(sequence(greatest(0, len - $d), len + $d), l ->
         |  flatten(transform(sequence(0, $d), j ->
         |    transform(filter(sequence($lo, greatest($lo, $hi)), p -> p <= $hi),
         |      p -> struct(l AS l, j AS j,
         |        substring(__nm, p + 1, ${segLen("j", "l")}) AS seg)))))))""".stripMargin)
    val probes = names
      .select(col("block"), col("__nm").as("nm_p"), explode(probeKeys).as("k"))
      .select(col("block"), col("k.l").as("l"), col("k.j").as("j"),
        col("k.seg").as("seg"), col("nm_p"))
    // unordered distinct-name candidates, including the reflexive pair
    // (same name twice — its id pairs are the lev-0 duplicates; a name
    // always probes its own index entry at l = len, p = q(j))
    val namePairs = probes.join(index, Seq("block", "l", "j", "seg"))
      .select(col("block"), least(col("nm_p"), col("nm_i")).as("name_a"),
        greatest(col("nm_p"), col("nm_i")).as("name_b"))
      .distinct()
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .filter(col("lev") <= maxDist)
    // expand back to ids: each unordered id pair surfaces exactly once
    // (distinct name pair → unique (A-side, B-side) combination,
    // canonicalized by least/greatest; same-name pair → id_a < id_b)
    namePairs
      .join(base.select(col("__id").as("id_a"), col("block"), col("__nm").as("name_a")),
        Seq("block", "name_a"))
      .join(base.select(col("__id").as("id_b"), col("block"), col("__nm").as("name_b")),
        Seq("block", "name_b"))
      .filter(col("name_a") =!= col("name_b") || col("id_a") < col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("block"), col("lev"))
  }

  def fuzzyPartNames(t: Tables, maxDist: Int = 2): DataFrame = {
    import t.spark.implicits._
    fuzzyPairsOver(t.part, $"p_partkey", $"p_brand", $"p_name", maxDist)
      .withColumnRenamed("block", "p_brand")
      .orderBy($"id_a", $"id_b")
  }

  // ── q173: referential-integrity audit ──────────────────────────────
  // The first data-quality gate any warehouse load runs: for every
  // declared FK edge, how many child rows point at a missing parent?
  // (The reference serves joined snapshots whose integrity it simply
  // assumes; a load pipeline has to CHECK it.) Per edge the cost is
  // one left-anti join of the child's non-null FK column against the
  // parent's key — dimension parents broadcast, fact-fact edges plan
  // as SMJ on the key — plus one map-side-combinable count/distinct
  // aggregate; the audit output is one row per edge regardless of
  // data size. Exact integers end to end.

  /** Audit one FK edge: (relation, n_rows with non-null FK,
    * n_orphan_rows, n_orphan_keys). */
  def fkAuditEdge(relation: String, child: DataFrame,
      fkCol: org.apache.spark.sql.Column, parent: DataFrame,
      pkCol: org.apache.spark.sql.Column): DataFrame = {
    val fk = child.select(fkCol.as("__fk")).filter(col("__fk").isNotNull)
    val orphans = fk.join(parent.select(pkCol.as("__fk")), Seq("__fk"),
      "left_anti")
    val tot = fk.agg(count(lit(1)).as("n_rows"))
    orphans
      .agg(count(lit(1)).as("n_orphan_rows"),
        countDistinct(col("__fk")).as("n_orphan_keys"))
      .crossJoin(tot) // both one-row frames
      .select(lit(relation).as("relation"), col("n_rows"),
        col("n_orphan_rows"), col("n_orphan_keys"))
  }

  /** q173: the fixture star schema's seven FK edges audited in one
    * frame. The driver fixtures are referentially CLEAN by
    * construction, so the query additionally audits a planted-orphan
    * edge — lineitem rows whose l_orderkey divides by 1000 are
    * re-pointed past the key domain (+2³¹) — proving the detector
    * actually fires; the oracle replants identically. */
  def fkAudit(t: Tables): DataFrame = {
    import t.spark.implicits._
    val planted = t.lineitem.select(
      when($"l_orderkey" % 1000 === 0, $"l_orderkey" + 2147483648L)
        .otherwise($"l_orderkey").as("fk"))
    fkAuditEdge("lineitem.l_orderkey->orders", t.lineitem, $"l_orderkey",
        t.orders, $"o_orderkey")
      .unionByName(fkAuditEdge("lineitem.l_partkey->part", t.lineitem,
        $"l_partkey", t.part, $"p_partkey"))
      .unionByName(fkAuditEdge("lineitem.l_suppkey->supplier", t.lineitem,
        $"l_suppkey", t.supplier, $"s_suppkey"))
      .unionByName(fkAuditEdge("orders.o_custkey->customer", t.orders,
        $"o_custkey", t.customer, $"c_custkey"))
      .unionByName(fkAuditEdge("customer.c_nationkey->nation", t.customer,
        $"c_nationkey", t.nation, $"n_nationkey"))
      .unionByName(fkAuditEdge("supplier.s_nationkey->nation", t.supplier,
        $"s_nationkey", t.nation, $"n_nationkey"))
      .unionByName(fkAuditEdge("nation.n_regionkey->region", t.nation,
        $"n_regionkey", t.region, $"r_regionkey"))
      .unionByName(fkAuditEdge("planted.l_orderkey->orders",
        planted, $"fk", t.orders, $"o_orderkey"))
      .orderBy($"relation")
  }

  // ── q178: Benford leading-digit audit ──────────────────────────────
  // The classic fabricated-data / broken-feed detector: naturally
  // occurring multi-scale amounts follow Benford's law, P(d) =
  // log10(1 + 1/d) — a feed that suddenly doesn't (flat digits,
  // spikes at 5/9) was truncated, defaulted, or made up. The audit is
  // ONE map-side-combinable count per leading digit (9 output rows
  // regardless of data size). Portability: the digit comes from the
  // integer-quantized value's STRING form (canonical for integers in
  // every engine — a log10-based digit extraction would mis-bin exact
  // powers of ten on rounding), the frequency is one division of
  // exact longs, and the Benford expectations are Scala-computed
  // double literals inlined verbatim into the oracle SQL
  // (Double.toString round-trips, the JL-oracle recipe).

  /** Per leading digit (1–9) of a positive integer measure:
    * (digit, n_rows, freq, expected, abs_dev) — ALWAYS nine rows: a
    * digit with zero occurrences enters at n_rows = 0 / freq = 0, so
    * the strongest fabrication signal (a completely absent leading
    * digit, abs_dev = expected) surfaces instead of vanishing. With
    * no positive rows at all, freq/abs_dev are NULL (no distribution
    * to compare). */
  def benfordAuditOver(df: DataFrame, measureQ: Column): DataFrame = {
    val counted = df.select(measureQ.as("__q")).filter(col("__q") > 0)
      .select(substring(col("__q").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_rows"))
    val digits = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
      .join(counted, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_rows"), lit(0L)).as("n_rows"))
    val total = digits.agg(sum(col("n_rows")).as("__t"))
    val expected = Relational.benfordExpected.foldLeft(lit(null).cast("double")) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    digits.crossJoin(broadcast(total)) // one-row total
      .select(col("digit"), col("n_rows"),
        when(col("__t") > 0,
          col("n_rows").cast("double") / col("__t").cast("double")).as("freq"),
        expected.as("expected"))
      .withColumn("abs_dev", abs(col("freq") - col("expected")))
  }

  // ── q197: population-stability-index drift (PSI) ────────────────────
  /** PSI between a baseline period A and a comparison period B of one
    * bucketed measure, per group — THE model-monitoring drift score
    * (≥ 0.25 = "investigate" in every scoring-governance playbook),
    * complementing q156's frequency-delta detector with the
    * industry-standard scalar. PSI = Σ_buckets (p_B − p_A)·ln(p_B/p_A)
    * over Laplace-smoothed proportions p = (c+1)/(n+K) (zero-count
    * buckets are REAL drift signal and must not produce ±∞ — the
    * smoothing is deterministic and replayed by the oracle, never an
    * ε convention mismatch). Every term is non-negative, so the sum
    * is monotone; each term is one fixed double chain through the
    * glibc-exact ln, quantized at 2⁻⁴⁰ and summed as exact integers
    * (the q179 entropy fold) — order-independent, engine-exact.
    * Groups missing either period entirely are dropped (no baseline →
    * no score). A bucket value outside [0, nBuckets) fails LOUDLY: it
    * would be counted in the period totals yet silently excluded from
    * the K-bucket grid sum, understating PSI with no visible symptom
    * (an unclamped bucketing expression — e.g. an un-floored lower
    * bound going negative — is a caller bug, not a smaller drift).
    * Scale: two narrow aggs + a |groups|·K grid join —
    * map-side combinable, never a second data pass. */
  def psiDriftOver(df: DataFrame, groupCol: Column, isB: Column,
      bucketCol: Column, nBuckets: Int): DataFrame =
    psiFromCounts(df
      .select(groupCol.as("g"), isB.as("b"), bucketCol.as("k"))
      .groupBy(col("g"), col("b"), col("k")).agg(count(lit(1)).as("c")),
      nBuckets)

  /** [[psiDriftOver]]'s core over PRE-AGGREGATED `(g, b, k, c)` bucket
    * counts — the delta-bounded entry for callers that MAINTAIN a
    * count sidecar instead of rescanning the base population each
    * batch (q204's per-list index sidecar). Duplicate (g, b, k) rows
    * sum; the math downstream of the counts is the row-level entry's
    * verbatim, so the two entries are bit-identical on equal counts. */
  def psiFromCounts(counts0: DataFrame, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    val Q = 1099511627776.0 // 2^40
    val kChecked = when(col("k") >= 0 && col("k") < nBuckets, col("k"))
      .otherwise(raise_error(concat(
        lit(s"psiDriftOver: bucket value outside [0, $nBuckets): "),
        col("k").cast("string"))).cast("int"))
    val counts = counts0
      .select(col("g"), col("b"), kChecked.as("k"), col("c"))
      .groupBy(col("g"), col("b"), col("k")).agg(sum(col("c")).as("c"))
    def side(flag: Boolean, cn: String) = counts
      .filter(col("b") === flag)
      .select(col("g"), col("k"), col("c").as(cn))
    def total(flag: Boolean, nn: String) = counts
      .filter(col("b") === flag)
      .groupBy(col("g")).agg(sum(col("c")).as(nn))
    val grid = counts.select(col("g")).distinct()
      .select(col("g"),
        explode(sequence(lit(0), lit(nBuckets - 1))).as("k"))
    val pa = (coalesce(col("ca"), lit(0L)) + 1L).cast("double") /
      (col("na") + nBuckets).cast("double")
    val pb = (coalesce(col("cb"), lit(0L)) + 1L).cast("double") /
      (col("nb") + nBuckets).cast("double")
    val term = (pb - pa) * call_function("math_ln", pb / pa)
    grid
      .join(side(flag = false, "ca"), Seq("g", "k"), "left")
      .join(side(flag = true, "cb"), Seq("g", "k"), "left")
      .join(total(flag = false, "na"), Seq("g"))
      .join(total(flag = true, "nb"), Seq("g"))
      .select(col("g"), col("na"), col("nb"),
        floor(term * lit(Q) + lit(0.5)).cast("long").as("__q"))
      .groupBy(col("g"), col("na"), col("nb"))
      .agg((sum(col("__q")).cast("double") / lit(Q)).as("psi"))
  }

  /** q197 fixture: per-event-type PSI of the value distribution,
    * weeks 1–2 of January as baseline vs the rest of the month, over
    * 10 fixed-width buckets (60-unit steps, top bucket open). */
  def eventValuePsi(t: Tables): DataFrame = {
    import t.spark.implicits._
    psiDriftOver(t.events, $"event_type",
      $"ts" >= lit("2024-01-15 00:00:00").cast("timestamp"),
      least(floor($"value" / 60.0), lit(9.0)).cast("int"), nBuckets = 10)
      .select($"g".as("event_type"), $"na".as("n_base"),
        $"nb".as("n_current"), $"psi")
      .orderBy($"event_type")
  }

  /** P(d) = log10(1 + 1/d) = ln(1 + 1/d)/ln(10), d ∈ 1..9 — computed
    * through the glibc-exact [[graft.expr.GlibcLog]] so the oracle
    * can RECOMPUTE the same doubles with DuckDB's own ln instead of
    * parsing inlined literals: Java's math.log10 sits 1 ULP off
    * glibc's for d = 3, and DuckDB's decimal literal → double path
    * rounds that 17-digit literal BACK to the glibc value — literal
    * round-tripping is not engine-portable at the last ULP, shared
    * arithmetic is. */
  private[graft] val benfordExpected: Seq[(Int, Double)] =
    (1 to 9).map(d => d ->
      graft.expr.GlibcLog.log(1.0 + 1.0 / d) / graft.expr.GlibcLog.log(10.0))

  /** q178: Benford audit of order totals (cents-quantized). */
  def orderBenford(t: Tables): DataFrame = {
    import t.spark.implicits._
    benfordAuditOver(t.orders, floor($"o_totalprice" * 100 + 0.5).cast("long"))
      .orderBy($"digit")
  }

  // ── q171: transposition-aware fuzzy matching (Damerau refine) ──────
  // Plain Levenshtein scores the most common human typo — two adjacent
  // characters swapped — as TWO edits, so a lev-1 matcher misses it
  // and a lev-2 matcher admits far looser noise along with it. The
  // Damerau variant prices the swap at 1. Candidates come from the
  // EXISTING PassJoin generator, losslessly: DL ≤ Levenshtein ≤ 2·DL,
  // so the lev-(2d) candidate set covers every DL ≤ d pair, and the
  // codegen'd unrestricted-DL expression (graft.expr.
  // DamerauLevenshtein — DuckDB-variant-exact) refines it. Cost =
  // q84's candidate volume + one O(|a|·|b|) verify per candidate.
  //
  // The fixture corpus has no natural transposition pairs (checked:
  // 1510 DL≤1 pairs at sf0.01, all lev≤1), so the query PLANTS
  // deterministic witnesses — the q164/q165 synthetic-gadget recipe:
  // every 40th part gains a variant with name chars 4,5 swapped
  // (id + 10⁷, same brand), a DL-1/lev-2 pair the plain-lev matcher
  // provably mis-prices. The oracle replants identically and replays
  // both distances with DuckDB's built-ins.

  /** Generic Damerau-refined pairing: PassJoin lev-2d candidates →
    * native unrestricted-DL verify at ≤ d. */
  def damerauPairsOver(
      df: DataFrame, idCol: org.apache.spark.sql.Column,
      blockCol: org.apache.spark.sql.Column,
      nameCol: org.apache.spark.sql.Column, maxDl: Int): DataFrame = {
    require(maxDl >= 1 && maxDl <= 2, s"maxDl out of range [1,2]: $maxDl")
    val base = df.select(idCol.as("__id"), blockCol.as("block"),
      nameCol.as("__nm"))
    fuzzyPairsOver(df, idCol, blockCol, nameCol, maxDist = 2 * maxDl)
      .join(base.select(col("__id").as("id_a"), col("block"),
        col("__nm").as("nm_a")), Seq("id_a", "block"))
      .join(base.select(col("__id").as("id_b"), col("block"),
        col("__nm").as("nm_b")), Seq("id_b", "block"))
      .withColumn("dl",
        call_function("damerau_levenshtein", col("nm_a"), col("nm_b")))
      .filter(col("dl") <= maxDl)
      .select(col("id_a"), col("id_b"), col("block"), col("lev"), col("dl"))
  }

  /** q171 fixture instance: part names + planted adjacent-swap
    * variants, paired at DL ≤ 1 within brand. */
  def damerauPartNames(t: Tables, maxDl: Int = 1): DataFrame = {
    import t.spark.implicits._
    val planted = t.part.filter($"p_partkey" % 40 === 0)
      .select(($"p_partkey" + 10000000L).as("id"), $"p_brand".as("block"),
        concat(substring($"p_name", 1, 3), substring($"p_name", 5, 1),
          substring($"p_name", 4, 1), substring($"p_name", 6, 1 << 24)).as("nm"))
    val aug = t.part
      .select($"p_partkey".as("id"), $"p_brand".as("block"), $"p_name".as("nm"))
      .union(planted)
    damerauPairsOver(aug, $"id", $"block", $"nm", maxDl)
      .withColumnRenamed("block", "p_brand")
      .orderBy($"id_a", $"id_b")
  }

  // ── q143: per-group skyline (Pareto frontier) ───────────────────────
  /** The classic multi-criteria operator relational engines lack as a
    * builtin (Börzsönyi et al., ICDE 2001): rows not DOMINATED by any
    * other — here, per brand, parts where no other part is at most as
    * expensive AND at least as large with one strict. The naive
    * formulation is the O(n²) NOT-EXISTS self-join (that stays as the
    * oracle); the 2-D case collapses to a sorted pass: aggregate max
    * gain per (group, cost) — so a ROWS −1 frame steps over DISTINCT
    * cost values, i.e. "strictly cheaper" (a RANGE −1 bound would
    * mean cost−1.0, wrong for non-integer costs) — then a row is
    * dominated iff the strictly-cheaper running max reaches its gain,
    * or an equal-cost row strictly exceeds it. Both are exact value
    * comparisons — no arithmetic — so the oracle is full-value.
    * Duplicate (cost, gain) rows dominate neither, matching the
    * strict definition.
    *
    * Plan shape: a (group, cost) agg, a (group) window over the
    * DISTINCT-cost rows, and an equi-join back — two narrow shuffles,
    * never a self-join; skyline-per-group parallelizes over groups
    * at any scale. */
  def skylineOver(df: DataFrame, groupCol: Column, costCol: Column,
      gainCol: Column): DataFrame = {
    val base = df.withColumn("__grp", groupCol)
      .withColumn("__cost", costCol).withColumn("__gain", gainCol)
    val wPrev = Window.partitionBy(col("__grp")).orderBy(col("__cost"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val groups = base.groupBy(col("__grp"), col("__cost"))
      .agg(max(col("__gain")).as("__cmax"))
      .withColumn("__best_cheaper", max(col("__cmax")).over(wPrev))
    base.join(groups, Seq("__grp", "__cost"))
      .filter((col("__best_cheaper").isNull || col("__best_cheaper") < col("__gain")) &&
        col("__cmax") <= col("__gain"))
      .drop("__grp", "__cost", "__gain", "__cmax", "__best_cheaper")
  }

  def partSkyline(t: Tables): DataFrame = {
    import t.spark.implicits._
    skylineOver(t.part.select($"p_partkey", $"p_brand", $"p_size", $"p_retailprice"),
      $"p_brand", $"p_retailprice", $"p_size")
      .orderBy($"p_brand", $"p_retailprice", $"p_partkey")
  }

  // ── q153: rank / quantile normalization ─────────────────────────────
  /** The rank-transform half of feature preprocessing: per group,
    * `percent_rank` ((rank−1)/(n−1)) and `cume_dist` (rows ≤ v / n)
    * of a value — both RANK-based, so ties get identical scores and
    * the result is deterministic under any physical row order (an
    * `ntile` bucketing would depend on intra-tie order and was
    * rejected for exactly that). Scores are integer-derived double
    * divisions — engine-exact.
    *
    * Plan: one window shuffle on the group key; partition sizes are
    * group sizes. The 100 TB caveat is the usual rank-transform one —
    * a single giant group serializes into one partition — so group
    * by a real blocking key (brand here), not a constant. */
  def rankNormalizeOver(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val w = Window.partitionBy(col("__grp")).orderBy(col("__val"))
    df.withColumn("__grp", groupCol).withColumn("__val", valueCol)
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume_dist", cume_dist().over(w))
      .drop("__grp", "__val")
  }

  def partPriceRanks(t: Tables): DataFrame = {
    import t.spark.implicits._
    rankNormalizeOver(
      t.part.select($"p_partkey", $"p_brand", $"p_retailprice"),
      $"p_brand", $"p_retailprice")
      .orderBy($"p_partkey")
  }

  // ── q155: exact per-group quantiles (type-1, distributed selection) ──
  /** Exact distributed quantiles — the ground-truth companion to the
    * q107 approx-quantile gate. Type-1 (no interpolation): the p-th
    * quantile is the VALUE at sorted position ⌈p·n⌉, so the result is
    * a SELECTION, not arithmetic — engine-exact for any column type,
    * deterministic under ties. ⌈p·n⌉ is one double multiply + ceil,
    * the identical IEEE pair both engines.
    *
    * Plan — two-pass distributed selection, NOT a per-group window
    * sort (the first cut sorted each group in one partition: with 3
    * returnflag groups that serialized 6M-row sorts and went 3.4× on
    * 3× data): rows range-bucket on the value (any deterministic
    * bucketing works — it never reaches the oracle; rank-in-bucket +
    * rows-before-bucket = global rank, and ties share a bucket since
    * the bucket is a function of the value), a map-side-combined
    * (group, bucket) histogram + a tiny cumulative window locate the
    * ONE bucket holding each ⌈p·n⌉, and only those buckets' rows
    * (≈ n/buckets each) are sorted to pick the exact element. At any
    * group cardinality the heavy stages are linear narrow shuffles;
    * the residual sort is bucket-sized (value-skewed data wants a
    * larger `buckets`). */
  def rankQuantilesOver(df: DataFrame, groupCol: Column, valueCol: Column,
      ps: Seq[(String, Double)] = Seq("p25" -> 0.25, "p50" -> 0.5,
        "p75" -> 0.75, "p95" -> 0.95),
      buckets: Int = 1024): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p > 0 && p <= 1 },
      s"quantiles must be in (0, 1]: $ps")
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    // NULL values are excluded up front (and from n): Spark's
    // row_number orders NULLS FIRST while DuckDB orders NULLS LAST,
    // so counting NULLs into n would shift every ⌈p·n⌉ target and
    // silently diverge the engines on a nullable value column
    val base = df.select(groupCol.as("__grp"), valueCol.as("__val"))
      .filter(col("__val").isNotNull)
    // |groups|-row frame, referenced three times below (bucket calc,
    // histogram, final n join) — checkpointed so each reference reads
    // the tiny materialized frame instead of re-deriving the full
    // input scan (guide §1.2 don't compute things twice; with a
    // derived `df` like q175's MAD pass, the re-derivations NEST and
    // the scan count multiplies)
    val stats = base.groupBy(col("__grp")).agg(
      count(lit(1)).as("n"),
      min(col("__val")).as("__lo"), max(col("__val")).as("__hi"))
      .localCheckpoint(true)
    // bucket id ∈ [0, buckets): internal only — the constant-span
    // guard and the clamp keep it total (all-equal groups land in 0)
    val span = col("__hi").cast("double") - col("__lo").cast("double")
    val bkt = when(span > 0, least(
        floor((col("__val").cast("double") - col("__lo").cast("double"))
          / span * buckets).cast("int"), lit(buckets - 1)))
      .otherwise(0)
    val b = base.join(broadcast(stats), "__grp").withColumn("__bkt", bkt)
    val hist = b.groupBy(col("__grp"), col("__bkt"))
      .agg(count(lit(1)).as("__c"))
      .join(broadcast(stats.select(col("__grp"), col("n"))), "__grp")
    val wcum = Window.partitionBy(col("__grp")).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pArr = array(ps.map { case (name, p) =>
      struct(lit(name).as("q"), lit(p).as("p")) }: _*)
    // ≤ |groups|·|ps| target rows: the bucket holding each ⌈p·n⌉
    val targets = hist
      .withColumn("__before", coalesce(sum(col("__c")).over(wcum), lit(0L)))
      .select(col("__grp"), col("__bkt"), col("__c"), col("n"),
        col("__before"), explode(pArr).as("pq"))
      .withColumn("__k", ceil(col("pq.p") * col("n")).cast("long"))
      .filter(col("__k") > col("__before") &&
        col("__k") <= col("__before") + col("__c"))
      .select(col("__grp"), col("__bkt"), col("pq.q").as("__q"),
        (col("__k") - col("__before")).as("__rank_in_bkt"))
    val wSel = Window.partitionBy(col("__grp"), col("__q"))
      .orderBy(col("__val"))
    val picked = b.join(broadcast(targets), Seq("__grp", "__bkt"))
      .withColumn("__rn", row_number().over(wSel))
      .filter(col("__rn") === col("__rank_in_bkt"))
    val qCols = ps.map { case (name, _) =>
      max(when(col("__q") === name, col("__val"))).as(name) }
    picked.groupBy(col("__grp"))
      .agg(first(lit(0)).as("__dummy"), qCols: _*)
      .join(broadcast(stats.select(col("__grp"), col("n"))), "__grp")
      .select(col("__grp") +: col("n") +: ps.map { case (name, _) => col(name) }: _*)
  }

  // ── q175: robust outlier detection (median/MAD modified z) ─────────
  // Mean/stddev anomaly rules break exactly when needed most — the
  // outliers they hunt inflate both moments. The robust version
  // (Iglewicz–Hoaglin modified z-score) uses the median and the
  // median absolute deviation: |0.6745·(x − med)/MAD| > 3.5. Both
  // medians are EXACT type-1 selections via the q155 two-pass
  // distributed machinery (no per-group window sort), so the whole
  // chain is selection + one abs-subtract per row + a
  // multiplication-form comparison (`|x−med|·0.6745 > 3.5·MAD` — no
  // division, both sides one IEEE multiply, engine-exact). MAD = 0
  // (over half the group at one value) flags any deviation — the
  // standard degenerate-MAD caveat, here surfaced by mad riding in
  // the output row.

  /** Per-group robust stats + outlier count:
    * (group, n, med, mad, n_outliers). */
  def robustOutliersOver(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    // med and mad are |groups|-row frames consumed by row-scale joins;
    // checkpointed because their lineage is the whole two-pass
    // selection machinery — un-truncated, the MAD pass re-derives the
    // median chain (and its input scans) once per reference, which
    // made q175 a ~30-stage plan over what is logically 3 passes
    // (guide §1.2)
    val med = rankQuantilesOver(df, groupCol, valueCol,
        ps = Seq("med" -> 0.5))
      .select(col("__grp"), col("n"), col("med"))
      .localCheckpoint(true)
    val dev = df.select(groupCol.as("__grp"), valueCol.as("__v"))
      .filter(col("__v").isNotNull)
      .join(broadcast(med), "__grp")
      .withColumn("__dev", abs(col("__v").cast("double") - col("med")))
    val mad = rankQuantilesOver(dev, col("__grp"), col("__dev"),
        ps = Seq("mad" -> 0.5))
      .select(col("__grp"), col("mad"))
      .localCheckpoint(true)
    dev.join(broadcast(mad), "__grp")
      .groupBy(col("__grp"))
      .agg(count(lit(1)).as("n"), first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("__dev") * 0.6745 > lit(3.5) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** q175: robust outliers of event values per event type. */
  def eventRobustOutliers(t: Tables): DataFrame = {
    import t.spark.implicits._
    robustOutliersOver(t.events, $"event_type", $"value")
      .withColumnRenamed("__grp", "event_type")
      .orderBy($"event_type")
  }

  def priceQuantiles(t: Tables): DataFrame = {
    import t.spark.implicits._
    rankQuantilesOver(t.lineitem, $"l_returnflag", $"l_extendedprice")
      .withColumnRenamed("__grp", "l_returnflag")
      .orderBy($"l_returnflag")
  }

  // ── q147: χ² test of independence ────────────────────────────────────
  /** Pearson's χ² over a two-way contingency table — the A/B-test /
    * feature-selection significance primitive. Observed counts are
    * exact integers from one narrow agg; ABSENT cells participate
    * with o = 0 (they still carry expected mass rt·ct/T — dropping
    * them understates χ², so the cell grid is completed by a
    * dims × dims cross of the two DISTINCT category sets, each a
    * category-cardinality row count, never corpus-scale). χ² =
    * Σ (o−e)²/e folds over the cells in (row, col) sorted order with
    * the identical left-associated double chain both engines (the
    * q85/q138 ordered-fold recipe), each term one fixed IEEE
    * expression over exact bigints — so the statistic is
    * bit-identical, not approximately equal.
    *
    * Plan: one corpus-sized agg (map-side combined), then everything
    * runs on R·C rows; the completed grid rides two tiny hash joins
    * and the fold is a one-row collect_list over R·C cells. */
  def chiSquareOver(df: DataFrame, rowCol: Column, colCol: Column): DataFrame = {
    // NULL categories are excluded up front: a NULL key would enter
    // the DISTINCT grid but never match the left join (SQL NULL
    // equality), leaving an all-zero row/column whose expected mass
    // is 0 — and (o−0)²/0 would poison the statistic with NaN
    val obs = df.filter(rowCol.isNotNull && colCol.isNotNull)
      .groupBy(rowCol.as("r"), colCol.as("c"))
      .agg(count(lit(1)).as("o"))
    val grid = obs.select(col("r")).distinct()
      .crossJoin(obs.select(col("c")).distinct())
    val cells = grid.join(obs, Seq("r", "c"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val rt = cells.groupBy(col("r")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("c")).agg(sum(col("o")).as("ct"))
    val full = cells.join(rt, "r").join(ct, "c")
    val packed = full.agg(
      sort_array(collect_list(struct(col("r"), col("c"), col("o"),
        col("rt"), col("ct")))).as("cells"),
      sum(col("o")).as("tot"),
      count_distinct(col("r")).as("nr"),
      count_distinct(col("c")).as("nc"))
    packed.select(
      aggregate(col("cells"), lit(0.0), (acc, x) => {
        val e = (x.getField("rt") * x.getField("ct")).cast("double") /
          col("tot").cast("double")
        val d = x.getField("o").cast("double") - e
        acc + d * d / e
      }).as("chi2"),
      ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
      col("tot").as("n"),
      (col("nr") * col("nc")).as("n_cells"))
  }

  /** Fixture instance: market segment × order priority. */
  def segmentPriorityChiSquare(t: Tables): DataFrame = {
    import t.spark.implicits._
    chiSquareOver(
      t.customer.join(t.orders, $"c_custkey" === $"o_custkey"),
      $"c_mktsegment", $"o_orderpriority")
  }
}
