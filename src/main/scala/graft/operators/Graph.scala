package graft.operators

import graft.{State, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics beyond connected components (Dedup.scala): PageRank
  * by power iteration, expressed as the classic pregel-ish shuffle —
  * per iteration, one join (rank onto out-edges) and one aggregation
  * (contributions by destination). Every iteration is two narrow
  * shuffles on node ids; nothing driver-side grows with the graph.
  *
  * Exactness across engines despite double arithmetic: each
  * contribution pr/deg is quantized to an INTEGER number of 2⁻⁴⁰
  * quanta — `floor(pr/deg · 2⁴⁰ + 0.5)` is all exactly-reproducible
  * IEEE ops (a power-of-two multiply is an exponent shift), so both
  * engines produce the identical int64 — and the per-destination
  * reduction is then an exact integer SUM: order-independent (hub-safe
  * — no per-destination array, partial aggregation combines map-side),
  * and bit-identical across engines by construction. Each iteration's
  * value expression — `(1-d)/N + d·(Σq/2⁴⁰)` — has the identical IEEE
  * shape on both sides, so ranks stay bit-identical inductively. The
  * quantization perturbs ranks by ≤ in-degree·2⁻⁴¹ per iteration
  * (≈1e-12 — far below ranking resolution); the unquantized
  * source-ordered fold is kept as [[pageRankOrderedFold]] and the two
  * are compared in GraphSpec. Dangling nodes are impossible by
  * construction here (edges are symmetrized), which is what makes
  * plain power iteration mass-conserving.
  */
object Graph {

  /** Contribution quantum 2⁻⁴⁰. Per-destination sums are bounded by
    * total rank mass: Σ over ALL destinations ≤ 2⁴⁰ + n/2 quanta, so
    * an int64 (and the exact double cast below 2⁵³) never overflows at
    * any corpus size. */
  private val PrScale = 1099511627776.0 // 2^40

  /** `iters` rounds of PageRank with damping `d` over a directed edge
    * list (src, dst). Every node must have out-degree ≥ 1 (symmetrize
    * first for undirected graphs — `pageRankCustSupp` does).
    *
    * `edgeStorage` is the single-box pressure valve: the default
    * MEMORY_AND_DISK checkpoint is right on a cluster (and at every
    * driver SF), but when the edge list is mined from a fact-fact
    * join at the top of one JVM's envelope (sf30: 180M lineitem rows
    * on 96g), its cached blocks compete with the iteration joins'
    * execution memory — DISK_ONLY keeps the whole heap for execution
    * and lets the run complete. The plan shape is identical either
    * way (one new shuffle per iteration — spec-asserted). */
  def pageRankOver(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      iters: Int, d: Double,
      edgeStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    // LAZY localCheckpoint: the deduped edge list is consumed iters+1
    // times across the unrolled plan; checkpointing cuts the edge
    // derivation (often a fact-fact join) to ONE computation per
    // action without running a job at construction (queries stay
    // declarative). Blocks are context-cleaned once the plan dies.
    // The explicit repartition on src pins HashPartitioning(src) into
    // the checkpointed RDD's output partitioning, so neither the
    // degree aggregation nor ANY iteration's rank join re-exchanges
    // the edge list — and because the rank frame itself comes out of
    // each round partitioned by id (= next round's join key), a full
    // power-iteration round costs ONE new shuffle (the contribution
    // regroup by dst), not three.
    val e = edges.select(srcCol.as("src"), dstCol.as("dst")).distinct()
      .repartition(col("src"))
      .localCheckpoint(false, edgeStorage)
    // (id, deg): doubles as the node set — out-degree >= 1 contract
    // means every node appears as a src. Degree rides INSIDE the rank
    // frame from here on; no per-iteration degree join.
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nAgg = deg.agg(count(lit(1)).as("n"))
    // init: uniform 1/N (one-row broadcast keeps the plan lazy)
    val pr0 = deg.crossJoin(broadcast(nAgg))
      .select(col("src").as("id"), (lit(1.0) / col("n")).as("pr"), col("deg"))
    val last = (1 to iters).foldLeft(pr0) { (pr, _) =>
      val contrib = e.join(pr, e("src") === pr("id"))
        .select(col("dst"),
          floor(col("pr") / col("deg") * lit(PrScale) + lit(0.5))
            .cast("long").as("q"))
        .groupBy(col("dst"))
        .agg(sum(col("q")).as("qs"))
      // left join onto the FULL node set: a node with in-degree 0
      // (legal under the out-degree-≥-1 contract, e.g. a pure source
      // in a directed graph) still holds its (1-d)/N base rank —
      // dropping it would also sever its out-edges from the next
      // iteration's inner join and leak rank mass
      deg.join(contrib, deg("src") === contrib("dst"), "left")
        .crossJoin(broadcast(nAgg))
        .select(deg("src").as("id"),
          (lit(1.0 - d) / col("n") +
            lit(d) * (coalesce(col("qs"), lit(0L)).cast("double") / lit(PrScale))).as("pr"),
          deg("deg"))
    }
    last.select(col("id"), col("pr"))
  }

  // ── q144: personalized (topic-sensitive) PageRank ───────────────────
  /** Haveliwala's topic-sensitive variant (WWW 2002): the restart
    * mass (1−d) flows only to a SEED set instead of uniformly — the
    * ranking a recommender runs from "customers like these" or an
    * entity-resolution pipeline runs from a labeled seed cluster.
    * Identical machinery to [[pageRankOver]] — same 2⁻⁴⁰ integer
    * quantization of contributions (exact, order-independent,
    * hub-safe map-side sums), same one-new-shuffle-per-iteration
    * plan — with two deltas: init = 1/|S| on seeds (0 elsewhere) and
    * the per-iteration base term is seed-indicator·(1−d)/|S|. Mass
    * is conserved exactly as in the uniform case; non-seed nodes
    * hold rank only through incoming links, so ranks measure
    * proximity to the seed set. */
  def pageRankPersonalizedOver(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      seedPred: Column => Column, iters: Int, d: Double,
      edgeStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = edges.select(srcCol.as("src"), dstCol.as("dst")).distinct()
      .repartition(col("src"))
      .localCheckpoint(false, edgeStorage)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumn("seed", seedPred(col("src")))
    val nsAgg = deg.agg(sum(when(col("seed"), 1L).otherwise(0L)).as("ns"))
    val pr0 = deg.crossJoin(broadcast(nsAgg))
      .select(col("src").as("id"),
        when(col("seed"), lit(1.0) / col("ns")).otherwise(lit(0.0)).as("pr"),
        col("deg"), col("seed"))
    val last = (1 to iters).foldLeft(pr0) { (pr, _) =>
      val contrib = e.join(pr, e("src") === pr("id"))
        .select(col("dst"),
          floor(col("pr") / col("deg") * lit(PrScale) + lit(0.5))
            .cast("long").as("q"))
        .groupBy(col("dst"))
        .agg(sum(col("q")).as("qs"))
      deg.join(contrib, deg("src") === contrib("dst"), "left")
        .crossJoin(broadcast(nsAgg))
        .select(deg("src").as("id"),
          (when(col("seed"), lit(1.0 - d) / col("ns")).otherwise(lit(0.0)) +
            lit(d) * (coalesce(col("qs"), lit(0L)).cast("double") / lit(PrScale))).as("pr"),
          deg("deg"), deg("seed"))
    }
    last.select(col("id"), col("seed"), col("pr"))
  }

  // ── q163: multi-source shortest paths (Bellman–Ford relaxation) ─────
  /** Distributed SSSP by synchronous min-relaxation — the traversal
    * member the graph family lacked next to its algebraic passes
    * (PageRank/HITS/LPA/CC): dist(v) = min(dist(v), min over in-edges
    * (dist(u) + w)). Weights and distances are exact integer longs —
    * no quantization needed, every round is pure integer min algebra,
    * so results are trivially engine-exact. Parallel edges collapse
    * to their minimum weight up front (only the lightest can ever
    * relax). Negative weights are rejected: Bellman–Ford tolerates
    * them on DAGs but a negative cycle diverges, and every production
    * use of this operator (hop distance, cost distance, nearest-seed
    * assignment) has non-negative costs.
    *
    * Plan: the q85 recipe — edge list deduped, repartitioned by src
    * and lazily checkpointed ONCE; the distance frame leaves every
    * round partitioned by id (= src, the next round's join key), so a
    * round costs ONE new shuffle (the relax regroup by dst) plus the
    * zero-exchange edge join. Rounds needed = the graph's weighted-
    * path hop diameter from the source set (label-correcting
    * Bellman–Ford, the standard distributed form — Δ-stepping's
    * priority buckets only pay off with a real scheduler). */
  def ssspOver(
      edges: DataFrame, srcCol: Column, dstCol: Column, wCol: Column,
      sourcePred: Column => Column, iters: Int,
      edgeStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val (e, _) = prepSsspEdges(edges, srcCol, dstCol, wCol, edgeStorage)
    (1 to iters).foldLeft(ssspInit(e, sourcePred)) { (dist, _) =>
      ssspRound(e, dist).select(col("id"), col("dist"))
    }
  }

  /** Prepped (src, dst, min-w) edge frame, EAGERLY checkpointed with
    * the global minimum weight riding the materialization via
    * observe() — min over the per-pair mins < 0 ⟺ some raw weight was
    * negative, so the non-negativity precondition costs no second
    * derivation of the caller's edge join (it used to be a standalone
    * filter+count job over the un-prepped edges). Returns the frame
    * and that minimum (Long.MaxValue on an empty graph). */
  private def prepSsspEdges(edges: DataFrame, srcCol: Column, dstCol: Column,
      wCol: Column,
      edgeStorage: org.apache.spark.storage.StorageLevel): (DataFrame, Long) = {
    State.checkpointCounted(
      edges.select(srcCol.as("src"), dstCol.as("dst"), wCol.cast("long").as("w"))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
        .repartition(col("src")),
      min(col("w")), ifNone = Long.MaxValue, storage = edgeStorage)
  }

  /** All nodes, sources at 0, everything else NULL (unreached). */
  private def ssspInit(e: DataFrame,
      sourcePred: Column => Column): DataFrame =
    e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()
      .select(col("id"), when(sourcePred(col("id")), lit(0L))
        .otherwise(lit(null).cast("long")).as("dist"))

  /** One synchronous relax round: regroup contributions by dst, then
    * an id-co-partitioned left join back onto the distance frame.
    * Emits a third `chg` column (1 where the distance improved this
    * round) so the convergence metric can ride the SAME pass via
    * observe() — callers that don't need it project it away. */
  private def ssspRound(e: DataFrame, dist: DataFrame): DataFrame = {
    val relax = e.join(dist.filter(col("dist").isNotNull),
        e("src") === col("id"))
      .select(col("dst"), (col("dist") + col("w")).as("nd"))
      .groupBy(col("dst")).agg(min(col("nd")).as("nd"))
    val nd = when(col("dist").isNull, col("nd"))
      .when(col("nd").isNull, col("dist"))
      .otherwise(least(col("dist"), col("nd")))
    dist.join(relax, dist("id") === relax("dst"), "left")
      .select(dist("id"), nd.as("dist"),
        (!(nd <=> col("dist"))).cast("long").as("chg"))
  }

  /** Label-correcting SSSP run UNTIL CONVERGENCE: rounds stop when no
    * distance improves (the improved-count observation rides each
    * round's checkpoint job — one job per round; each round's frame
    * is eagerly checkpointed so the lineage and the CacheManager
    * never see an unbounded chain). Returns (distances, rounds-run).
    * Converged
    * means exact: with non-negative integer weights, a fixed point of
    * the relax operator IS the true shortest-distance labeling. */
  def ssspConverged(
      edges: DataFrame, srcCol: Column, dstCol: Column, wCol: Column,
      sourcePred: Column => Column, maxIters: Int = 64,
      edgeStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    // the non-negativity precondition rides the edge checkpoint's
    // materialization (see prepSsspEdges) — it used to be a standalone
    // filter-count job re-deriving the caller's whole edge join
    val (e, minW) = prepSsspEdges(edges, srcCol, dstCol, wCol, edgeStorage)
    require(minW >= 0, "ssspConverged requires non-negative weights")
    var dist = ssspInit(e, sourcePred).localCheckpoint(true)
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxIters) {
      // the convergence metric rides the checkpoint materialization
      // via observe() over ssspRound's own in-row improved flag — ONE
      // job per round, replacing a node-scale self-join + count job
      // (the connectedComponents recipe; round-latency is the whole
      // wall of these driver loops)
      val (next, n) = State.checkpointCounted(ssspRound(e, dist),
        sum(col("chg")), keep = Seq("id", "dist"))
      changed = n
      dist = next
      rounds += 1
    }
    (dist, rounds)
  }

  /** q163: nearest-seed shortest distance over the undirected
    * customer↔supplier graph — edge weight = the pair's minimum
    * integer order quantity, seeds the id%40 cohort (q144's seed
    * recipe). Runs until convergence; the oracle unrolls
    * [[SsspOracleRounds]] Bellman–Ford rounds, so convergence must
    * land within that bound (loud require — a deeper fixture graph
    * would need the unroll bumped, not silently wrong answers). */
  val SsspOracleRounds = 8
  def ssspCustSupp(t: Tables): DataFrame = {
    import t.spark.implicits._
    val pairs = t.orders
      .join(t.lineitem, $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"),
        $"l_quantity".cast("int").cast("long").as("w"))
      .groupBy($"c", $"s").agg(min($"w").as("w"))
    val edges = pairs.select($"c".as("src"), $"s".as("dst"), $"w")
      .union(pairs.select($"s".as("src"), $"c".as("dst"), $"w"))
    val storage = org.apache.spark.storage.StorageLevel.fromString(
      sys.env.getOrElse("SPARK_GRAFT_PR_STORAGE", "MEMORY_AND_DISK"))
    val (res, rounds) = ssspConverged(edges, $"src", $"dst", $"w",
      id => id % 40 === 0, maxIters = 64, storage)
    // rounds includes the final confirming no-op, so the last
    // IMPROVING round is rounds−1 — that is what the unroll must cover
    require(rounds - 1 <= SsspOracleRounds,
      s"SSSP improved through ${rounds - 1} rounds; oracle unrolls " +
        s"$SsspOracleRounds — bump it")
    res.select($"id",
      when($"id" % 2 === 0, "customer").otherwise("supplier").as("kind"),
      $"dist")
      .orderBy($"id")
  }

  /** Fixture personalization: seeds are the customer nodes whose
    * custkey is divisible by 20 (a deterministic ~5% cohort). */
  def pprCustSupp(t: Tables, iters: Int = 3, d: Double = 0.85): DataFrame = {
    import t.spark.implicits._
    val pairs = t.orders
      .join(t.lineitem, $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct()
    val edges = pairs.select($"c".as("src"), $"s".as("dst"))
      .union(pairs.select($"s".as("src"), $"c".as("dst")))
    // same single-box scale valve as q85 (see pageRankCustSupp)
    val storage = org.apache.spark.storage.StorageLevel.fromString(
      sys.env.getOrElse("SPARK_GRAFT_PR_STORAGE", "MEMORY_AND_DISK"))
    pageRankPersonalizedOver(edges, $"src", $"dst",
      id => id % 40 === 0, iters, d, storage)
      .orderBy($"id")
  }

  /** Unquantized reference formulation: per-destination contributions
    * folded in SOURCE-ID ORDER (`sort_array(collect_list)` ↔ the
    * oracle's `list(x ORDER BY src)` + `list_reduce`). Materializes a
    * node's whole in-neighborhood as one array row — fine on bounded
    * graphs, hub-UNSAFE on power-law graphs (a hub's array is
    * unbounded), which is why [[pageRankOver]] quantizes and sums
    * instead. Kept as the parity proof that the quantized path tracks
    * true double PageRank (GraphSpec bounds the difference). */
  def pageRankOrderedFold(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      iters: Int, d: Double): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = edges.select(srcCol.as("src"), dstCol.as("dst")).distinct()
      .repartition(col("src"))
      .localCheckpoint(false)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nAgg = deg.agg(count(lit(1)).as("n"))
    val pr0 = deg.crossJoin(broadcast(nAgg))
      .select(col("src").as("id"), (lit(1.0) / col("n")).as("pr"), col("deg"))
    val last = (1 to iters).foldLeft(pr0) { (pr, _) =>
      val contrib = e.join(pr, e("src") === pr("id"))
        .select(col("dst"), col("src"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst"))
        .agg(sort_array(collect_list(struct(col("src"), col("c")))).as("arr"))
      deg.join(contrib, deg("src") === contrib("dst"), "left")
        .crossJoin(broadcast(nAgg))
        .select(deg("src").as("id"),
          (lit(1.0 - d) / col("n") +
            lit(d) * coalesce(aggregate(col("arr"), lit(0.0),
              (a, x) => a + x.getField("c")), lit(0.0))).as("pr"),
          deg("deg"))
    }
    last.select(col("id"), col("pr"))
  }

  /** q85: PageRank over the customer–supplier trade graph — nodes are
    * customers (even ids: 2·custkey) and suppliers (odd: 2·suppkey+1),
    * an edge per distinct trading pair, symmetrized. High-rank
    * suppliers are the ones many well-connected customers buy from. */
  def pageRankCustSupp(t: Tables, iters: Int = 3, d: Double = 0.85): DataFrame = {
    import t.spark.implicits._
    val pairs = t.orders
      .join(t.lineitem, $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct()
    val edges = pairs.select($"c".as("src"), $"s".as("dst"))
      .union(pairs.select($"s".as("src"), $"c".as("dst")))
    // single-box scale valve (see pageRankOver): DISK_ONLY lets the
    // sf30 edge checkpoint coexist with the iteration joins in one
    // 96g JVM; results are storage-level-independent (same plan)
    val storage = org.apache.spark.storage.StorageLevel.fromString(
      sys.env.getOrElse("SPARK_GRAFT_PR_STORAGE", "MEMORY_AND_DISK"))
    pageRankOver(edges, $"src", $"dst", iters, d, storage)
      .select($"id",
        when($"id" % 2 === 0, "customer").otherwise("supplier").as("kind"),
        $"pr")
      .orderBy($"id")
  }

  /** Customer co-purchase graph: an undirected edge {a, b} between
    * two customers that bought the SAME PART in the SAME MONTH. The
    * (part, month) blocking key is what keeps the graph sparse at any
    * scale: TPC-H grows customers and parts together, so the expected
    * customers per (part, month) cell — and with it both edge count
    * and pair fan-out — stays constant as the corpus grows. (A
    * supplier co-order graph fails this test: the supplier population
    * is tiny relative to orders, so it saturates into a near-complete
    * graph whose triangle count is cubic in the node count.)
    * Emitted canonically as (a < b), deduped. */
  /** Session-scoped memo of the materialized co-purchase base frames.
    * q86/q87/q91/q92 all derive from the SAME lineitem⋈orders
    * distinct-cell frame, and three of them from the same edge list —
    * rebuilt per query they were the four most expensive bench rows
    * (the join, not the graph math, was the cost driver). At cluster
    * scale these are persisted intermediate tables (or a materialized
    * view over the fact join); locally an EAGER localCheckpoint keyed
    * by (session, fixture fingerprint) gives every graph query the
    * same compute-once semantics. The layout-cache paths embed the
    * source files' content fingerprints, so a regenerated fixture
    * rebuilds instead of serving stale blocks; checkpoint blocks are
    * context-cleaned when their session's context stops. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), DataFrame]()
  private def memoized(t: Tables, name: String)(build: => DataFrame): DataFrame = {
    val fp = graft.Tables.parallelLayout(t.spark, t.dir, "lineitem") + "|" +
      graft.Tables.parallelLayout(t.spark, t.dir, "orders") + "|" + name
    memo.computeIfAbsent((t.spark, fp), _ => build.localCheckpoint(true))
  }

  /** Distinct (customer, part, month) purchase cells — the ONE
    * definition of the co-purchase blocking key that every graph
    * metric below shares (edges, triangles, degrees, assortativity,
    * partner top-1): change the blocking here and all of them move
    * together. Computed once per (session, fixture) — see [[memoized]]. */
  private def coPurchaseCells(t: Tables): DataFrame = memoized(t, "cells") {
    import t.spark.implicits._
    t.lineitem
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("ck"), $"l_partkey".as("pk"),
        trunc($"o_orderdate", "month").as("m"))
      .distinct()
  }

  /** Canonical (a < b, deduped) co-purchase edges — shared by
    * triangles, degree distribution, and assortativity; computed once
    * per (session, fixture) like the cells it derives from. The cells
    * memo is resolved BEFORE entering the edges memo: a
    * computeIfAbsent mapping function must not re-enter the same map
    * (recursive-update IllegalStateException when the keys share a
    * hash bin). */
  def customerCoEdges(t: Tables): DataFrame = {
    val lo = coPurchaseCells(t)
    memoized(t, "edges") {
      import t.spark.implicits._
      lo.select($"pk", $"m", $"ck".as("a"))
        .join(lo.select($"pk", $"m", $"ck".as("b")), Seq("pk", "m"))
        .filter($"a" < $"b")
        .select($"a", $"b")
        .distinct()
    }
  }

  /** Per-node triangle counts over an undirected edge list, by the
    * degree-ordered "compact-forward" scheme: orient every edge from
    * its lower- to its higher-rank endpoint under the total order
    * (degree, id), enumerate wedges at each low-rank center, and close
    * them against the oriented edge set. Orientation bounds every
    * node's out-degree by O(√|E|) on skewed graphs — the hub that
    * would generate a quadratic wedge blow-up under naive id ordering
    * ranks HIGHEST and therefore centers no wedges at all. The result
    * is orientation-invariant (each triangle is counted exactly once
    * from its minimum-rank corner), so a plain id-ordered oracle
    * reproduces it. Three hash joins on node/edge keys; nothing
    * driver-side. */
  def triangleCountsOver(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      canonical: Boolean = false): DataFrame = {
    // canonical undirected edge set, self-loops dropped; callers whose
    // edge list is ALREADY deduped with src < dst (customerCoEdges)
    // pass canonical = true and skip this exchange + hash-aggregate
    val raw = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val und = (if (canonical) raw.select(col("src").as("u"), col("dst").as("v"))
      else raw
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
      // consumed 3× below (deg + both wedge sides); one computation
      .localCheckpoint(false)
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient: lo = smaller (deg, id), hi = larger; keep hi's rank for
    // the wedge-side ordering below
    val oriented = und
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("lo"), col("v").as("hi"), col("dv").as("dhi")))
          .otherwise(
            struct(col("v").as("lo"), col("u").as("hi"), col("du").as("dhi")))
          .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"), col("e.dhi").as("dhi"))
    // wedges y—lo—z with rank(y) < rank(z), closed by oriented (y, z)
    val w1 = oriented.select(col("lo"), col("hi").as("y"), col("dhi").as("dy"))
    val w2 = oriented.select(col("lo"), col("hi").as("z"), col("dhi").as("dz"))
    val closing = oriented.select(col("lo").as("y"), col("hi").as("z"))
    w1.join(w2, "lo")
      .filter(struct(col("dy"), col("y")) < struct(col("dz"), col("z")))
      .join(closing, Seq("y", "z"))
      .select(explode(array(col("lo"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** q86: triangle counts per customer in the co-purchase graph — a
    * customer's triangle count measures how clustered its co-purchase
    * neighborhood is (two co-buyers who also buy together). */
  def triangleCounts(t: Tables): DataFrame = {
    import t.spark.implicits._
    triangleCountsOver(customerCoEdges(t), $"a", $"b", canonical = true)
      .withColumnRenamed("id", "cust")
      .orderBy($"cust")
  }

  /** q87: degree histogram of the co-purchase graph — how many
    * customers have exactly k co-purchase partners. Two narrow
    * aggregations; the histogram is at most max-degree rows. */
  def degreeDistribution(t: Tables): DataFrame = {
    import t.spark.implicits._
    customerCoEdges(t)
      .select(explode(array($"a", $"b")).as("cust"))
      .groupBy($"cust").agg(count(lit(1)).as("deg"))
      .groupBy($"deg").agg(count(lit(1)).as("n_customers"))
      .orderBy($"deg")
  }

  /** q91: degree assortativity of the co-purchase graph — the Pearson
    * correlation of endpoint degrees over the symmetrized edge list
    * (positive: hubs prefer hubs; negative: hub-and-spoke). Moments
    * accumulate in DECIMAL(38,0) (exact, order-independent — the
    * per-row degree product stays far inside int64, it is the
    * CORPUS-SCALE accumulation that would overflow a long), then one
    * fixed double expression: for an undirected graph Sx = Sy and
    * Sxx = Syy, so r = (n·Sxy − Sx²)/(n·Sxx − Sx²) — no sqrt. A
    * zero denominator (regular graph) is NULL on both engines. */
  def assortativity(t: Tables): DataFrame = {
    import t.spark.implicits._
    val e = customerCoEdges(t)
    val sym = e.select($"a".as("u"), $"b".as("v"))
      .union(e.select($"b".as("u"), $"a".as("v")))
    val deg = sym.groupBy($"u").agg(count(lit(1)).as("deg"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val j = sym
      .join(deg.select($"u", $"deg".as("du")), "u")
      .join(deg.select($"u".as("v"), $"deg".as("dv")), "v")
    val m = j.agg(
      count(lit(1)).as("n"),
      sum($"du".cast(dec)).as("sx"),
      sum(($"du" * $"dv").cast(dec)).as("sxy"),
      sum(($"du" * $"du").cast(dec)).as("sxx"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val num = nD * col("sxy").cast("double") - sxD * sxD
    val den = nD * col("sxx").cast("double") - sxD * sxD
    m.select(col("n").as("n_endpoints"),
      (num / nullif(den, lit(0.0))).as("assortativity"))
  }

  // ── q145: label-propagation communities ─────────────────────────────
  /** Synchronous label propagation (Raghavan et al. 2007, the
    * near-linear community-detection baseline), made fully
    * deterministic: labels start as node ids, and each round every
    * node adopts its neighbors' PLURALITY label with ties broken to
    * the SMALLEST label — so the result is a pure function of the
    * edge set and `iters`, with no floats anywhere (integer counts,
    * integer labels ⇒ hash-exact across engines).
    *
    * Plurality-with-tie-break is one `min_by` over the struct key
    * (−cnt, lab) — collision-free for ANY long label (the former
    * packed `cnt·2³² − lab` key silently overflowed past 2³¹) and
    * strictly ordering most-frequent-then-smallest — no window,
    * no per-node array. Per round: the label frame relocates onto the
    * edge partitioning (zero-exchange when both sides already hash on
    * the node id), then two narrow agg shuffles — (dst, lab) counts
    * (map-side combined, ≤ |E| rows pre-combine) and the per-dst
    * argmax (≤ distinct neighbor labels per node). Nothing
    * driver-side; every frame is keyed by node id. Nodes outside the
    * edge list have no neighbors and are not emitted (the fixture
    * graph is symmetrized, so every listed node votes every round). */
  def labelPropagationOver(
      edges: DataFrame, srcCol: Column, dstCol: Column, iters: Int,
      symmetrize: Boolean = true): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e0 = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val e = (if (symmetrize)
        e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      else e0)
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(false)
    val init = e.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id"))
    (1 to iters).foldLeft(init) { (labels, _) =>
      e.join(labels, e("src") === labels("id"))
        .groupBy(col("dst"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        // struct ordering key (−cnt asc, lab asc) is collision-free for
        // ANY long label — the packed cnt·2³²−lab key silently overflowed
        // for ids ≥ 2³¹ (e.g. xxhash-derived ids through the facade)
        .agg(min_by(col("lab"),
          struct((-col("cnt")).as("nc"), col("lab").as("l"))).as("lab"))
        .select(col("dst").as("id"), col("lab"))
    }
  }

  /** Fixture instance: 3 rounds over the co-purchase graph (already
    * canonical a<b, so symmetrization doubles it back to both
    * directions), labeled `community`. */
  def labelPropCommunities(t: Tables, iters: Int = 3): DataFrame = {
    import t.spark.implicits._
    labelPropagationOver(customerCoEdges(t), $"a", $"b", iters)
      .select($"id".as("cust"), $"lab".as("community"))
      .orderBy($"cust")
  }

  // ── q151: HITS hubs and authorities ─────────────────────────────────
  /** Kleinberg's HITS (JACM 1999) over a directed edge list, engine-
    * exact: per round, authority(i) = Σ hub(j) over in-edges then
    * hub(j) = Σ auth(i) over out-edges, each L1-NORMALIZED (classic
    * L2 needs a sqrt that breaks cross-engine bit-equality; L1 keeps
    * the same fixed point up to scale). Exactness recipe: each edge
    * contribution is quantized to integer 2⁻⁴⁰ quanta (q85's trick),
    * per-node sums are exact integer adds, and the normalization is
    * ONE double division of two exact integers (qs/S) — identical
    * IEEE both engines, so scores stay bit-identical inductively.
    *
    * Overflow bound: after normalization Σscore = 1, so a round's
    * total quanta ≤ max-degree·2⁴⁰ — int64-safe while the hottest
    * node's degree < 2²³ (~8.4M); the start h⁰ = 1/|hubs| is
    * normalized for the same reason.
    *
    * Plan: phases ALTERNATE join keys (hub→auth, auth→hub), so one
    * pinned edge partitioning can't serve both — the edge list is
    * checkpointed TWICE, hashed by src and by dst (the dst copy
    * derived from the src checkpoint — no third unpartitioned copy),
    * and every phase's rank join is then zero-exchange (scores come
    * out of the previous phase partitioned by exactly the key the
    * next join needs). The
    * per-phase contribution frame feeds both the L1 total and the
    * score division, so it is EAGERLY checkpointed (node-count rows,
    * two columns) — without that, the |E|-row contribution agg would
    * compute twice per phase (measured 2× wall at sf1). Net: one
    * contribution-regroup shuffle + one one-row total broadcast per
    * phase, nothing driver-side. */
  def hitsOver(edges: DataFrame, srcCol: Column, dstCol: Column,
      iters: Int,
      edgeStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    // TWO edge checkpoints (one per alternating join key): the dst
    // copy derives from the already-checkpointed src copy, so the
    // (often expensive) edge derivation computes once and no third,
    // unpartitioned copy is retained — round 9 dropped that e0
    // checkpoint, cutting single-box disk residency at sf30 by a
    // third; q85 carries one copy, HITS needs two because its phases
    // alternate keys. DISK_ONLY via `edgeStorage` is the sf30 valve.
    val eSrc = edges.select(srcCol.as("src"), dstCol.as("dst")).distinct()
      .repartition(col("src"))
      .localCheckpoint(false, edgeStorage)
    val eBy = Map(
      "src" -> eSrc,
      "dst" -> eSrc.repartition(col("dst")).localCheckpoint(false, edgeStorage))
    val nh = eSrc.agg(countDistinct(col("src")).as("nh"))
    val h0 = eBy("src").select(col("src").as("id")).distinct()
      .crossJoin(broadcast(nh))
      .select(col("id"), (lit(1.0) / col("nh").cast("double")).as("score"))
    def phase(scores: DataFrame, from: String, to: String): DataFrame = {
      val e = eBy(from)
      val q = e.join(scores, e(from) === scores("id"))
        .select(col(to),
          floor(col("score") * lit(PrScale) + lit(0.5)).cast("long").as("q"))
        .groupBy(col(to)).agg(sum(col("q")).as("qs"))
        .localCheckpoint(true) // read twice: the L1 total + the division
      val s = q.agg(sum(col("qs")).as("s"))
      q.crossJoin(broadcast(s))
        .select(col(to).as("id"),
          (col("qs").cast("double") / col("s").cast("double")).as("score"))
    }
    val (hFinal, aFinal) = (1 to iters).foldLeft((h0, h0)) { case ((h, _), _) =>
      val a = phase(h, "src", "dst")
      (phase(a, "dst", "src"), a)
    }
    aFinal.select(col("id"), lit("auth").as("kind"), col("score"))
      .union(hFinal.select(col("id"), lit("hub").as("kind"), col("score")))
  }

  /** Fixture instance: the DIRECTED customer→supplier purchase graph
    * (bipartite: hubs = well-connected buyers, authorities =
    * suppliers weighted by their buyers' breadth), 2 rounds. */
  def hitsCustSupp(t: Tables, iters: Int = 2): DataFrame = {
    import t.spark.implicits._
    val e = t.orders
      .join(t.lineitem, $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .distinct()
    val storage = org.apache.spark.storage.StorageLevel.fromString(
      sys.env.getOrElse("SPARK_GRAFT_PR_STORAGE", "MEMORY_AND_DISK"))
    hitsOver(e, $"src", $"dst", iters, storage).orderBy($"kind", $"id")
  }

  /** q92: top co-purchase partner per customer — the partner sharing
    * the most distinct (part, month) cells, smallest partner id on
    * ties. The shape of an item-item collaborative-filtering
    * neighbor step: blocked pair counting, then a per-customer
    * window over partner counts (partition key = customer, partition
    * size = a customer's partner count — never corpus-scale). */
  def topCoPurchasePartner(t: Tables): DataFrame = {
    import t.spark.implicits._
    val lo = coPurchaseCells(t)
    val shared = lo.select($"pk", $"m", $"ck".as("cust"))
      .join(lo.select($"pk", $"m", $"ck".as("partner")), Seq("pk", "m"))
      .filter($"cust" =!= $"partner")
      .groupBy($"cust", $"partner")
      .agg(count(lit(1)).as("n_shared"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cust").orderBy($"n_shared".desc, $"partner")
    shared.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"cust", $"partner", $"n_shared")
      .orderBy($"cust")
  }

  // ── q170: k-core decomposition (iterative peel) ─────────────────────
  // The graph family's density primitive: the k-core is the maximal
  // subgraph where every node keeps degree ≥ k — the standard
  // spam/bot-ring and community-nucleus filter (Seidman 1983). Unlike
  // the family's fixed-round algebraic passes (PageRank/HITS/LPA),
  // peeling is a MONOTONE fixpoint: drop under-degree nodes, degrees
  // only fall, repeat until stable — so the converged set is exact
  // regardless of round count, and the convergence driver is the
  // ssspConverged shape (one count action per round, eager
  // checkpoints bounding lineage).
  //
  // Scale per round: edges stay partitioned by src, so the degree agg
  // and the src-side survivor semi-join are zero-exchange; only the
  // dst-side semi-join shuffles (survivor ids — node-scale, not
  // edge-scale). Rounds are bounded by the peel depth (the fixture's
  // bipartite graph converges in 2; adversarial chains go deeper —
  // KCoreSpec pins a planted 10-round cascade against sequential peel).

  /** Peel `edges` (already expanded to both directions) to the k-core.
    * Returns (surviving nodes with their in-core degree, rounds run —
    * including the final confirming no-op round).
    *
    * NODE-STATE formulation (the SSSP shape), not edge rewriting: the
    * edge list is checkpointed ONCE, partitioned by dst, and never
    * rewritten — per round only the alive NODE set moves. deg(u) =
    * edges from u whose dst is alive; the src-side filter is
    * provably redundant inside the loop (alive only shrinks, so
    * degrees only fall — a node dropped for deg < k in an earlier
    * round can never re-reach ≥ k; monotonicity is the fixpoint
    * argument AND the plan savings). Per round the shuffle volume is
    * node-scale twice — alive re-keyed by dst for the semi-join, and
    * the degree agg's map-side-combined (src, partial-count) rows —
    * while the edge checkpoint is only SCANNED. The first cut
    * rewrote + re-checkpointed the full edge frame every round: 56 s
    * at sf1 for the whole q170 vs 13.6 s for this formulation (the
    * residue is the graph build + k derivation, shared by q163), and
    * at 100 TB the difference is rewriting the graph per round vs
    * streaming over it. */
  def kCoreOver(edges: DataFrame, srcCol: Column, dstCol: Column, k: Long,
      maxIters: Int = 64,
      edgeStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1: $k")
    val (core, rounds, _) =
      kCoreOverDerived(edges, srcCol, dstCol, _ => k, maxIters, edgeStorage)
    (core, rounds)
  }

  /** [[kCoreOver]] with the threshold DERIVED from the graph's own
    * full-degree frame — `kOf` sees (id, deg) for every node, so a
    * data-dependent k costs NOTHING extra: the same single edge scan
    * produces the degree frame, the initial alive set, AND round 1's
    * peel (with everyone alive, round 1's filtered degrees ARE the
    * full degrees). The first cut spent three additional edge-scale
    * passes on exactly these (a second checkpointed copy of the
    * 120M-row sf10 frame for k — which took the 32 g JVM down — an
    * edge-scale DISTINCT for alive-init, and a redundant round-1
    * semi-join scan); under the DISK_ONLY valve each avoided pass is
    * a full read of the on-disk graph. Returns (core, rounds, k). */
  def kCoreOverDerived(edges: DataFrame, srcCol: Column, dstCol: Column,
      kOf: DataFrame => Long, maxIters: Int = 64,
      edgeStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER): (DataFrame, Int, Long) = {
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    val e = edges.select(srcCol.as("src"), dstCol.as("dst"))
      .repartition(col("dst"))
      .localCheckpoint(false, edgeStorage)
    // one scan: full degrees (src covers every node — e carries both
    // directions), map-side combined to node scale; the node count
    // rides the checkpoint job via observe() (no standalone count)
    val (deg0, n0) = State.checkpointCounted(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")), count(lit(1)))
    val k = kOf(deg0)
    require(k >= 1, s"k must be >= 1: $k")
    // round 1 IS the full-degree filter; the survivor count rides the
    // checkpoint job via observe() (the connectedComponents/SSSP
    // recipe — one job per round, no separate count action)
    var (core, n) = State.checkpointCounted(deg0.filter(col("deg") >= k), count(lit(1)))
    var rounds = 1
    var converged = n == n0
    while (!converged && rounds < maxIters) {
      val alive = core.select(col("id"))
      val deg = e.join(alive, e("dst") === alive("id"), "left_semi")
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val (next, m) = State.checkpointCounted(deg.filter(col("deg") >= k), count(lit(1)))
      // alive only shrinks and next ⊆ alive, so equal counts = equal
      // sets = fixpoint; next's degrees were computed against an
      // alive set equal to the final one — they ARE the core degrees
      converged = m == n
      core = next
      n = m
      rounds += 1
    }
    (core, rounds, k)
  }

  /** q170: k-core of the undirected customer↔supplier graph with the
    * DATA-DERIVED threshold k = ⌊mean customer degree⌋ (a fixed k
    * cannot be non-trivial at every SF — degrees grow with the data;
    * the floor-division mean is exact integer arithmetic in any
    * engine). The oracle unrolls [[KCoreOracleRounds]] peel rounds;
    * convergence must land within that bound (loud require, the q163
    * contract). */
  val KCoreOracleRounds = 4
  def kCoreCustSupp(t: Tables): DataFrame = {
    import t.spark.implicits._
    val pairs = t.orders
      .join(t.lineitem, $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct()
    val edges = pairs.select($"c".as("src"), $"s".as("dst"))
      .union(pairs.select($"s".as("src"), $"c".as("dst")))
    // same single-box scale valve as q85/q163; the default is the
    // SERIALIZED level — a two-long-column frame packs ~25 B/row
    // serialized vs ~100 B+ deserialized, and the serialized unroll
    // is incremental, so the 32-task block-put spike that OOM'd the
    // 32 g sf10 run under plain MEMORY_AND_DISK never forms
    // (43 s/no-OOM vs OOM at sf10; DISK_ONLY remains the sf30 valve)
    val storage = org.apache.spark.storage.StorageLevel.fromString(
      sys.env.getOrElse("SPARK_GRAFT_PR_STORAGE", "MEMORY_AND_DISK_SER"))
    // k = floor-mean customer degree, read off the loop's own
    // full-degree frame (one two-long aggregate action over a
    // node-scale frame — the k-means driver-scalar pattern; zero
    // extra passes over the graph)
    val (core, rounds, _) = kCoreOverDerived(edges, $"src", $"dst",
      deg0 => {
        val r = deg0.filter(col("id") % 2 === 0)
          .agg(sum(col("deg")), count(lit(1))).head()
        r.getLong(0) / r.getLong(1)
      }, maxIters = 64, storage)
    require(rounds - 1 <= KCoreOracleRounds,
      s"k-core peeled through ${rounds - 1} improving rounds; oracle " +
        s"unrolls $KCoreOracleRounds — bump it")
    core.select($"id",
      when($"id" % 2 === 0, "customer").otherwise("supplier").as("kind"),
      $"deg")
      .orderBy($"id")
  }

  // ── q181: strongly connected components ────────────────────────────
  // The DIRECTED-reachability member the family lacked: CC, k-core,
  // SSSP, PageRank/PPR/HITS/LPA/triangles are all undirected or
  // algebraic — none can answer "which nodes lie on directed cycles"
  // (dependency loops, circular trades, link farms). Distributed SCC
  // here is forward-backward COLORING (Orzan 2004; the Pregel-style
  // FB-Trim family — single-machine Tarjan is inherently sequential):
  //
  //   per phase, on the remaining subgraph:
  //   1. FORWARD: color(v) = min id that reaches v (min-label
  //      propagation to fixpoint — the LPA/SSSP round shape).
  //      Every color class c contains its root (color(c) = c).
  //   2. BACKWARD: from each root, spread a mark along REVERSE edges
  //      but only between SAME-COLOR nodes. Marked ⟺ v reaches its
  //      root within the class; color(v) = c already means c reaches
  //      v — so marked ⟺ v ∈ SCC(c). (Any v→root path inside an SCC
  //      stays inside it, hence inside the color class — the standard
  //      FB correctness argument.)
  //   3. Marked nodes leave with scc = color; the mark always covers
  //      COMPLETE SCCs, so deleting them cannot split a remaining one.
  //
  // Each phase resolves at least every class root (isolated/acyclic
  // nodes become singleton SCCs the phase they become roots), so the
  // loop terminates; dense fixtures finish in 2–3 phases. Plan per
  // round: the SSSP recipe — the phase's edge frame checkpointed once
  // by src (forward) with the dst copy DERIVED from it (the q151
  // two-checkpoint lesson), node-scale state re-keyed once per round,
  // edge frames only scanned. Phase-to-phase the edge frame shrinks
  // by survivor semi-joins (node-scale shuffles, the k-core lesson).

  /** SCC labels for every EDGE ENDPOINT of a directed graph (isolated
    * nodes never enter; self-loops are dropped — they do not affect
    * strong connectivity). Returns ((id, scc = min member id),
    * phases-run). Exact at convergence: forward fixpoint + in-class
    * backward fixpoint identify exactly SCC(root) per class. */
  def sccConverged(edges: DataFrame, srcCol: Column, dstCol: Column,
      maxPhases: Int = 16, maxRounds: Int = 64,
      edgeStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER): (DataFrame, Int) = {
    require(maxPhases >= 1 && maxRounds >= 1, s"bad bounds: $maxPhases/$maxRounds")
    var eRem = edges.select(srcCol.as("src"), dstCol.as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // every per-round/per-phase metric below rides its frame's
    // checkpoint job via observe() (the connectedComponents/SSSP
    // recipe) — these driver loops are round-latency-bound, so
    // replacing each follow-up count job (and the forward loop's
    // node-scale self-join + count) with an in-pass observation
    // halves the job count per round
    var (remaining, remN) = State.checkpointCounted(
      eRem.select(col("src").as("id"))
        .union(eRem.select(col("dst").as("id"))).distinct(),
      count(lit(1)))
    var assigned: Option[DataFrame] = None
    var phases = 0
    while (remN > 0 && phases < maxPhases) {
      val eSrc = eRem.repartition(col("src")).localCheckpoint(false, edgeStorage)
      val eDst = eSrc.repartition(col("dst")).localCheckpoint(false, edgeStorage)
      // later phases restrict off the CHECKPOINTED copy — chaining on
      // the original frame would recompute the caller's edge
      // derivation (a fact-fact self-join in q181) once per phase
      eRem = eSrc
      // 1. forward min-color fixpoint
      var st = remaining.select(col("id"), col("id").as("color"))
        .localCheckpoint(true)
      var changed = 1L
      var r = 0
      while (changed > 0 && r < maxRounds) {
        val contrib = eSrc.join(st, eSrc("src") === st("id"))
          .select(col("dst"), col("color"))
          .groupBy(col("dst")).agg(min(col("color")).as("nc"))
        // the changed-count (nc improves the color ⟺ the joined row's
        // new color differs) rides the checkpoint job
        val (next, c) = State.checkpointCounted(
          st.join(contrib, st("id") === contrib("dst"), "left")
            .select(st("id"), least(col("color"), col("nc")).as("color"),
              (col("nc").isNotNull && col("nc") < st("color"))
                .cast("long").as("chg")),
          sum(col("chg")))
        changed = c
        st = next.select(col("id"), col("color"))
        r += 1
      }
      require(changed == 0,
        s"SCC forward coloring did not converge within $maxRounds rounds")
      // 2. backward in-class marking fixpoint (roots start marked);
      // the marked-count observation rides each checkpoint
      var (stm, marked) = State.checkpointCounted(
        st.select(col("id"), col("color"),
          (col("id") === col("color")).as("mark")),
        sum(col("mark").cast("long")))
      var grew = true
      r = 0
      while (grew && r < maxRounds) {
        val cand = eDst.join(stm.filter(col("mark")), eDst("dst") === stm("id"))
          .select(col("src").as("cid"), col("color").as("c2")).distinct()
        val (next, m2) = State.checkpointCounted(
          stm.join(cand,
              stm("id") === cand("cid") && stm("color") === cand("c2"), "left")
            .select(stm("id"), stm("color"),
              (stm("mark") || cand("cid").isNotNull).as("mark")),
          sum(col("mark").cast("long")))
        grew = m2 > marked
        marked = m2
        stm = next
        r += 1
      }
      require(!grew,
        s"SCC backward marking did not converge within $maxRounds rounds")
      // 3. harvest complete SCCs, shrink the subgraph
      val found = stm.filter(col("mark")).select(col("id"), col("color").as("scc"))
      assigned = Some(assigned.fold(found)(_.unionByName(found))
        .localCheckpoint(true))
      val (rem2, rn2) = State.checkpointCounted(
        stm.filter(!col("mark")).select(col("id")), count(lit(1)))
      remaining = rem2
      remN = rn2
      if (remN > 0) {
        val keepS = remaining.select(col("id").as("__ks"))
        val keepD = remaining.select(col("id").as("__kd"))
        eRem = eRem
          .join(keepS, eRem("src") === col("__ks"), "left_semi")
          .join(keepD, col("dst") === col("__kd"), "left_semi")
      }
      phases += 1
    }
    require(remN == 0, s"SCC did not converge within $maxPhases phases")
    // empty edge set → zero phases, empty (id, scc) frame
    (assigned.getOrElse(remaining.select(col("id"), col("id").as("scc"))),
      phases)
  }

  /** q181: SCC of the directed supplier TRADE-FLOW graph — suppliers
    * co-supplying an order trade in the direction set by the order's
    * parity (even o_orderkey: low id → high id; odd: high → low), so
    * pairs active in both regimes form 2-cycles and chains of them
    * weld into large components — the circular-dependency structure
    * SCC exists to find. Output is one row per edge endpoint:
    * (s_suppkey, scc = min member id, scc_size). The oracle computes
    * ground truth from FIRST PRINCIPLES — a recursive-CTE transitive
    * closure and the mutual-reachability definition scc(v) = min{u :
    * u→*v ∧ v→*u} — not a replay of the engine's rounds, so the
    * coloring algorithm is checked against the definition itself. */
  def sccSupplierTrade(t: Tables): DataFrame = {
    import t.spark.implicits._
    val li = t.lineitem.select($"l_orderkey".as("ok"), $"l_suppkey".as("s"))
    val edges = li.as("a").join(li.as("b"), Seq("ok"))
      .filter(col("a.s") < col("b.s"))
      .select(when($"ok" % 2 === 0, col("a.s")).otherwise(col("b.s")).as("src"),
        when($"ok" % 2 === 0, col("b.s")).otherwise(col("a.s")).as("dst"))
      .distinct()
    val storage = org.apache.spark.storage.StorageLevel.fromString(
      sys.env.getOrElse("SPARK_GRAFT_PR_STORAGE", "MEMORY_AND_DISK_SER"))
    val (scc, _) = sccConverged(edges, $"src", $"dst",
      maxPhases = 16, maxRounds = 64, storage)
    val sizes = scc.groupBy($"scc").agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, Seq("scc"))
      .select($"id".as("s_suppkey"), $"scc", $"scc_size")
      .orderBy($"s_suppkey")
  }

  // ── q202: incremental connected components ──────────────────────────
  // Dedup and ER got their persisted-state increments (q162/q198);
  // this lifts the same condensation argument into the graph family
  // as a GENERAL operator: given a persisted labeling of the base
  // graph and a batch of NEW edges, contract every component to its
  // representative (its min-id label), run CC over the delta-bounded
  // condensed graph — nodes are the reps the new edges touch, edges
  // are the new edges with endpoints collapsed to reps — and expand:
  // members of merged components relabel to the merged minimum,
  // untouched rows pass through byte-identically. Correct by graph
  // condensation: CC(V, E ∪ E') = expand(CC(reps(E-components),
  // collapse(E'))), and min-id labels compose (min over merged reps =
  // global min id). Cost: O(|E'| + members-of-merged-components);
  // the base edge set is NEVER re-read — at 100 TB the edge log is
  // the fact table and stays out of the loop.

  /** Persist a CC labeling (id, component) for `nodes`/`edges`,
    * bucketed by component — the layout [[ccIncrement]]'s relabel
    * join reads without exchanging the state. */
  def buildCcState(nodes: DataFrame, edges: DataFrame, table: String,
      buckets: Int = 8): Unit = {
    State.dropTables(nodes.sparkSession, table)
    Dedup.connectedComponents(nodes, edges)
      .repartition(buckets, col("component")).write.bucketBy(buckets, "component").sortBy("component", "id")
      .saveAsTable(table)
  }

  /** Fold a batch of new undirected edges `(a, b)` into a persisted
    * labeling — returns the FULL updated (id, component). Endpoints
    * unknown to the state enter as their own singleton reps (node
    * inserts ride along free). The state is read twice, exchange-free
    * both times: a broadcast endpoint lookup and a broadcast relabel
    * join (GraphIncrementSpec asserts no state shuffle). */
  def ccIncrement(newEdges: DataFrame, table: String): DataFrame =
    ccIncrementFrames(newEdges, newEdges.sparkSession.table(table))

  def ccIncrementFrames(newEdges: DataFrame, state: DataFrame): DataFrame = {
    require(state.columns.sameElements(Seq("id", "component")),
      s"state must be (id, component): ${state.columns.toSeq}")
    val Seq(aCol, bCol) = newEdges.columns.toSeq.take(2)
    val ends = newEdges.select(col(aCol).as("id"))
      .union(newEdges.select(col(bCol).as("id"))).distinct()
    // rep of each touched endpoint: its state label, or itself if new
    val knownRep = state.join(broadcast(ends), Seq("id"), "left_semi")
      .select(col("id"), col("component").as("rep"))
    val endRep = ends
      .join(knownRep.select(col("id"), col("rep")), Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
    // condensed graph: new edges with endpoints collapsed to reps
    val condEdges = newEdges
      .join(endRep.select(col("id").as(aCol), col("rep").as("ra")), Seq(aCol))
      .join(endRep.select(col("id").as(bCol), col("rep").as("rb")), Seq(bCol))
      .select(col("ra"), col("rb")).filter(col("ra") =!= col("rb"))
    val condNodes = endRep.select(col("rep").as("id")).distinct()
    val condensed = Dedup.connectedComponents(condNodes, condEdges,
      edgesWithinNodes = true)
    // relabel map: only reps whose label changed (merged components)
    val relabel = condensed.filter(col("component") =!= col("id"))
      .select(col("id").as("component"), col("component").as("__new"))
    val updated = state
      .join(broadcast(relabel), Seq("component"), "left")
      .select(col("id"), coalesce(col("__new"), col("component")).as("component"))
    // endpoints the state had never seen: singleton reps carrying
    // their condensed label (delta-scale anti join — against the
    // delta-bounded knownRep, never the full state)
    val newRows = ends
      .join(knownRep.select(col("id")), Seq("id"), "left_anti")
      .join(condensed.select(col("id"), col("component")), Seq("id"))
    updated.unionByName(newRows)
  }

  /** q202: CC over the customer co-purchase graph maintained
    * incrementally — the base labeling persists (edges with
    * (a+b) mod 5 ≠ 0), the remaining edges fold in as an insert
    * batch at query time. Must hash-equal the oracle's from-scratch
    * transitive closure over ALL edges (every customer labeled; the
    * isolated ones are their own component). The base labeling
    * (edges with (a+b) mod 5 ≠ 0) is memoized and shared by the
    * one-shot increment (q202) and the streaming fold (q210), the
    * one-build-two-consumers shape. */
  private[graft] def ensureCcState(t: Tables): String = {
    import t.spark.implicits._
    State.ensure(t, "cc_state", "lineitem", "orders") {
      buildCcState(t.customer.select($"c_custkey"),
        customerCoEdges(t).filter(($"a" + $"b") % 5 =!= 0), _)
    }
  }

  def ccCoPurchaseIncremental(t: Tables): DataFrame = {
    import t.spark.implicits._
    val edges = customerCoEdges(t)
    val table = ensureCcState(t)
    ccIncrement(edges.filter(($"a" + $"b") % 5 === 0), table)
      .select($"id".as("c_custkey"), $"component")
      .orderBy($"c_custkey")
  }

  // ── q208: incremental CC under edge DELETION ─────────────────────────
  // [[ccIncrement]] is insert-only by construction: min-label
  // relabeling can only MERGE components, never split one, so a
  // deleted bridge is inexpressible. The standard production
  // treatment mirrors q180's touched-group recipe applied to graphs:
  // persist the edge set BUCKETED BY COMPONENT alongside the labeling,
  // and on a delete batch re-run CC over ONLY the components that
  // lost an edge — their surviving edges stream off the bucketed
  // sidecar (zero-exchange semi-join), every other component's rows
  // pass through byte-identically. A non-bridge deletion relabels the
  // touched component to the same labels; a bridge deletion splits it
  // into min-id fragments — both exact, because CC restricted to a
  // component's own edges IS the global CC there (deleting an edge
  // never connects anything). Inserts then fold through the existing
  // condensation argument over the post-delete labeling. Cost:
  // O(|D| + edges-of-touched-components + |I|) — the base edge log
  // outside the touched components is NEVER re-read, which is the
  // 100 TB posture (deletes touch few components; their edge sets are
  // the q180 "facts of touched groups").

  /** Persist a CC labeling AND the edge set for delete-capable
    * maintenance: `$table` is [[buildCcState]]'s (id, component)
    * layout; `${table}_edges` holds the canonical edges (a < b)
    * labeled and bucketed by their component, so a delete batch's
    * touched-component re-solve reads only its own buckets. */
  def buildCcStateFull(nodes: DataFrame, edges: DataFrame, table: String,
      buckets: Int = 8): Unit = {
    val spark = nodes.sparkSession
    buildCcState(nodes, edges, table, buckets)
    val Seq(aCol, bCol) = edges.columns.toSeq.take(2)
    val canon = edges.select(
      least(col(aCol), col(bCol)).as("a"),
      greatest(col(aCol), col(bCol)).as("b")).distinct()
    val et = s"${table}_edges"
    State.dropTables(spark, et)
    // BOTH endpoints must carry a label: buildCcState's labeling
    // ([[Dedup.connectedComponents]] with edgesWithinNodes=false)
    // silently drops edges with an endpoint outside `nodes`, so the
    // sidecar mirrors that drop semantics — otherwise a half-known
    // edge diverges the two state pieces (a later touched-component
    // re-solve could introduce the unlabeled endpoint as a component
    // label, and a delete of the dropped half raises a spurious
    // phantom)
    val st = spark.table(table)
    canon
      .join(st.select(col("id").as("a"), col("component")), Seq("a"))
      .join(st.select(col("id").as("b")), Seq("b"), "left_semi")
      .select(col("component"), col("a"), col("b"))
      .repartition(buckets, col("component")).write.bucketBy(buckets, "component").sortBy("component", "a", "b")
      .saveAsTable(et)
  }

  /** Fold a batch of edge INSERTS and DELETES into a persisted
    * labeling + edge state — returns the FULL updated (id, component).
    * Deletes referencing an edge the state never held raise loudly (a
    * phantom delete means the change log and the state have diverged —
    * the [[graft.operators.Ivm]] family's contract). */
  def ccApplyChanges(inserts: DataFrame, deletes: DataFrame,
      table: String): DataFrame = {
    val spark = inserts.sparkSession
    // materialize the INSERT side once: the fold references inserts in
    // three branches, and a change set DERIVED from a fact scan
    // (q208's co-purchase slices) would re-run that scan per branch —
    // a production change log is a materialized table already (the
    // Ivm.mergeDeltaRetract note). The DELETE side is referenced once
    // and the Frames core checkpoints its canonicalized form anyway
    // (the observed `del` frame), so a wrapper checkpoint there was a
    // second materialization job on a round-latency-bound path.
    // The streaming fold calls the *Frames core with in-memory
    // batches directly.
    ccApplyChangesFrames(inserts.localCheckpoint(true),
      deletes, spark.table(table),
      spark.table(s"${table}_edges"))
  }

  /** Frame-level core of [[ccApplyChanges]]: `state` is (id,
    * component), `stateEdges` (component, a, b) with a < b — the
    * persisted layouts, or a streaming fold's rolled-forward frames
    * ([[graft.streaming.StreamGraph]]).
    *
    * Deletes and inserts resolve in ONE CC pass (not a delete re-solve
    * followed by an insert condensation — each CC loop is
    * round-LATENCY-bound, so halving the loop count halves the fold
    * wall): the participating nodes are the delete-touched components'
    * MEMBERS plus, for insert endpoints outside them, their component
    * REPS (or themselves if brand-new); the edges are the touched
    * components' surviving edges plus the inserts with endpoints
    * collapsed under that mapping. Exact by the same two arguments
    * composed — deletion only disconnects, so CC restricted to a
    * touched component equals CC over its surviving edges; and an
    * untouched component's rep carries its min member id, so min-label
    * CC over {members ∪ reps} lands every merged group on the true
    * global minimum. */
  def ccApplyChangesFrames(inserts: DataFrame, deletes: DataFrame,
      state: DataFrame, stateEdges: DataFrame): DataFrame = {
    require(state.columns.sameElements(Seq("id", "component")),
      s"state must be (id, component): ${state.columns.toSeq}")
    require(stateEdges.columns.sameElements(Seq("component", "a", "b")),
      s"edge state must be (component, a, b): ${stateEdges.columns.toSeq}")
    val Seq(dA, dB) = deletes.columns.toSeq.take(2)
    val Seq(iA, iB) = inserts.columns.toSeq.take(2)
    // both counts ride their frame's materialization job via
    // observe() (the connectedComponents recipe) — the fold is
    // round-latency-bound, so the two standalone count jobs were a
    // measurable slice of every micro-batch's wall
    val (del, nDel) = State.checkpointCounted(deletes.select(
        least(col(dA), col(dB)).as("a"),
        greatest(col(dA), col(dB)).as("b")).distinct(),
      count(lit(1)))
    val ins = inserts.select(
      least(col(iA), col(iB)).as("a"),
      greatest(col(iA), col(iB)).as("b")).distinct()
    // each delete's component off the edge sidecar — the small side
    // broadcasts, the bucketed sidecar streams (no shuffle); the
    // matched rows are delta-bounded, so materialize them once
    val (matched, nMatched) = State.checkpointCounted(stateEdges
      .join(broadcast(del), Seq("a", "b"))
      .select(col("component")), count(lit(1)))
    // loud phantom-delete contract: the sidecar's edges are distinct,
    // so |matched| < |deletes| means some delete referenced an edge
    // the state never held — the change log and state have diverged
    if (nMatched < nDel)
      throw new IllegalArgumentException(
        s"Graph.ccApplyChanges: ${nDel - nMatched} of $nDel deletes "
          + "reference edges the state never held — phantom deletes")
    if (nMatched > nDel)
      throw new IllegalStateException(
        s"Graph.ccApplyChanges: $nDel deletes matched $nMatched sidecar "
          + "rows — the edge state holds duplicate (a, b) rows and has "
          + "broken its distinct contract (a roll-forward appended a "
          + "non-canonicalized or duplicated insert)")
    val delComp = matched.distinct()
    // surviving edges of ONLY the touched components, off the
    // component-bucketed sidecar (both the semi and the anti join
    // broadcast — no edge-state shuffle, spec-asserted)
    val survEdges = stateEdges
      .join(broadcast(delComp), Seq("component"), "left_semi")
      .join(broadcast(del), Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"))
    val touchedNodes = state
      .join(broadcast(delComp), Seq("component"), "left_semi")
      .select(col("id"))
    // insert-endpoint mapping: members of delete-touched components
    // stay THEMSELVES (they participate directly), endpoints in
    // untouched components collapse to their component rep, ids the
    // state has never seen stay themselves (node inserts ride free)
    val ends = ins.select(col("a").as("id"))
      .union(ins.select(col("b").as("id"))).distinct()
    val endState = state.join(broadcast(ends), Seq("id"), "left_semi")
      .join(broadcast(delComp.select(col("component"),
        lit(true).as("__touched"))), Seq("component"), "left")
      .select(col("id"), col("component"), col("__touched"))
    val endRep = ends
      .join(endState, Seq("id"), "left")
      .select(col("id"),
        when(col("__touched") <=> lit(true), col("id"))
          .otherwise(coalesce(col("component"), col("id"))).as("rep"))
    val mappedIns = ins
      .join(endRep.select(col("id").as("a"), col("rep").as("ra")), Seq("a"))
      .join(endRep.select(col("id").as("b"), col("rep").as("rb")), Seq("b"))
      .select(col("ra").as("a"), col("rb").as("b"))
      .filter(col("a") =!= col("b"))
    // untouched-component reps entering the CC (delta-bounded: the
    // components of insert endpoints outside the delete-touched set)
    // — their rows expand back through the relabel map, never directly
    val reps = endState.filter(col("__touched").isNull)
      .select(col("component").as("id")).distinct()
    val condNodes = touchedNodes
      .unionByName(reps)
      .unionByName(ends // brand-new ids: not in state at all
        .join(endState.select(col("id")), Seq("id"), "left_anti"))
      .distinct()
    val cc = Dedup.connectedComponents(condNodes,
      survEdges.unionByName(mappedIns), edgesWithinNodes = true)
    // expand: reps' labels relabel their (untouched) components'
    // members; touched members and brand-new ids take theirs directly.
    // The relabel map is restricted to REP-keyed rows before the
    // broadcast — touched members' rows can never match an untouched
    // component label (ids are unique across nodes), and a giant
    // touched component's members must not ride a broadcast
    val relabel = cc
      .join(broadcast(reps), Seq("id"), "left_semi")
      .filter(col("component") =!= col("id"))
      .select(col("id").as("component"), col("component").as("__new"))
    val untouchedRows = state
      .join(broadcast(delComp), Seq("component"), "left_anti")
      .join(broadcast(relabel), Seq("component"), "left")
      .select(col("id"),
        coalesce(col("__new"), col("component")).as("component"))
    val direct = cc.join(broadcast(reps), Seq("id"), "left_anti")
    untouchedRows.unionByName(direct)
  }

  /** q208: delete-capable incremental CC on the co-purchase graph —
    * the persisted state holds edges with (3a+b) mod 11 ≠ 0; at query
    * time the (a+b) mod 7 ≡ 0 slice of those DELETES and the held-out
    * (3a+b) mod 11 ≡ 0, (a+b) mod 7 ≠ 0 edges INSERT, so the oracle
    * is the from-scratch closure over exactly the (a+b) mod 7 ≠ 0
    * edges — blind to the engine's base/delete/insert split. Bridges
    * that split components are exercised by construction (the spec
    * additionally pins a hand-built bridge vs non-bridge pair). The
    * FULL state (labels + edge sidecar; base = edges with (3a+b) mod
    * 11 ≠ 0) is memoized and shared by the one-shot apply (q208) and
    * the streaming fold (q213). */
  private[graft] def ensureCcrState(t: Tables): String = {
    import t.spark.implicits._
    State.ensure(t, "ccr_state", "lineitem", "orders") {
      buildCcStateFull(t.customer.select($"c_custkey"),
        customerCoEdges(t).filter(($"a" * 3 + $"b") % 11 =!= 0), _)
    }
  }

  /** q208's deterministic change set over the co-purchase graph:
    * deletes = base edges with (a+b) mod 7 ≡ 0, inserts = held-out
    * edges with (a+b) mod 7 ≠ 0 — so the post-change edge set is
    * exactly {(a, b) : (a+b) mod 7 ≠ 0}, the oracle's world. */
  private[graft] def ccrDeletes(t: Tables): DataFrame = {
    import t.spark.implicits._
    customerCoEdges(t).filter(($"a" * 3 + $"b") % 11 =!= 0 &&
      ($"a" + $"b") % 7 === 0)
  }
  private[graft] def ccrInserts(t: Tables): DataFrame = {
    import t.spark.implicits._
    customerCoEdges(t).filter(($"a" * 3 + $"b") % 11 === 0 &&
      ($"a" + $"b") % 7 =!= 0)
  }

  def ccCoPurchaseRetract(t: Tables): DataFrame = {
    import t.spark.implicits._
    val table = ensureCcrState(t)
    ccApplyChanges(ccrInserts(t), ccrDeletes(t), table)
      .select($"id".as("c_custkey"), $"component")
      .orderBy($"c_custkey")
  }

  // ── q203: PageRank warm-start ───────────────────────────────────────
  // The power iteration's convergence depends on the distance between
  // the init vector and the fixed point — after a small edge delta
  // the old ranks ARE close, so seeding from them instead of uniform
  // 1/N saves most of the rounds (the persisted-rank analogue of the
  // IVM family: maintain, don't recompute). Two surfaces: the
  // fixed-round fold below (oracle-replayable bit for bit), and
  // [[pageRankConvergedRounds]], which iterates to an L∞ tolerance
  // and REPORTS the round count — the rounds-saved measurement the
  // sweep table records.

  /** `iters` rounds of PageRank seeded from `init` (id, pr) instead
    * of uniform — nodes absent from `init` (new since the seed) start
    * at 1/N. Same quantized-contribution fold as [[pageRankOver]], so
    * the oracle replays it exactly. */
  def pageRankWarmStart(edges: DataFrame, srcCol: Column, dstCol: Column,
      init: DataFrame, iters: Int, d: Double,
      edgeStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      edgesPrepared: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    // edgesPrepared: the caller's edge frame is ALREADY distinct,
    // partitioned by src, and persisted (the q203 memoized state) —
    // re-distincting and re-checkpointing it every warm fold would
    // copy the whole edge list per run, the exact cost warm-starting
    // exists to avoid
    val e =
      if (edgesPrepared) edges.select(srcCol.as("src"), dstCol.as("dst"))
      else edges.select(srcCol.as("src"), dstCol.as("dst")).distinct()
        .repartition(col("src"))
        .localCheckpoint(false, edgeStorage)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nAgg = deg.agg(count(lit(1)).as("n"))
    val pr0 = deg
      .join(init.select(col("id").as("src"), col("pr").as("__init")),
        Seq("src"), "left")
      .crossJoin(broadcast(nAgg))
      .select(col("src").as("id"),
        coalesce(col("__init"), lit(1.0) / col("n")).as("pr"), col("deg"))
    val last = (1 to iters).foldLeft(pr0) { (pr, _) =>
      val contrib = e.join(pr, e("src") === pr("id"))
        .select(col("dst"),
          floor(col("pr") / col("deg") * lit(PrScale) + lit(0.5))
            .cast("long").as("q"))
        .groupBy(col("dst"))
        .agg(sum(col("q")).as("qs"))
      deg.join(contrib, deg("src") === contrib("dst"), "left")
        .crossJoin(broadcast(nAgg))
        .select(deg("src").as("id"),
          (lit(1.0 - d) / col("n") +
            lit(d) * (coalesce(col("qs"), lit(0L)).cast("double") / lit(PrScale))).as("pr"),
          deg("deg"))
    }
    last.select(col("id"), col("pr"))
  }

  /** Iterate PageRank to an L∞ fixed-point tolerance from `init`
    * (None = uniform) and return (ranks, rounds) — the measurement
    * half of warm-starting: GraphIncrementSpec asserts warm rounds <
    * cold rounds on the same graph and that both land on the same
    * fixed point. One extra driver-side max-diff action per round
    * (the sscConverged/ssspConverged loop shape). */
  def pageRankConvergedRounds(edges: DataFrame, srcCol: Column,
      dstCol: Column, d: Double, tol: Double,
      init: Option[DataFrame] = None, maxIters: Int = 100): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val e = edges.select(srcCol.as("src"), dstCol.as("dst")).distinct()
      .repartition(col("src"))
      .localCheckpoint(false)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nAgg = deg.agg(count(lit(1)).as("n"))
    var pr = init.map(i => deg
        .join(i.select(col("id").as("src"), col("pr").as("__init")),
          Seq("src"), "left")
        .crossJoin(broadcast(nAgg))
        .select(col("src").as("id"),
          coalesce(col("__init"), lit(1.0) / col("n")).as("pr"), col("deg")))
      .getOrElse(deg.crossJoin(broadcast(nAgg))
        .select(col("src").as("id"), (lit(1.0) / col("n")).as("pr"), col("deg")))
      .localCheckpoint(true)
    var iter = 0
    var delta = Double.MaxValue
    while (delta > tol) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"pageRankConvergedRounds: no fixed point in $maxIters rounds " +
            s"(last L∞ delta $delta)")
      val contrib = e.join(pr, e("src") === pr("id"))
        .select(col("dst"),
          floor(col("pr") / col("deg") * lit(PrScale) + lit(0.5))
            .cast("long").as("q"))
        .groupBy(col("dst"))
        .agg(sum(col("q")).as("qs"))
      val next = deg.join(contrib, deg("src") === contrib("dst"), "left")
        .crossJoin(broadcast(nAgg))
        .select(deg("src").as("id"),
          (lit(1.0 - d) / col("n") +
            lit(d) * (coalesce(col("qs"), lit(0L)).cast("double") / lit(PrScale))).as("pr"),
          deg("deg"))
        .localCheckpoint(true)
      delta = next.as("n")
        .join(pr.select(col("id"), col("pr").as("__prev")), Seq("id"))
        .agg(max(abs(col("pr") - col("__prev")))).head().getDouble(0)
      // the previous round's checkpointed rank blocks are dead once
      // the L∞ action has read them — free them now, or up to
      // maxIters copies of the rank vector sit in block storage for
      // the life of the session (the init frame is internal too; only
      // the final frame, the result, stays persisted)
      unpersistCheckpointed(pr)
      pr = next
      iter += 1
    }
    (pr.select(col("id"), col("pr")), iter)
  }

  /** Unpersist the RDD blocks behind an eager localCheckpoint'd frame
    * (Dataset.unpersist only consults the cache manager, which knows
    * nothing about checkpoint storage). Precise — unpersists exactly
    * the frame's own LogicalRDD, never another query's blocks. */
  private def unpersistCheckpointed(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** q203: warm-started PageRank on the customer–supplier trade graph
    * — the base graph (orders with o_orderkey mod 11 ≠ 0) is ranked 3
    * rounds from uniform (the "yesterday" state), then the FULL graph
    * is ranked 2 rounds seeded from those ranks. Fixed round counts
    * so the oracle replays the entire two-phase fold bit for bit; the
    * convergence-rounds-saved claim (5 warm vs ~85 cold rounds to the
    * same fixed point) is GraphIncrementSpec's measurement, recorded
    * in BASELINE.md — not re-run here.
    *
    * The PRIOR ranks and the full edge list are the operator's
    * persisted state (the IVM analogue q203 exists to demonstrate):
    * built once per fixture and eagerly checkpointed, so a repeat run
    * pays ONLY the warm fold — yesterday's ranking is not recomputed
    * every time today's delta arrives. The one fact-fact join feeds
    * both graphs (o_orderkey survives the join, the residue slices
    * off the same computed frame). */
  def pageRankWarmTrade(t: Tables, d: Double = 0.85): DataFrame = {
    import t.spark.implicits._
    val storage = org.apache.spark.storage.StorageLevel.fromString(
      sys.env.getOrElse("SPARK_GRAFT_PR_STORAGE", "MEMORY_AND_DISK"))
    val (full, prior) = State.memo(t.spark.sparkContext,
      State.name(t, "pr_warm", "orders")) {
      val keyed = t.orders.select($"o_orderkey", $"o_custkey")
        .join(t.lineitem.select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_orderkey".as("okey"), ($"o_custkey" * 2).as("c"),
          ($"l_suppkey" * 2 + 1).as("s"))
        .localCheckpoint(false, storage)
      def sym(p: DataFrame) = p.select($"c".as("src"), $"s".as("dst"))
        .union(p.select($"s".as("src"), $"c".as("dst")))
      val base = sym(keyed.filter($"okey" % 11 =!= 0)
        .select($"c", $"s").distinct())
      // the persisted pieces honor the storage valve (an sf10 edge
      // list at MEMORY_AND_DISK evicts everything else); the keyed
      // join frame is build-scaffolding only — free its blocks once
      // both graphs have been derived from it
      // distinct by construction (c even / s odd keeps the two sym
      // halves disjoint; the pair set is distinct before sym), and
      // pre-partitioned by src so the warm fold consumes it as-is
      val fullE = sym(keyed.select($"c", $"s").distinct())
        .repartition($"src")
        .localCheckpoint(true, storage)
      val pr = pageRankOver(base, $"src", $"dst", iters = 3, d = d,
        storage).localCheckpoint(true)
      unpersistCheckpointed(keyed)
      (fullE, pr)
    }
    pageRankWarmStart(full, $"src", $"dst", prior, iters = 2, d = d, storage,
        edgesPrepared = true)
      .select($"id",
        when($"id" % 2 === 0, "customer").otherwise("supplier").as("kind"),
        $"pr")
      .orderBy($"id")
  }
}
