package graft.operators

import graft.{State, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-measure, composable incremental view maintenance — the
  * generalization round 10's [[Ivm]] family deliberately deferred:
  * that family hard-wires ONE group key and ONE measure per view
  * (`Ivm.scala`'s (key, n, s, mn, mx) / (fkey, key, q) contracts), so
  * every real warehouse view — several sums, an average, a variance,
  * a count-distinct — meant hand-building a second view per measure.
  * This operator maintains ONE view carrying an arbitrary LIST of
  * measures, under the full I/D/U change algebra including group
  * moves (an update whose key_old ≠ key_new), with cost bounded by
  * the delta — never the fact history.
  *
  * The measure algebra, per declared measure column m (an exact
  * integer-quantized column, the [[Ivm]] convention):
  *
  *  - `n` (count) and `s_m` (sum) are group elements — retract by
  *    signed addition, one map-side-combined agg over the delta.
  *  - `ssh_m`/`ssl_m` (sum of squares, floor-split at 2³⁰) make
  *    avg/variance/stddev derivable EXACTLY: the split keeps every
  *    partial on the int64 path of both engines (the q192
  *    split-moment recipe — an unsplit Σq² overflows 2⁶³ at scale,
  *    and DuckDB's hugeint→double cast is off by 1 ULP there), and
  *    squares are ≥ 0, so hi = q² >> 30 and lo = q² & (2³⁰−1) is the
  *    exact floor split; the parts are themselves group elements
  *    (componentwise signed addition preserves hi·2³⁰ + lo = Σq²
  *    without any carry normalization, because the identity is linear
  *    in both parts). Domain (ANSI fails loudly beyond): |q| < 2³¹·⁵
  *    so q² fits a long.
  *  - `cd_d` (count-distinct of a declared column d) is NOT a group
  *    element — a delete only lowers the distinct count if it removed
  *    the LAST occurrence of its value. The standard production
  *    treatment is a per-(key, value) MULTIPLICITY sidecar (the
  *    q162-style persisted index, bucketed by key): a delta folds in
  *    as signed multiplicities, values whose multiplicity crosses
  *    zero change the count, and the updated count is re-derived for
  *    ONLY the touched keys by one zero-exchange pass over their
  *    sidecar rows. A retraction below multiplicity zero is a phantom
  *    delete and fails loudly.
  *
  * Scale posture (MultiIvmSpec plan-asserts all of it): the persisted
  * view, the multiplicity sidecars, and the merge joins all live on
  * the SAME bucketed-by-key layout, so no persisted row ever crosses
  * an exchange — the only shuffles in a refresh are the delta's own
  * partial aggregations. Refresh cost: O(delta + sidecar-rows-of-
  * touched-keys), independent of history size.
  */
object MultiIvm {

  private val S = 1L << 30
  private val DeltaMeta = Seq("fkey", "change", "key_old", "key_new")

  private def sq(c: Column): Column = c * c
  private def sqHi(c: Column): Column = shiftright(sq(c), 30)
  private def sqLo(c: Column): Column = sq(c).bitwiseAND(lit(S - 1))

  /** The view's column list for a measure/distinct declaration. */
  def viewColumns(measures: Seq[String], distincts: Seq[String]): Seq[String] =
    "key" +: "n" +:
      (measures.flatMap(m => Seq(s"s_$m", s"ssh_$m", s"ssl_$m")) ++
        distincts.map(d => s"cd_$d"))

  /** Per-group partials of every declared measure over a
    * `(fkey, key, measures..., distincts...)` fact frame. Distinct
    * columns must be non-null (a NULL neither counts as a value nor
    * retracts one — declare a sentinel instead). */
  def multiPartials(facts: DataFrame, measures: Seq[String],
      distincts: Seq[String]): DataFrame = {
    val aggs =
      (count(lit(1)).as("n") +:
        measures.flatMap(m => Seq(
          sum(col(m)).as(s"s_$m"),
          sum(sqHi(col(m))).as(s"ssh_$m"),
          sum(sqLo(col(m))).as(s"ssl_$m")))) ++
        distincts.map(d => count_distinct(col(d)).as(s"cd_$d"))
    facts.groupBy(col("key")).agg(aggs.head, aggs.tail: _*)
  }

  /** Persist the multi-measure view bucketed by key, plus one
    * per-(key, value) multiplicity sidecar per distinct column
    * (`${table}_mult_<d>`, same bucket layout — co-located with the
    * view so the whole refresh plans exchange-free on the persisted
    * side). */
  def buildMultiView(facts: DataFrame, measures: Seq[String],
      distincts: Seq[String], table: String, buckets: Int = 8): Unit = {
    State.dropTables(facts.sparkSession, table)
    // every bucketed write below is pre-partitioned to the bucket
    // spec — one file per bucket instead of up-to-N-writer-tasks
    // files per bucket (the Ivm.buildFactIndex note; guide §6)
    multiPartials(facts, measures, distincts)
      .repartition(buckets, col("key"))
      .write.bucketBy(buckets, "key").sortBy("key").saveAsTable(table)
    distincts.foreach { d =>
      val mt = s"${table}_mult_$d"
      State.dropTables(facts.sparkSession, mt)
      facts.groupBy(col("key"), col(d).as("v"))
        .agg(count(lit(1)).as("m"))
        .repartition(buckets, col("key"))
        .write.bucketBy(buckets, "key").sortBy("key", "v").saveAsTable(mt)
    }
  }

  /** The signed multiplicity contribution of a delta for distinct
    * column d: one (key, v, dm) row per touched (group, value). */
  private def multDelta(retracts: DataFrame, adds: DataFrame,
      d: String): DataFrame =
    retracts.select(col("key_old").as("key"), col(s"old_$d").as("v"),
        lit(-1L).as("dm"))
      .unionByName(adds.select(col("key_new").as("key"),
        col(s"new_$d").as("v"), lit(1L).as("dm")))
      .groupBy(col("key"), col("v")).agg(sum(col("dm")).as("dm"))

  /** Updated multiplicity rows for the keys a delta touches — the
    * sidecar's own roll-forward (write these back over the touched
    * keys' rows to absorb the delta durably; signed multiplicities
    * are associative, so any chunking of a change log folds to the
    * same state — MultiIvmSpec proves two-chunk ≡ one-shot). Rows
    * whose multiplicity reaches zero drop out; below zero raises. */
  def updatedMultiplicities(delta: DataFrame, mult: DataFrame,
      d: String): DataFrame = {
    val retracts = delta.filter(col("change").isin("D", "U"))
    val adds = delta.filter(col("change").isin("I", "U"))
    val touched = retracts.select(col("key_old").as("key"))
      .unionByName(adds.select(col("key_new").as("key"))).distinct()
    val m2 = coalesce(col("m"), lit(0L)) + coalesce(col("dm"), lit(0L))
    mult.join(broadcast(touched), Seq("key"), "left_semi").as("c")
      .hint("merge")
      .join(multDelta(retracts, adds, d).as("d"), Seq("key", "v"),
        "full_outer")
      .select(col("key"), col("v"),
        when(m2 >= 0, m2).otherwise(raise_error(concat(
          lit(s"MultiIvm: negative multiplicity for $d — delta retracts "
            + "a value the group never held, key="),
          col("key").cast("string"))).cast("long")).as("m"))
      .filter(col("m") > 0)
  }

  /** Fold a fact-level change set into the persisted multi-measure
    * view. `delta` is one row per changed fact: `(fkey, change
    * 'I'|'D'|'U', key_old, key_new, old_<c>, new_<c> …)` for every
    * declared measure and distinct column — old side NULL for I, new
    * side NULL for D, an update carrying FULL old and new images
    * (and moving groups when key_old ≠ key_new). Returns the updated
    * view over the surviving facts; emptied groups drop out; phantom
    * retractions (count or multiplicity below zero) fail loudly. */
  def mergeMultiDelta(delta: DataFrame, measures: Seq[String],
      distincts: Seq[String], table: String): DataFrame = {
    val spark = delta.sparkSession
    // Materialize the delta ONCE: the fold references it in many
    // branches (retracts/adds contributions, per-distinct
    // multiplicity updates), and a delta frame DERIVED from a fact
    // scan would otherwise re-run that scan per branch (measured at
    // sf0.1: the q209-family fold re-scanned orders 6× — 192-task
    // stages on a bounded change set). A production change log is a
    // materialized table already; the checkpoint is O(|delta|), the
    // fold's own contract. The streaming folds call the *Frames core
    // directly with in-memory batches, so they never pay this job.
    mergeMultiDeltaFrames(delta.localCheckpoint(true), measures, distincts,
      spark.table(table),
      distincts.map(d => d -> spark.table(s"${table}_mult_$d")).toMap)
  }

  /** Frame-level core of [[mergeMultiDelta]] — the table entry point
    * reads the persisted bucketed layouts; a streaming fold could
    * pass its rolled-forward frames through the same algebra. */
  def mergeMultiDeltaFrames(delta: DataFrame, measures: Seq[String],
      distincts: Seq[String], view: DataFrame,
      mults: Map[String, DataFrame]): DataFrame = {
    val expect = DeltaMeta ++
      (measures ++ distincts).flatMap(c => Seq(s"old_$c", s"new_$c"))
    require(delta.columns.sameElements(expect),
      s"delta must be $expect: ${delta.columns.toSeq}")
    require(view.columns.sameElements(viewColumns(measures, distincts)),
      s"view must be ${viewColumns(measures, distincts)}: " +
        s"${view.columns.toSeq}")
    val retracts = delta.filter(col("change").isin("D", "U"))
    val adds = delta.filter(col("change").isin("I", "U"))
    // signed count/sum/split-square contributions — ONE map-side-
    // combined agg over the delta (the only pass over delta rows)
    val sgnCols = measures.flatMap { m =>
      Seq((-col(s"old_$m")).as(s"c_s_$m"),
        (-sqHi(col(s"old_$m"))).as(s"c_ssh_$m"),
        (-sqLo(col(s"old_$m"))).as(s"c_ssl_$m"))
    }
    val addCols = measures.flatMap { m =>
      Seq(col(s"new_$m").as(s"c_s_$m"),
        sqHi(col(s"new_$m")).as(s"c_ssh_$m"),
        sqLo(col(s"new_$m")).as(s"c_ssl_$m"))
    }
    val dns = retracts
      .select(col("key_old").as("key") +: lit(-1L).as("c_n") +: sgnCols: _*)
      .unionByName(adds
        .select(col("key_new").as("key") +: lit(1L).as("c_n") +: addCols: _*))
      .groupBy(col("key"))
      .agg(sum(col("c_n")).as("dn"),
        measures.flatMap(m => Seq(
          sum(col(s"c_s_$m")).as(s"ds_$m"),
          sum(col(s"c_ssh_$m")).as(s"dssh_$m"),
          sum(col(s"c_ssl_$m")).as(s"dssl_$m"))): _*)
    // per-distinct: re-derive the touched keys' counts off the updated
    // multiplicities (zero-exchange over the bucketed sidecar; the
    // count agg rides the join's existing key partitioning)
    val cdNews = distincts.map { d =>
      updatedMultiplicities(delta, mults(d), d)
        .groupBy(col("key")).agg(count(lit(1)).as(s"__cd_$d"))
    }
    val n2 = coalesce(col("v.n"), lit(0L)) + coalesce(col("dn"), lit(0L))
    val joined = cdNews.foldLeft(
      view.as("v").hint("merge").join(dns.as("d"), Seq("key"), "full_outer")) {
      (acc, cdn) => acc.join(cdn, Seq("key"), "left")
    }
    val outCols =
      when(n2 >= 0, n2).otherwise(raise_error(concat(
        lit("MultiIvm: negative count — delta retracts a fact the view "
          + "never held, key="), col("key").cast("string")))
        .cast("long")).as("n") +:
      (measures.flatMap(m => Seq(
        (coalesce(col(s"v.s_$m"), lit(0L)) +
          coalesce(col(s"ds_$m"), lit(0L))).as(s"s_$m"),
        (coalesce(col(s"v.ssh_$m"), lit(0L)) +
          coalesce(col(s"dssh_$m"), lit(0L))).as(s"ssh_$m"),
        (coalesce(col(s"v.ssl_$m"), lit(0L)) +
          coalesce(col(s"dssl_$m"), lit(0L))).as(s"ssl_$m"))) ++
        // touched keys (with survivors) always have a re-derived
        // count; untouched keys keep the view's — coalesce order IS
        // the routing
        distincts.map(d =>
          coalesce(col(s"__cd_$d"), col(s"v.cd_$d")).as(s"cd_$d")))
    joined.select(col("key") +: outCols: _*).filter(col("n") > 0)
  }

  // ── q206: multi-measure views under DIMENSION moves ─────────────────
  // The q195 two-level treatment lifted to the full multi-measure
  // algebra: the view aggregates fact ⋈ dim per GROUP, and the dim
  // key moves between groups. (n, s, Σq²-parts) transfer by signed
  // addition of the key's partials exactly as q195's (n, s) did —
  // the split squares are group elements too. COUNT-DISTINCT
  // transfers WHOLESALE at the multiplicity level: the group's
  // (value → multiplicity) map is the sum of its member keys' maps,
  // so a move subtracts the key's entire (v, m) vector from the old
  // group's sidecar and adds it to the new one's; values crossing
  // zero change the count, re-derived for touched groups only. Cost:
  // O(|dim delta| · values-per-key + touched-groups' sidecar rows) —
  // the fact table is never in the loop (spec-asserted no fact scan).

  /** Fold a dimension-move delta `(key, g_old, g_new)` into a
    * group-level multi-measure view. `perKeyTable` is a
    * [[buildMultiView]] over the DIM KEY (its `_mult_<d>` sidecars
    * hold each key's (v, m) vector); `view` is the group-level
    * (g, n, s_*, ssh_*, ssl_*, cd_*) frame and `groupMults` the
    * group-level (g, v, m) multiplicity frames. Emptied groups drop
    * out; phantom moves (count or multiplicity below zero) raise. */
  def mergeMultiDimMove(view: DataFrame, groupMults: Map[String, DataFrame],
      perKeyTable: String, delta: DataFrame, measures: Seq[String],
      distincts: Seq[String]): DataFrame = {
    val spark = delta.sparkSession
    require(delta.columns.sameElements(Seq("key", "g_old", "g_new")),
      s"delta must be (key, g_old, g_new): ${delta.columns.toSeq}")
    val viewCols = "g" +: viewColumns(measures, distincts).drop(1)
    require(view.columns.sameElements(viewCols),
      s"view must be $viewCols: ${view.columns.toSeq}")
    val perKey = spark.table(perKeyTable)
    // signed transfer of every additive partial (count, sums, split
    // squares) — one narrow pass over the moved keys' partials
    def side(g: Column, sgn: Column) = struct(
      g.as("g") +: (sgn * col("n")).as("dn") +:
        measures.flatMap(m => Seq((sgn * col(s"s_$m")).as(s"ds_$m"),
          (sgn * col(s"ssh_$m")).as(s"dssh_$m"),
          (sgn * col(s"ssl_$m")).as(s"dssl_$m"))): _*)
    val contrib = perKey
      .join(broadcast(delta), Seq("key"))
      .select(explode(array(side(col("g_old"), lit(-1L)),
        side(col("g_new"), lit(1L)))).as("c"))
      .select(col("c.*"))
      .filter(col("g").isNotNull)
      .groupBy(col("g"))
      .agg(sum(col("dn")).as("dn"),
        measures.flatMap(m => Seq(
          sum(col(s"ds_$m")).as(s"ds_$m"),
          sum(col(s"dssh_$m")).as(s"dssh_$m"),
          sum(col(s"dssl_$m")).as(s"dssl_$m"))): _*)
    val touched = delta
      .select(explode(array(col("g_old"), col("g_new"))).as("g"))
      .filter(col("g").isNotNull).distinct()
    // per-distinct: the moved keys' multiplicity vectors transfer
    // between groups; re-derive touched groups' counts off the merged
    // group-level multiplicities
    val cdNews = distincts.map { d =>
      movedGroupMultRows(groupMults(d),
          spark.table(s"${perKeyTable}_mult_$d"), delta, touched, d)
        .groupBy(col("g")).agg(count(lit(1)).as(s"__cd_$d"))
    }
    val n2 = coalesce(col("v.n"), lit(0L)) + coalesce(col("dn"), lit(0L))
    val joined = cdNews.foldLeft(
      view.as("v").join(contrib.as("d"), Seq("g"), "full_outer")) {
      (acc, cdn) => acc.join(cdn, Seq("g"), "left")
    }
    val outCols =
      when(n2 >= 0, n2).otherwise(raise_error(concat(
        lit("MultiIvm: negative count — move retracts more than the "
          + "group holds, g="), col("g").cast("string")))
        .cast("long")).as("n") +:
      (measures.flatMap(m => Seq(
        (coalesce(col(s"v.s_$m"), lit(0L)) +
          coalesce(col(s"ds_$m"), lit(0L))).as(s"s_$m"),
        (coalesce(col(s"v.ssh_$m"), lit(0L)) +
          coalesce(col(s"dssh_$m"), lit(0L))).as(s"ssh_$m"),
        (coalesce(col(s"v.ssl_$m"), lit(0L)) +
          coalesce(col(s"dssl_$m"), lit(0L))).as(s"ssl_$m"))) ++
        distincts.map(d =>
          coalesce(col(s"__cd_$d"), col(s"v.cd_$d")).as(s"cd_$d")))
    joined.select(col("g") +: outCols: _*).filter(col("n") > 0)
  }

  /** The merged (g, v, m) multiplicity rows of the TOUCHED groups
    * after a dim-move delta transfers each moved key's (v, m) vector
    * between its old and new group — the one block of move algebra
    * shared by the one-shot folds' cd re-derivation AND the q211
    * streaming roll-forward (write these back over the touched
    * groups' sidecar rows). Phantom moves raise. */
  private[graft] def movedGroupMultRows(gmult: DataFrame,
      keyMult: DataFrame, delta: DataFrame, touched: DataFrame,
      d: String): DataFrame = {
    val mContrib = keyMult
      .join(broadcast(delta), Seq("key"))
      .select(explode(array(
        struct(col("g_old").as("g"), col("v"), (-col("m")).as("dm")),
        struct(col("g_new").as("g"), col("v"), col("m").as("dm"))))
        .as("c"))
      .select(col("c.*"))
      .filter(col("g").isNotNull)
      .groupBy(col("g"), col("v")).agg(sum(col("dm")).as("dm"))
    val m2 = coalesce(col("m"), lit(0L)) + coalesce(col("dm"), lit(0L))
    gmult
      .join(broadcast(touched), Seq("g"), "left_semi")
      .join(mContrib, Seq("g", "v"), "full_outer")
      .select(col("g"), col("v"),
        when(m2 >= 0, m2).otherwise(raise_error(concat(
          lit(s"MultiIvm: negative multiplicity for $d under a move, g="),
          col("g").cast("string"))).cast("long")).as("m"))
      .filter(col("m") > 0)
  }

  // ── q209/q212: min/max in the multi-measure algebra ─────────────────
  // The round-11 view carries only group-element measures (count,
  // sums, split squares) plus the sidecar-backed count-distinct;
  // min/max were q180/q201's single-measure specialty, so a view
  // wanting avg AND max meant two views. This closes it: the FULL
  // view carries per-measure (mn_m, mx_m) maintained by exactly the
  // two re-derivation recipes the repo already proved out —
  //  - fact deltas (q209): groups that LOST a value re-derive
  //    min/max over the surviving facts of the touched keys, read off
  //    a key-bucketed fact sidecar (q180's recipe, all measures in
  //    one pass); insert-only groups extend monoid-wise.
  //  - dimension moves (q212): touched groups re-derive min/max over
  //    their member KEYS' per-key partials under the post-move
  //    mapping (q201's recipe) — the fact table is never in the plan.
  // Everything else (sums, squares, multiplicity vectors) keeps the
  // signed-addition / wholesale-transfer algebra unchanged.

  // ── q217/q219: top-k-per-group in the maintained view ───────────────
  // min/max are the k=1 degenerate of the ordered non-monoid a real
  // dashboard serves: the maintained LEADERBOARD (top-k facts per
  // group by a measure). The algebra is exactly the min/max one's:
  //  - top-k IS a merge monoid under inserts — topk(A ∪ B) =
  //    topk(topk(A) ∪ topk(B)) — so insert-only groups extend by an
  //    array merge, never a re-scan;
  //  - retraction is not invertible (the evicted (k+1)-th is gone),
  //    so retraction-touched groups re-derive over the surviving
  //    facts of the touched keys off the key-bucketed fact sidecar
  //    (q180/q209's recipe, a windowed top-k so per-task state stays
  //    O(k));
  //  - dimension moves never read facts: a group's top-k is the merge
  //    of its member KEYS' per-key top-k arrays (any fact in the
  //    group's top-k is a fortiori in its own key's), so touched
  //    groups re-merge member arrays under the post-move mapping —
  //    q206's wholesale-transfer argument at the per-key level.
  // Representation: `tk_m` = array<struct<v, fkey>> sorted by
  // (v desc, fkey asc), length ≤ k — canonical, so results are
  // deterministic and hash-comparable against a row_number oracle.

  private def tkCmp(l: Column, r: Column): Column =
    when(l.getField("v") > r.getField("v"), -1)
      .when(l.getField("v") < r.getField("v"), 1)
      .when(l.getField("fkey") < r.getField("fkey"), -1)
      .when(l.getField("fkey") > r.getField("fkey"), 1)
      .otherwise(0)
  private def tkSort(a: Column, k: Int): Column =
    slice(array_sort(a, tkCmp), 1, k)
  private val TkEmpty = "array<struct<v: bigint, fkey: bigint>>"
  private def tkMerge(a: Column, b: Column, k: Int): Column =
    tkSort(concat(coalesce(a, array().cast(TkEmpty)),
      coalesce(b, array().cast(TkEmpty))), k)

  /** Per-key top-k of `facts` for measure m: row_number over the
    * key partition keeps per-task state O(k) before the array
    * collapses — never collect-then-sort a whole group. */
  private def topkOf(facts: DataFrame, m: String, k: Int,
      out: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col(m).desc, col("fkey"))
    facts.select(col("key"), col(m), col("fkey"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col("key"))
      .agg(collect_list(struct(col(m).cast("long").as("v"),
        col("fkey").cast("long").as("fkey"))).as("__a"))
      .select(col("key"), tkSort(col("__a"), k).as(out))
  }

  /** The FULL view's column list: [[viewColumns]] plus per-measure
    * min/max, plus one `tk_m` leaderboard column per declared
    * (measure, k) pair, plus one `hs_d` HLL sketch column per
    * declared mergeable-sketch distinct (q218). */
  def viewColumnsFull(measures: Seq[String], distincts: Seq[String],
      topks: Seq[(String, Int)] = Nil,
      hlls: Seq[String] = Nil): Seq[String] =
    "key" +: "n" +:
      (measures.flatMap(m =>
        Seq(s"s_$m", s"ssh_$m", s"ssl_$m", s"mn_$m", s"mx_$m")) ++
        distincts.map(d => s"cd_$d") ++
        topks.map { case (m, _) => s"tk_$m" } ++
        hlls.map(d => s"hs_$d"))

  /** [[multiPartials]] plus per-measure min/max. */
  def multiPartialsFull(facts: DataFrame, measures: Seq[String],
      distincts: Seq[String]): DataFrame = {
    val aggs =
      (count(lit(1)).as("n") +:
        measures.flatMap(m => Seq(
          sum(col(m)).as(s"s_$m"),
          sum(sqHi(col(m))).as(s"ssh_$m"),
          sum(sqLo(col(m))).as(s"ssl_$m"),
          min(col(m)).as(s"mn_$m"),
          max(col(m)).as(s"mx_$m")))) ++
        distincts.map(d => count_distinct(col(d)).as(s"cd_$d"))
    facts.groupBy(col("key")).agg(aggs.head, aggs.tail: _*)
  }

  /** [[buildMultiView]] for the FULL algebra: the min/max-carrying
    * view, the multiplicity sidecars, AND a key-bucketed FACT sidecar
    * (`${table}_facts`) — the retraction re-derivation's zero-exchange
    * read, exactly [[Ivm.buildFactIndex]]'s role for q180. */
  def buildMultiViewFull(facts: DataFrame, measures: Seq[String],
      distincts: Seq[String], table: String, buckets: Int = 8,
      topks: Seq[(String, Int)] = Nil, hlls: Seq[String] = Nil): Unit = {
    require(hlls.forall(distincts.contains),
      s"every hll column needs the multiplicity sidecar of a declared " +
        s"distinct (retraction rebuilds from it): $hlls vs $distincts")
    State.dropTables(facts.sparkSession, table)
    val withTk = topks.foldLeft(multiPartialsFull(facts, measures, distincts)) {
      case (acc, (m, k)) => acc.join(topkOf(facts, m, k, s"tk_$m"), "key")
    }
    hlls.foldLeft(withTk) { (acc, d) =>
        acc.join(facts.groupBy(col("key"))
          .agg(hll_sketch_agg(col(d)).as(s"hs_$d")), "key")
      }
      .select(viewColumnsFull(measures, distincts, topks, hlls).map(col): _*)
      .repartition(buckets, col("key"))
      .write.bucketBy(buckets, "key").sortBy("key").saveAsTable(table)
    distincts.foreach { d =>
      val mt = s"${table}_mult_$d"
      State.dropTables(facts.sparkSession, mt)
      facts.groupBy(col("key"), col(d).as("v"))
        .agg(count(lit(1)).as("m"))
        .repartition(buckets, col("key"))
        .write.bucketBy(buckets, "key").sortBy("key", "v").saveAsTable(mt)
    }
    val ft = s"${table}_facts"
    State.dropTables(facts.sparkSession, ft)
    // the fact sidecar is read by EVERY retraction fold (touched-group
    // re-derivation) — pre-partitioning matters most here (was 255
    // files for 8 buckets at sf0.001, one scan task per file per fold)
    facts.repartition(buckets, col("key"))
      .write.bucketBy(buckets, "key").sortBy("key", "fkey")
      .saveAsTable(ft)
  }

  /** [[mergeMultiDelta]] for the FULL view — same delta contract,
    * returns the updated (key, n, s_*, ssh_*, ssl_*, mn_*, mx_*,
    * cd_*) view over the surviving facts. */
  def mergeMultiDeltaFull(delta: DataFrame, measures: Seq[String],
      distincts: Seq[String], table: String,
      topks: Seq[(String, Int)] = Nil,
      hlls: Seq[String] = Nil): DataFrame = {
    val spark = delta.sparkSession
    // delta materialized once — see mergeMultiDelta; the full fold has
    // even more branches (min/max + top-k re-derivations, HLL rebuild)
    mergeMultiDeltaFullFrames(delta.localCheckpoint(true), measures,
      distincts, spark.table(table),
      distincts.map(d => d -> spark.table(s"${table}_mult_$d")).toMap,
      spark.table(s"${table}_facts"), topks, hlls)
  }

  /** Frame-level core of [[mergeMultiDeltaFull]]. `facts` holds the
    * PRE-delta fact rows `(fkey, key, measures..., distincts...)`. */
  def mergeMultiDeltaFullFrames(delta: DataFrame, measures: Seq[String],
      distincts: Seq[String], view: DataFrame,
      mults: Map[String, DataFrame], facts: DataFrame,
      topks: Seq[(String, Int)] = Nil,
      hlls: Seq[String] = Nil): DataFrame = {
    val expect = DeltaMeta ++
      (measures ++ distincts).flatMap(c => Seq(s"old_$c", s"new_$c"))
    require(delta.columns.sameElements(expect),
      s"delta must be $expect: ${delta.columns.toSeq}")
    require(hlls.forall(distincts.contains),
      s"every hll column needs a declared distinct's sidecar: $hlls")
    require(view.columns.sameElements(
      viewColumnsFull(measures, distincts, topks, hlls)),
      s"view must be ${viewColumnsFull(measures, distincts, topks, hlls)}: " +
        s"${view.columns.toSeq}")
    val retracts = delta.filter(col("change").isin("D", "U"))
    val adds = delta.filter(col("change").isin("I", "U"))
    // signed additive contributions — unchanged from the base algebra
    val sgnCols = measures.flatMap { m =>
      Seq((-col(s"old_$m")).as(s"c_s_$m"),
        (-sqHi(col(s"old_$m"))).as(s"c_ssh_$m"),
        (-sqLo(col(s"old_$m"))).as(s"c_ssl_$m"))
    }
    val addCols = measures.flatMap { m =>
      Seq(col(s"new_$m").as(s"c_s_$m"),
        sqHi(col(s"new_$m")).as(s"c_ssh_$m"),
        sqLo(col(s"new_$m")).as(s"c_ssl_$m"))
    }
    val dns = retracts
      .select(col("key_old").as("key") +: lit(-1L).as("c_n") +: sgnCols: _*)
      .unionByName(adds
        .select(col("key_new").as("key") +: lit(1L).as("c_n") +: addCols: _*))
      .groupBy(col("key"))
      .agg(sum(col("c_n")).as("dn"),
        measures.flatMap(m => Seq(
          sum(col(s"c_s_$m")).as(s"ds_$m"),
          sum(col(s"c_ssh_$m")).as(s"dssh_$m"),
          sum(col(s"c_ssl_$m")).as(s"dssl_$m"))): _*)
    val cdNews = distincts.map { d =>
      updatedMultiplicities(delta, mults(d), d)
        .groupBy(col("key")).agg(count(lit(1)).as(s"__cd_$d"))
    }
    // HLL sketches rebuild for touched keys from the SAME surviving
    // value set the exact count reads — the sidecar holds each live
    // value once, and HLL is duplicate-insensitive, so the rebuilt
    // register state equals a from-scratch sketch of the surviving
    // facts; untouched keys keep their bytes (q218)
    val hsNews = hlls.map { d =>
      updatedMultiplicities(delta, mults(d), d)
        .groupBy(col("key")).agg(hll_sketch_agg(col("v")).as(s"__hs_$d"))
    }
    // min/max re-derivation for groups that LOST a value (q180's
    // recipe, all measures in one pass): surviving base facts of the
    // touched keys off the bucketed sidecar (broadcast semi + anti —
    // no exchange on the persisted side), merged monoid-wise with the
    // delta rows landing there
    val touched = retracts.select(col("key_old").as("key")).distinct()
    val removed = retracts.select(col("fkey")).distinct()
    val survBase = facts
      .join(broadcast(touched), Seq("key"), "left_semi")
      .join(broadcast(removed), Seq("fkey"), "left_anti")
      .groupBy(col("key"))
      .agg(min(col(measures.head)).as(s"bmn_${measures.head}"),
        (max(col(measures.head)).as(s"bmx_${measures.head}") +:
          measures.tail.flatMap(m => Seq(
            min(col(m)).as(s"bmn_$m"), max(col(m)).as(s"bmx_$m")))): _*)
    val survNew = adds
      .join(broadcast(touched), adds("key_new") === touched("key"),
        "left_semi")
      .groupBy(col("key_new").as("key"))
      .agg(min(col(s"new_${measures.head}")).as(s"nmn_${measures.head}"),
        (max(col(s"new_${measures.head}")).as(s"nmx_${measures.head}") +:
          measures.tail.flatMap(m => Seq(
            min(col(s"new_$m")).as(s"nmn_$m"),
            max(col(s"new_$m")).as(s"nmx_$m")))): _*)
    val reagg = survBase.as("b").hint("merge")
      .join(survNew.as("nw"), Seq("key"), "full_outer")
      .select(col("key") +: lit(true).as("__re") +:
        measures.flatMap(m => Seq(
          least(col(s"bmn_$m"), col(s"nmn_$m")).as(s"rmn_$m"),
          greatest(col(s"bmx_$m"), col(s"nmx_$m")).as(s"rmx_$m"))): _*)
    // monoid extension for groups touched only by inserts
    val insExt = adds.groupBy(col("key_new").as("key"))
      .agg(min(col(s"new_${measures.head}")).as(s"imn_${measures.head}"),
        (max(col(s"new_${measures.head}")).as(s"imx_${measures.head}") +:
          measures.tail.flatMap(m => Seq(
            min(col(s"new_$m")).as(s"imn_$m"),
            max(col(s"new_$m")).as(s"imx_$m")))): _*)
    // leaderboard deltas: the re-derived top-k over touched keys'
    // surviving sidecar rows, and the adds' own top-k (which doubles
    // as the monoid extension for insert-only groups) — both
    // delta-bounded, both O(k) per task through the window
    val tkFrames = topks.map { case (m, k) =>
      val rtk = topkOf(facts
        .join(broadcast(touched), Seq("key"), "left_semi")
        .join(broadcast(removed), Seq("fkey"), "left_anti"),
        m, k, s"__rtk_$m")
      val itk = topkOf(adds.select(col("key_new").as("key"),
        col(s"new_$m").as(m), col("fkey")), m, k, s"__itk_$m")
      (rtk, itk)
    }
    val n2 = coalesce(col("v.n"), lit(0L)) + coalesce(col("dn"), lit(0L))
    val joined = hsNews.foldLeft(tkFrames.foldLeft(cdNews.foldLeft(
      view.as("v").hint("merge").join(dns.as("d"), Seq("key"), "full_outer")
        .join(insExt.as("i"), Seq("key"), "left")
        .join(reagg.as("r"), Seq("key"), "left")) {
      (acc, cdn) => acc.join(cdn, Seq("key"), "left")
    }) { case (acc, (rtk, itk)) =>
      acc.join(rtk, Seq("key"), "left").join(itk, Seq("key"), "left")
    }) { (acc, hsn) => acc.join(hsn, Seq("key"), "left") }
    val outCols =
      when(n2 >= 0, n2).otherwise(raise_error(concat(
        lit("MultiIvm: negative count — delta retracts a fact the view "
          + "never held, key="), col("key").cast("string")))
        .cast("long")).as("n") +:
      (measures.flatMap(m => Seq(
        (coalesce(col(s"v.s_$m"), lit(0L)) +
          coalesce(col(s"ds_$m"), lit(0L))).as(s"s_$m"),
        (coalesce(col(s"v.ssh_$m"), lit(0L)) +
          coalesce(col(s"dssh_$m"), lit(0L))).as(s"ssh_$m"),
        (coalesce(col(s"v.ssl_$m"), lit(0L)) +
          coalesce(col(s"dssl_$m"), lit(0L))).as(s"ssl_$m"),
        when(col("__re") <=> lit(true), col(s"rmn_$m"))
          .otherwise(least(col(s"v.mn_$m"), col(s"imn_$m"))).as(s"mn_$m"),
        when(col("__re") <=> lit(true), col(s"rmx_$m"))
          .otherwise(greatest(col(s"v.mx_$m"), col(s"imx_$m"))).as(s"mx_$m")))
        ++ distincts.map(d =>
          coalesce(col(s"__cd_$d"), col(s"v.cd_$d")).as(s"cd_$d"))
        ++ topks.map { case (m, k) =>
          // untouched rows pass their array through untouched; only
          // re-derived or insert-extended groups pay the k-merge
          when(col("__re") <=> lit(true),
            tkMerge(col(s"__rtk_$m"), col(s"__itk_$m"), k))
            .when(col(s"__itk_$m").isNotNull,
              tkMerge(col(s"v.tk_$m"), col(s"__itk_$m"), k))
            .otherwise(col(s"v.tk_$m")).as(s"tk_$m")
        }
        ++ hlls.map(d =>
          coalesce(col(s"__hs_$d"), col(s"v.hs_$d")).as(s"hs_$d")))
    joined.select(col("key") +: outCols: _*).filter(col("n") > 0)
  }

  /** [[mergeMultiDimMove]] for the FULL group view: additive partials
    * and multiplicity vectors transfer exactly as before; per-measure
    * min/max re-derive for TOUCHED groups over their member keys'
    * per-key partials under `mapping` (the post-move (key, g)
    * assignment — q201's recipe). The fact table is never read. */
  def mergeMultiDimMoveFull(view: DataFrame,
      groupMults: Map[String, DataFrame], perKeyTable: String,
      mapping: DataFrame, delta: DataFrame, measures: Seq[String],
      distincts: Seq[String],
      topks: Seq[(String, Int)] = Nil,
      hlls: Seq[String] = Nil): DataFrame = {
    val spark = delta.sparkSession
    require(delta.columns.sameElements(Seq("key", "g_old", "g_new")),
      s"delta must be (key, g_old, g_new): ${delta.columns.toSeq}")
    require(mapping.columns.sameElements(Seq("key", "g")),
      s"mapping must be (key, g): ${mapping.columns.toSeq}")
    val viewCols =
      "g" +: viewColumnsFull(measures, distincts, topks, hlls).drop(1)
    require(view.columns.sameElements(viewCols),
      s"view must be $viewCols: ${view.columns.toSeq}")
    val perKey = spark.table(perKeyTable)
    def side(g: Column, sgn: Column) = struct(
      g.as("g") +: (sgn * col("n")).as("dn") +:
        measures.flatMap(m => Seq((sgn * col(s"s_$m")).as(s"ds_$m"),
          (sgn * col(s"ssh_$m")).as(s"dssh_$m"),
          (sgn * col(s"ssl_$m")).as(s"dssl_$m"))): _*)
    val contrib = perKey
      .join(broadcast(delta), Seq("key"))
      .select(explode(array(side(col("g_old"), lit(-1L)),
        side(col("g_new"), lit(1L)))).as("c"))
      .select(col("c.*"))
      .filter(col("g").isNotNull)
      .groupBy(col("g"))
      .agg(sum(col("dn")).as("dn"),
        measures.flatMap(m => Seq(
          sum(col(s"ds_$m")).as(s"ds_$m"),
          sum(col(s"dssh_$m")).as(s"dssh_$m"),
          sum(col(s"dssl_$m")).as(s"dssl_$m"))): _*)
    val touched = delta
      .select(explode(array(col("g_old"), col("g_new"))).as("g"))
      .filter(col("g").isNotNull).distinct()
    val cdNews = distincts.map { d =>
      movedGroupMultRows(groupMults(d),
          spark.table(s"${perKeyTable}_mult_$d"), delta, touched, d)
        .groupBy(col("g")).agg(count(lit(1)).as(s"__cd_$d"))
    }
    // min/max re-derivation: member keys' partials ⋈ post-move
    // membership, restricted to touched groups BEFORE the agg —
    // |members-of-touched-groups| per-key rows, no fact rows anywhere
    val reagg = perKey
      .join(mapping, Seq("key"))
      .join(broadcast(touched), Seq("g"), "left_semi")
      .groupBy(col("g"))
      .agg(lit(true).as("__re"),
        measures.flatMap(m => Seq(
          min(col(s"mn_$m")).as(s"rmn_$m"),
          max(col(s"mx_$m")).as(s"rmx_$m"))) ++
          // group top-k = merge of member keys' per-key arrays (any
          // group-top-k fact is a fortiori in its own key's top-k) —
          // |members|·k structs per touched group, no fact rows
          topks.map { case (m, k) =>
            tkSort(flatten(collect_list(col(s"tk_$m"))), k).as(s"rtk_$m")
          } ++
          // group sketch = HLL union of member keys' sketches — the
          // mergeability that makes the sketch a view measure
          hlls.map(d =>
            hll_union_agg(col(s"hs_$d")).as(s"rhs_$d")): _*)
    val n2 = coalesce(col("v.n"), lit(0L)) + coalesce(col("dn"), lit(0L))
    val joined = cdNews.foldLeft(
      view.as("v").join(contrib.as("d"), Seq("g"), "full_outer")
        .join(reagg.as("r"), Seq("g"), "left")) {
      (acc, cdn) => acc.join(cdn, Seq("g"), "left")
    }
    val outCols =
      when(n2 >= 0, n2).otherwise(raise_error(concat(
        lit("MultiIvm: negative count — move retracts more than the "
          + "group holds, g="), col("g").cast("string")))
        .cast("long")).as("n") +:
      (measures.flatMap(m => Seq(
        (coalesce(col(s"v.s_$m"), lit(0L)) +
          coalesce(col(s"ds_$m"), lit(0L))).as(s"s_$m"),
        (coalesce(col(s"v.ssh_$m"), lit(0L)) +
          coalesce(col(s"dssh_$m"), lit(0L))).as(s"ssh_$m"),
        (coalesce(col(s"v.ssl_$m"), lit(0L)) +
          coalesce(col(s"dssl_$m"), lit(0L))).as(s"ssl_$m"),
        when(col("__re") <=> lit(true), col(s"rmn_$m"))
          .otherwise(col(s"v.mn_$m")).as(s"mn_$m"),
        when(col("__re") <=> lit(true), col(s"rmx_$m"))
          .otherwise(col(s"v.mx_$m")).as(s"mx_$m"))) ++
        distincts.map(d =>
          coalesce(col(s"__cd_$d"), col(s"v.cd_$d")).as(s"cd_$d")) ++
        topks.map { case (m, _) =>
          when(col("__re") <=> lit(true), col(s"rtk_$m"))
            .otherwise(col(s"v.tk_$m")).as(s"tk_$m")
        } ++
        hlls.map(d =>
          when(col("__re") <=> lit(true), col(s"rhs_$d"))
            .otherwise(col(s"v.hs_$d")).as(s"hs_$d")))
    joined.select(col("g") +: outCols: _*).filter(col("n") > 0)
  }

  // ── q200 fixture: per-customer multi-measure order view ─────────────

  /** Orders as a multi-measure fact frame: cents (exact price),
    * units (a second sum measure, deterministic from the key so the
    * oracle replays it), priority (distinct-counted). */
  private[graft] def orderMultiFacts(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders.select($"o_orderkey".as("fkey"), $"o_custkey".as("key"),
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
      ($"o_orderkey" % 1000).cast("long").as("units"),
      $"o_orderpriority".as("prio"))
  }

  private val Measures = Seq("cents", "units")
  private val Distincts = Seq("prio")
  private[graft] val TopKs = Seq("cents" -> 3)

  /** q200's deterministic change set (the q180 residue recipe, widened
    * to carry every measure's old/new image and exercise the
    * multiplicity index): per fkey mod 97 —
    *  0 → 'D' delete;
    *  1 → 'U' reprice (+12345 cents) AND re-prioritize to
    *      '9-REPRICED' (retracts one multiplicity, adds a NEW value);
    *  2 → 'U' MOVE to key+1, payload unchanged (pure group transfer);
    *  3 → 'I' new fact at fkey+2³¹: cents+55, units+3, prio '0-NEW'. */
  private[graft] def orderMultiDelta(f: DataFrame): DataFrame = {
    // ONE pass with a CASE projection, not four union branches — the
    // Ivm.orderFactDeltaOf rationale: each branch was its own scan of
    // the fact frame, so the fold-entry checkpoint paid the scan 4×;
    // the row multiset is identical and every consumer aggregates
    val nl = lit(null).cast("long")
    val ns = lit(null).cast("string")
    val m = col("fkey") % 97
    f.filter(m.isin(0, 1, 2, 3))
      .select(
        when(m === 3, col("fkey") + 2147483648L).otherwise(col("fkey"))
          .as("fkey"),
        when(m === 0, "D").when(m === 3, "I").otherwise("U").as("change"),
        when(m === 3, nl).otherwise(col("key")).as("key_old"),
        when(m === 0, nl).when(m === 2, col("key") + 1L)
          .otherwise(col("key")).as("key_new"),
        when(m === 3, nl).otherwise(col("cents")).as("old_cents"),
        when(m === 0, nl).when(m === 1, col("cents") + 12345L)
          .when(m === 3, col("cents") + 55L).otherwise(col("cents"))
          .as("new_cents"),
        when(m === 3, nl).otherwise(col("units")).as("old_units"),
        when(m === 0, nl).when(m === 3, col("units") + 3L)
          .otherwise(col("units")).as("new_units"),
        when(m === 3, ns).otherwise(col("prio")).as("old_prio"),
        when(m === 0, ns).when(m === 1, lit("9-REPRICED"))
          .when(m === 3, lit("0-NEW")).otherwise(col("prio"))
          .as("new_prio"))
  }

  /** The memoized per-customer multi-measure state (view + multiplicity
    * sidecars) — shared read-only by q200 (fact deltas) and q206 (dim
    * moves), the same one-build-two-consumers shape as q195/q199. */
  private[graft] def ensureMultiView(t: Tables): String =
    State.ensure(t, "mivm", "orders") {
      buildMultiView(orderMultiFacts(t), Measures, Distincts, _)
    }

  /** q200: the per-customer view — count, total/avg/variance of price
    * (split exact moments), a second sum, and a count-distinct of
    * order priority — maintained under the I/D/U+move change set.
    * Base view and multiplicity sidecar build once (memoized); the
    * delta folds in at query time touching only its own groups' state.
    * Must hash-equal the oracle's from-scratch aggregate over the
    * surviving facts. Presented stats are each ONE fixed double chain
    * (avg = (s/100)/n, var = ((Σq² − s²/n)/n)/10⁴ in dollars²) the
    * oracle replays op for op. */
  def multiMeasureRollup(t: Tables): DataFrame = {
    import t.spark.implicits._
    val table = ensureMultiView(t)
    val merged = mergeMultiDelta(orderMultiDelta(orderMultiFacts(t)),
      Measures, Distincts, table)
    val nD = $"n".cast("double")
    val sD = $"s_cents".cast("double")
    val ssq = $"ssh_cents".cast("double") * lit(S.toDouble) +
      $"ssl_cents".cast("double")
    merged.select($"key".as("o_custkey"), $"n".as("n_orders"),
      (sD / 100.0).as("total_price"),
      ((sD / 100.0) / nD).as("avg_price"),
      (((ssq - sD * sD / nD) / nD) / 10000.0).as("var_price"),
      $"s_units".as("sum_units"),
      $"cd_prio".as("n_priorities"))
      .orderBy($"o_custkey")
  }

  /** The pre-move per-nation multi-measure view and group-level
    * multiplicities, derived off the persisted per-customer state
    * (shared with q200) — the q195 nationBaseView pattern. Group
    * count-distinct comes from the SUMMED multiplicity vectors, never
    * from per-key cd (distinct counts don't add). */
  private[graft] def nationMultiBase(t: Tables,
      perKeyTable: String): (DataFrame, DataFrame) = {
    import t.spark.implicits._
    val mapping = t.customer.select($"c_custkey".as("key"), $"c_nationkey")
      .join(broadcast(t.nation.select($"n_nationkey", $"n_name".as("g"))),
        $"c_nationkey" === $"n_nationkey")
      .select($"key", $"g")
    val perKey = t.spark.table(perKeyTable)
    val gmult = t.spark.table(s"${perKeyTable}_mult_prio")
      .join(broadcast(mapping), Seq("key"))
      .groupBy($"g", $"v").agg(sum($"m").as("m"))
    val cd = gmult.groupBy($"g").agg(count(lit(1)).as("cd_prio"))
    val view = perKey.join(broadcast(mapping), Seq("key"))
      .groupBy($"g")
      .agg(sum($"n").as("n"),
        sum($"s_cents").as("s_cents"), sum($"ssh_cents").as("ssh_cents"),
        sum($"ssl_cents").as("ssl_cents"),
        sum($"s_units").as("s_units"), sum($"ssh_units").as("ssh_units"),
        sum($"ssl_units").as("ssl_units"))
      .join(cd, Seq("g"))
      .select($"g", $"n", $"s_cents", $"ssh_cents", $"ssl_cents",
        $"s_units", $"ssh_units", $"ssl_units", $"cd_prio")
    (view, gmult)
  }

  /** q206: the per-nation multi-measure view maintained under q195's
    * customer-move delta — additive partials transfer by signed
    * addition, each mover's multiplicity VECTOR transfers wholesale
    * between the groups' sidecars, count-distinct re-derives for
    * touched nations only; the fact table is never read (spec-
    * asserted). Must hash-equal the oracle's post-move scratch
    * aggregate including the count-distinct. */
  def multiMeasureDimMove(t: Tables): DataFrame = {
    import t.spark.implicits._
    val perKeyTable = ensureMultiView(t)
    val (view, gmult) = nationMultiBase(t, perKeyTable)
    val merged = mergeMultiDimMove(view, Map("prio" -> gmult), perKeyTable,
      Ivm.nationMoveDelta(t), Measures, Distincts)
    val nD = $"n".cast("double")
    val sD = $"s_cents".cast("double")
    val ssq = $"ssh_cents".cast("double") * lit(S.toDouble) +
      $"ssl_cents".cast("double")
    merged.select($"g".as("n_name"), $"n".as("n_orders"),
      (sD / 100.0).as("total_price"),
      ((sD / 100.0) / nD).as("avg_price"),
      (((ssq - sD * sD / nD) / nD) / 10000.0).as("var_price"),
      $"s_units".as("sum_units"),
      $"cd_prio".as("n_priorities"))
      .orderBy($"n_name")
  }

  // ── q209/q212 fixtures: the FULL per-customer state ──────────────────

  /** The memoized FULL per-customer state (min/max view + multiplicity
    * sidecars + bucketed fact sidecar) — shared by q209 (fact deltas)
    * and q212 (dim moves), the q200/q206 one-build-two-consumers
    * shape lifted to the full algebra. */
  private[graft] def ensureMultiViewFull(t: Tables): String =
    State.ensure(t, "mivmf", "orders") {
      buildMultiViewFull(orderMultiFacts(t), Measures, Distincts, _, topks = TopKs)
    }

  /** q209: q200's maintenance carrying min/max too — ONE view now
    * holds count, exact total/avg/variance, a second sum, the
    * count-distinct, AND per-measure min/max, under the same
    * I/D/U+move change set. The retraction-touched groups' min/max
    * re-derive off the bucketed fact sidecar; everything else keeps
    * the signed algebra. Must hash-equal the oracle's from-scratch
    * aggregate over the surviving facts, min/max included. */
  def multiMeasureRollupFull(t: Tables): DataFrame = {
    import t.spark.implicits._
    val table = ensureMultiViewFull(t)
    val merged = mergeMultiDeltaFull(orderMultiDelta(orderMultiFacts(t)),
      Measures, Distincts, table, TopKs)
    val nD = $"n".cast("double")
    val sD = $"s_cents".cast("double")
    val ssq = $"ssh_cents".cast("double") * lit(S.toDouble) +
      $"ssl_cents".cast("double")
    merged.select($"key".as("o_custkey"), $"n".as("n_orders"),
      (sD / 100.0).as("total_price"),
      ((sD / 100.0) / nD).as("avg_price"),
      (((ssq - sD * sD / nD) / nD) / 10000.0).as("var_price"),
      ($"mn_cents".cast("double") / 100.0).as("min_price"),
      ($"mx_cents".cast("double") / 100.0).as("max_price"),
      $"s_units".as("sum_units"),
      $"mx_units".as("max_units"),
      $"cd_prio".as("n_priorities"))
      .orderBy($"o_custkey")
  }

  /** The pre-move per-nation FULL view (min/max from member keys'
    * partials — group min = min over member mins) and group-level
    * multiplicities, off the persisted FULL per-customer state. */
  private[graft] def nationMultiBaseFull(t: Tables, perKeyTable: String,
      topks: Seq[(String, Int)] = Nil): (DataFrame, DataFrame) = {
    import t.spark.implicits._
    val mapping = t.customer.select($"c_custkey".as("key"), $"c_nationkey")
      .join(broadcast(t.nation.select($"n_nationkey", $"n_name".as("g"))),
        $"c_nationkey" === $"n_nationkey")
      .select($"key", $"g")
    val perKey = t.spark.table(perKeyTable)
    val gmult = t.spark.table(s"${perKeyTable}_mult_prio")
      .join(broadcast(mapping), Seq("key"))
      .groupBy($"g", $"v").agg(sum($"m").as("m"))
    val cd = gmult.groupBy($"g").agg(count(lit(1)).as("cd_prio"))
    val view = perKey.join(broadcast(mapping), Seq("key"))
      .groupBy($"g")
      .agg(sum($"n").as("n"),
        Seq(sum($"s_cents").as("s_cents"), sum($"ssh_cents").as("ssh_cents"),
          sum($"ssl_cents").as("ssl_cents"),
          min($"mn_cents").as("mn_cents"), max($"mx_cents").as("mx_cents"),
          sum($"s_units").as("s_units"), sum($"ssh_units").as("ssh_units"),
          sum($"ssl_units").as("ssl_units"),
          min($"mn_units").as("mn_units"), max($"mx_units").as("mx_units")) ++
          topks.map { case (m, k) =>
            tkSort(flatten(collect_list(col(s"tk_$m"))), k).as(s"tk_$m")
          }: _*)
      .join(cd, Seq("g"))
      .select(col("g") +: col("n") +:
        (Seq("s_cents", "ssh_cents", "ssl_cents", "mn_cents", "mx_cents",
          "s_units", "ssh_units", "ssl_units", "mn_units", "mx_units",
          "cd_prio").map(col) ++
          topks.map { case (m, _) => col(s"tk_$m") }): _*)
    (view, gmult)
  }

  /** q212: q206's customer-move maintenance on the FULL view —
    * additive partials and multiplicity vectors transfer exactly as
    * q206, min/max re-derive for touched nations over member-customer
    * partials under the post-move mapping (derived from the move
    * delta itself, [[Ivm.postMoveMapping]]). The fact table is never
    * read (spec-asserted). Must hash-equal the oracle's post-move
    * scratch rollup including min/max. */
  def multiMeasureDimMoveFull(t: Tables): DataFrame = {
    import t.spark.implicits._
    val perKeyTable = ensureMultiViewFull(t)
    val (view, gmult) = nationMultiBaseFull(t, perKeyTable)
    val moved = Ivm.nationMoveDelta(t)
    val merged = mergeMultiDimMoveFull(view, Map("prio" -> gmult),
      perKeyTable, Ivm.postMoveMapping(t, moved), moved, Measures, Distincts)
    val nD = $"n".cast("double")
    val sD = $"s_cents".cast("double")
    val ssq = $"ssh_cents".cast("double") * lit(S.toDouble) +
      $"ssl_cents".cast("double")
    merged.select($"g".as("n_name"), $"n".as("n_orders"),
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

  // ── q217/q219 fixtures: the maintained per-customer leaderboard ─────

  /** q217: the per-customer top-3-orders-by-price leaderboard
    * maintained under q209's I/D/U+move change set — retraction-
    * touched customers re-derive off the bucketed fact sidecar,
    * insert-only customers extend by the array-merge monoid, untouched
    * rows pass through. Emitted one row per (customer, rank); must
    * hash-equal the oracle's row_number-filtered top-k over the
    * surviving facts. */
  def topkRollup(t: Tables): DataFrame = {
    import t.spark.implicits._
    val table = ensureMultiViewFull(t)
    val merged = mergeMultiDeltaFull(orderMultiDelta(orderMultiFacts(t)),
      Measures, Distincts, table, TopKs)
    merged.select($"key", posexplode($"tk_cents"))
      .select($"key".as("o_custkey"), ($"pos" + 1).cast("long").as("rk"),
        $"col.fkey".as("o_orderkey"),
        ($"col.v".cast("double") / 100.0).as("price"))
      .orderBy($"o_custkey", $"rk")
  }

  /** q219: the per-nation top-3 leaderboard maintained under q212's
    * customer-move delta — touched nations re-merge their member
    * customers' per-key arrays under the post-move mapping (the fact
    * table is never read, spec-asserted); untouched nations pass
    * through. Must hash-equal the oracle's post-move scratch top-k. */
  def topkDimMove(t: Tables): DataFrame = {
    import t.spark.implicits._
    val perKeyTable = ensureMultiViewFull(t)
    val (view, gmult) = nationMultiBaseFull(t, perKeyTable, TopKs)
    val moved = Ivm.nationMoveDelta(t)
    val merged = mergeMultiDimMoveFull(view, Map("prio" -> gmult),
      perKeyTable, Ivm.postMoveMapping(t, moved), moved, Measures,
      Distincts, TopKs)
    merged.select($"g", posexplode($"tk_cents"))
      .select($"g".as("n_name"), ($"pos" + 1).cast("long").as("rk"),
        $"col.fkey".as("o_orderkey"),
        ($"col.v".cast("double") / 100.0).as("price"))
      .orderBy($"n_name", $"rk")
  }

  // ── q218 fixture: HLL sketch as a maintained view measure ───────────
  // The exact count-distinct sidecar is O(distinct values per key); a
  // 100 TB view with a high-cardinality distinct (users per URL) wants
  // a MERGEABLE sketch column instead. `hs_d` is an Apache DataSketches
  // HLL (Spark's hll_sketch_agg): inserts and dimension moves merge
  // sketches (hll_union_agg over member keys — no re-scan); retraction
  // rebuilds touched keys' sketches from the multiplicity sidecar's
  // surviving value set (duplicate-insensitivity makes that equal a
  // from-scratch sketch of the surviving facts). The driver-visible
  // gate is q109's relative-error contract per group.

  /** Orders bucketed into 25 coarse groups so per-group cardinality is
    * high enough to exercise estimation, with the whole-dollar price
    * as the sketched distinct (`pval` = cents div 100 — exactly
    * replayable in the oracle). */
  private[graft] def orderHllFacts(t: Tables): DataFrame = {
    import t.spark.implicits._
    val cents = floor($"o_totalprice" * 100 + 0.5).cast("long")
    t.orders.select($"o_orderkey".as("fkey"),
      ($"o_custkey" % 25).as("key"), cents.as("cents"),
      (cents / 100).cast("long").as("pval"))
  }

  private val HMs = Seq("cents")
  private val HDs = Seq("pval")
  private val HHs = Seq("pval")

  /** q209's residue recipe on the HLL fixture: D, reprice-U (whose
    * pval moves with the price), group-move-U, and I. */
  private[graft] def orderHllDelta(f: DataFrame): DataFrame = {
    val nl = lit(null).cast("long")
    f.filter(col("fkey") % 97 === 0)
      .select(col("fkey"), lit("D").as("change"), col("key").as("key_old"),
        nl.as("key_new"), col("cents").as("old_cents"), nl.as("new_cents"),
        col("pval").as("old_pval"), nl.as("new_pval"))
      .unionByName(f.filter(col("fkey") % 97 === 1)
        .select(col("fkey"), lit("U").as("change"), col("key").as("key_old"),
          col("key").as("key_new"), col("cents").as("old_cents"),
          (col("cents") + 12345L).as("new_cents"),
          col("pval").as("old_pval"),
          ((col("cents") + 12345L) / 100).cast("long").as("new_pval")))
      .unionByName(f.filter(col("fkey") % 97 === 2)
        .select(col("fkey"), lit("U").as("change"), col("key").as("key_old"),
          (col("key") + 1L).as("key_new"), col("cents").as("old_cents"),
          col("cents").as("new_cents"), col("pval").as("old_pval"),
          col("pval").as("new_pval")))
      .unionByName(f.filter(col("fkey") % 97 === 3)
        .select((col("fkey") + 2147483648L).as("fkey"), lit("I").as("change"),
          nl.as("key_old"), col("key").as("key_new"), nl.as("old_cents"),
          (col("cents") + 55L).as("new_cents"), nl.as("old_pval"),
          ((col("cents") + 55L) / 100).cast("long").as("new_pval")))
  }

  private[graft] def ensureHllView(t: Tables): String =
    State.ensure(t, "mivmh", "orders") {
      buildMultiViewFull(orderHllFacts(t), HMs, HDs, _, hlls = HHs)
    }

  /** q218: the maintained sketch's estimate must stay within
    * `maxRelErr` of the maintained EXACT count after the I/D/U+move
    * fold — the estimate is engine-specific, so the oracle checks the
    * exact count and the contract flag (q109's shape). HLL register
    * state is order-insensitive, so the flags are deterministic. */
  def hllRollupGate(t: Tables, maxRelErr: Double = 0.05): DataFrame = {
    import t.spark.implicits._
    val table = ensureHllView(t)
    val merged = mergeMultiDeltaFull(orderHllDelta(orderHllFacts(t)),
      HMs, HDs, table, hlls = HHs)
    merged.select($"key",
      $"cd_pval".as("n_pvals"),
      (abs(hll_sketch_estimate($"hs_pval") - $"cd_pval") /
        $"cd_pval" <= maxRelErr).as("meets_bound"))
      .orderBy($"key")
  }
}
