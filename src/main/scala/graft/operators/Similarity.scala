package graft.operators

import graft.{State, Tables}
import graft.functions.SimilarityFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>[64]`).
  *
  * Brute-force cosine is the correctness baseline: a broadcast of Q
  * query vectors against N candidates is an O(N·Q) scan with no
  * shuffle until the final top-k, which aggregates only k rows per
  * query. At cluster scale the same plan holds — the candidate side
  * stays partition-local, queries are broadcast, and the ranking
  * window sees Q·k rows. The sub-linear scale path is LSH bucketing
  * (Dedup.scala uses the same machinery for MinHash).
  */
object Similarity {

  private val QueryCount = 5

  /** All (query, candidate) cosine pairs for query vectors
    * vec_id < QueryCount. Exact double fold — oracle-checkable.
    * Norms are hoisted out of the Q×N pair loop (bit-identical, see
    * Dedup.embeddingNearDups). */
  def cosinePairs(t: Tables): DataFrame = {
    import t.spark.implicits._
    val withNorm = t.embeddings
      .select($"vec_id", $"embedding", l2NormNative($"embedding").as("nrm"))
    val q = withNorm.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    withNorm
      .join(broadcast(q), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        factoredCosine(dotNative($"q_emb", $"embedding"), $"q_nrm", $"nrm").as("cos_sim"))
      .orderBy($"q_id", $"vec_id")
  }

  /** Brute-force top-10 nearest neighbours per query by cosine.
    * Ranking key is (exact cosine desc, vec_id) — fully deterministic. */
  def knnBruteForce(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
    cosinePairs(t)
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .orderBy($"q_id", $"rank")
  }

  /** q127: int8 scalar-quantized kNN vs the exact float path — the
    * memory-bandwidth lever production vector search pulls first: a
    * symmetric per-vector int8 code is 4× smaller than float32 (8×
    * smaller than the widened doubles), so 4× more corpus fits in
    * cache/RAM per scan, and the inner loop is integer
    * multiply-accumulate. This is the correctness contract for that
    * trade: top-`k` by quantized cosine vs top-`k` by exact cosine,
    * per query — overlap (`n_hits`), recall, and a `minHits` gate.
    *
    * Everything is engine-portable arithmetic, so the oracle replays
    * BOTH rankings and the answer is a full hash check, not a
    * rows-only gate: float→double widening is exact; scale = max|x|/127
    * and x/scale are single correctly-rounded ops; `round` is
    * half-away-from-zero in both engines; the int8 dot is an exact
    * int64 sum; and the final cosine is the same fixed
    * divide-by-norm-product shape as q28. Ranking ties break on
    * vec_id in both paths. */
  /** Generic int8-quantized top-`k` (Graft facade entry): per-query
    * `(q_id, vec_id, rk, qcos)` over quantized codes, queries marked
    * by `probePred` over the id. See [[quantizedKnnGate]] for the
    * portability/exactness contract. */
  def quantizedTopKOver(
      df: DataFrame, idCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column,
      probePred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    def idot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)
    val q8 = df
      .select(idCol.as("vec_id"), transform(embCol, _.cast("double")).as("v"))
      .withColumn("sc", array_max(transform(col("v"), abs(_))) / lit(127.0))
      // all-zero vectors take code 0 everywhere (sc = 0 would divide
      // to NaN codes and a NaN qcos) — the embeddingNearDupsBanded
      // guard; a zero-norm side then scores qcos 0.0 (orthogonal)
      .select(col("vec_id"),
        transform(col("v"), x =>
          when(col("sc") === 0.0, lit(0L))
            .otherwise(round(x / col("sc"), 0).cast("long"))).as("qv"))
      .withColumn("qn", sqrt(idot(col("qv"), col("qv")).cast("double")))
    val probes = q8.filter(probePred(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("qn").as("q_qn"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("vec_id"))
    q8.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        when(col("q_qn") * col("qn") === 0.0, lit(0.0))
          .otherwise(idot(col("q_qv"), col("qv")).cast("double") /
            (col("q_qn") * col("qn"))).as("qcos"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= k)
  }

  def quantizedKnnGate(t: Tables, k: Int = 10, minHits: Int = 8): DataFrame = {
    import t.spark.implicits._
    val qTop = quantizedTopKOver(
      t.embeddings, $"vec_id", $"embedding", _ < QueryCount, k)
      .select($"q_id", $"vec_id")
    val we = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
    val exTop = cosinePairs(t)
      .withColumn("rk", row_number().over(we))
      .filter($"rk" <= k)
      .select($"q_id", $"vec_id")
    qTop.join(exTop, Seq("q_id", "vec_id"))
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_hits"))
      .select($"q_id", $"n_hits",
        ($"n_hits".cast("double") / lit(k.toDouble)).as("recall"),
        ($"n_hits" >= minHits).as("meets_bound"))
      .orderBy($"q_id")
  }

  /** Sub-linear scale path for nearest-neighbour search: multi-table
    * random-hyperplane LSH. `nTables` independent hash tables, each
    * bucketing vectors by the sign pattern of `nPlanes` seeded random
    * projections (an nPlanes-bit code); within each table the join
    * compares only same-bucket pairs, and a neighbour is found if ANY
    * table co-buckets it (OR-construction) — candidate count is
    * bucket occupancy × probes × tables. Occupancy is n/2^nPlanes,
    * so per-QUERY candidates grow linearly in the corpus at a fixed
    * plane count (the probe side is a bounded query set, so nothing
    * here is ever n² — contrast the all-pairs self-join lesson in
    * Dedup.adaptiveBandParams); for a sub-linear per-query scan at
    * much larger n, grow nPlanes as log2(n/occ) and re-derive
    * tables/probes from the recall bound, exactly the
    * adaptiveBandParams recipe. Multi-probe
    * (all buckets within Hamming distance `probeHamming` of the
    * query's own code, per table) adds the standard recall boost at
    * Σ C(nPlanes,h) extra probe rows per table — probe rows exist
    * only on the (tiny, broadcast) query side, so deeper probing
    * costs candidate comparisons, never another corpus pass.
    * Per-neighbour recall at plane-agreement probability p is
    * 1−(1−P₁)^L with P₁ = Σ_{h≤H} C(r,h)·p^(r−h)(1−p)^h — the OR
    * over tables is what keeps recall stable as the corpus grows,
    * where a single table's fixed probe budget decays. Probes are
    * the same 5 query vectors as the brute-force baseline so recall
    * is measurable (SimilaritySpec + the q101 driver gate).
    *
    * Fully deterministic (seeded planes) but the bucket space is
    * engine-specific → rows-only check; the q101 gate oracles the
    * recall CONTRACT instead.
    */
  def annLsh(t: Tables, nPlanes: Int = 6, nTables: Int = 8,
      probeHamming: Int = 2): DataFrame = {
    import t.spark.implicits._
    require(probeHamming >= 0 && probeHamming <= 2,
      s"probeHamming must be 0, 1 or 2, got $probeHamming")
    val dim = 64
    val rnd = new scala.util.Random(42)
    val planes: Array[Array[Array[Double]]] =
      Array.fill(nTables, nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
    // each plane projection is a native codegen'd dot (same double
    // fold as the HOF it replaces — bit-identical sign bits, one tight
    // loop per plane instead of interpreted lambdas over the corpus)
    def bucketOf(tbl: Int, emb: org.apache.spark.sql.Column) =
      (0 until nPlanes).map { i =>
        when(dotNative(array(planes(tbl)(i).map(lit).toIndexedSeq: _*), emb) >= 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    // one (table, bucket) row per vector per table — n·L narrow rows
    val tableKeys = array((0 until nTables).map(tb =>
      struct(lit(tb).as("tbl"), bucketOf(tb, $"embedding").as("bucket"))): _*)
    val bucketed = t.embeddings
      .select($"vec_id", $"embedding", explode(tableKeys).as("tk"))
    // probes: per table, every bucket within Hamming ≤ probeHamming of
    // the query's own code. The nTables sign codes are projected ONCE
    // (the `own` array below), then each probe key is a literal-mask
    // XOR on an array element — probe count never re-runs a plane dot
    val masks: IndexedSeq[Int] = {
      val m1 = (0 until nPlanes).map(1 << _)
      val m2 = for { i <- 0 until nPlanes; j <- i + 1 until nPlanes }
        yield (1 << i) | (1 << j)
      (Seq(0) ++ (if (probeHamming >= 1) m1 else Nil) ++
        (if (probeHamming >= 2) m2 else Nil)).toIndexedSeq
    }
    val ownCodes = t.embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        array((0 until nTables).map(tb => bucketOf(tb, $"embedding")): _*).as("own"))
    val probeKeys = array((for { tb <- 0 until nTables; m <- masks } yield
      struct(lit(tb).as("tbl"),
        element_at($"own", tb + 1).bitwiseXOR(lit(m)).as("bucket"))): _*)
    val probes = ownCodes
      .select($"q_id", $"q_emb", explode(probeKeys).as("tk"))
    val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
    bucketed.join(broadcast(probes), Seq("tk"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", cosine($"q_emb", $"embedding").as("cos_sim"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .orderBy($"q_id", $"rank")
  }

  /** IVF-style ANN: a seeded KMeans coarse quantizer partitions the
    * corpus into nList inverted lists; each query probes its nProbe
    * nearest centroids and ranks only those lists' vectors by exact
    * cosine.
    *
    * Two design points matter for recall on weakly-clustered
    * embeddings (the fixture corpus is near-uniform on the sphere —
    * exact top-10 cosines are only 0.24–0.42, so true neighbours sit
    * close to Voronoi boundaries):
    *
    *  - MULTI-ASSIGNMENT: each corpus vector is indexed under its
    *    `nAssign` nearest lists, not just the nearest — the IVF
    *    analogue of LSH's OR-construction. A boundary neighbour is
    *    found if ANY of its lists is probed; measured (AnnTune), this
    *    lifts mean recall@10 from 0.48–0.80 (single-assign, at any
    *    quantizer quality) to 0.94–0.98 at nAssign=3, nProbe=6.
    *    Index size is nAssign·n rows — still linear. Caveat, stated
    *    honestly: at these settings on THIS fixture the candidate
    *    fraction is nAssign·nProbe/nList ≈ 1 — near-uniform vectors
    *    with top-10 cosines of 0.3 are not locality-separable, so
    *    high recall costs a near-full scan here; on a clustered
    *    production corpus the same construction probes the few lists
    *    the neighbours concentrate in, and the fraction drops with
    *    nList. Tune (nList, nProbe, nAssign) per corpus; the recall
    *    gate (q102) is the regression tripwire for this fixture.
    *  - LITERAL-CENTROID PROJECTION: the fitted centroids are
    *    driver-side constants, so both assignment (top-nAssign) and
    *    probe selection (top-nProbe) are computed as a codegen'd
    *    sort of an nList-entry literal struct array — a pure
    *    projection, no shuffle, no crossJoin against a centroid
    *    table. The only shuffles in the whole operator are the
    *    bucket join and the final per-query top-k.
    *
    * The quantizer itself stays cheap (random init, 3 iterations):
    * IVF needs roughly-balanced lists, not converged clusters, and
    * with multi-assignment recall is insensitive to quantizer
    * quality (a CONVERGED single-assign quantizer measured WORSE —
    * 0.44 mean at sf0.01 vs 0.60 unconverged — because sharper cells
    * put more true neighbours across a boundary). Rows-only check
    * (cluster ids are engine-specific); recall vs brute force is
    * asserted in tests and gated driver-visibly by q102. */
  def annIvf(t: Tables, nList: Int = 16, nProbe: Int = 6,
      maxIter: Int = 3, initMode: String = "random",
      nAssign: Int = 3): DataFrame = {
    import org.apache.spark.ml.feature.{VectorAssembler => _}
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import t.spark.implicits._
    require(nAssign >= 1 && nAssign <= nList, s"nAssign must be in [1, $nList]")
    require(nProbe >= 1 && nProbe <= nList, s"nProbe must be in [1, $nList]")
    // localCheckpoint (not cache): consumed by the KMeans fit only;
    // blocks are context-cleaned when the returned plan is dropped,
    // instead of pinned for the session. The row count rides the
    // checkpoint's materialization via observe() (the
    // connectedComponents recipe) — no standalone count() job.
    val (vecs0, nVecs) = State.checkpointCounted(t.embeddings
      .select($"vec_id", $"embedding",
        array_to_vector(transform($"embedding", x => x.cast("double"))).as("features")),
      count(lit(1)))
    // fit parallelism from the fit-input size, not the scan layout
    // (the fitPq rule): ~16k rows/task keeps Lloyd-pass compute above
    // task overhead; the coalesce reads the checkpoint blocks, it
    // never recomputes the projection
    val fitParts = math.max(1L, math.min(
      t.spark.sparkContext.defaultParallelism.toLong,
      nVecs / 16384L + 1L)).toInt
    // NOTE: the fit's partition layout shifts k-means|| sampling and
    // float aggregation order, so centroids (and hence engine-internal
    // list assignments) are only stable for a FIXED layout — any
    // change to fitParts/coalesce here must re-run the recall gates
    // (q102/q135/q161 floors), which are the declared contract.
    val vecs = vecs0.coalesce(fitParts)
    val km = new KMeans().setK(nList).setSeed(42L).setMaxIter(maxIter)
      .setInitMode(initMode)
      .setFeaturesCol("features").setPredictionCol("ivf_list")
    val cents: Array[Array[Double]] = km.fit(vecs).clusterCenters.map(_.toArray)
    val cNorm: Array[Double] = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    // per-vector scores against every centroid, one literal-array
    // projection; rank by dot/|centroid| (the vector's own norm is
    // constant across lists, so dividing by it cannot change the
    // order). array_sort is ascending -> reverse for descending.
    def listScores(emb: org.apache.spark.sql.Column) =
      array((0 until nList).map { i =>
        struct((dotNative(array(cents(i).map(lit).toIndexedSeq: _*), emb) / cNorm(i))
          .as("s"), lit(i).as("ivf_list"))
      }: _*)
    def topLists(emb: org.apache.spark.sql.Column, k: Int) =
      transform(slice(reverse(array_sort(listScores(emb))), 1, k),
        x => x.getField("ivf_list"))
    val assigned = t.embeddings
      .select($"vec_id", $"embedding",
        explode(topLists($"embedding", nAssign)).as("ivf_list"))
    val probeLists = t.embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        explode(topLists($"embedding", nProbe)).as("ivf_list"))
    val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
    assigned.join(broadcast(probeLists), Seq("ivf_list"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", cosine($"q_emb", $"embedding").as("cos_sim"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .orderBy($"q_id", $"rank")
  }

  /** Driver-visible ANN regression gate: MEAN recall@10 of an ANN
    * path across the 5 probes, against the ORACLE-CHECKED exact
    * brute-force top-10 (q29), emitted as one verdict row per probe.
    * The matching oracle degenerates to "the gate holds" —
    * engine-neutral — so the correctness harness hash-flags any
    * banding/quantizer regression that drops recall below the floor,
    * even though the bucket layout itself is not SQL-expressible.
    * The gate is on the MEAN (observed 0.94–1.00 across SFs at the
    * tuned defaults — LSH 8 tables / Hamming ≤ 2 probes, IVF
    * nAssign=3 / nProbe=6 — vs floor 0.8, a ≥ 7-hit margin out of
    * 50) rather than the worst probe (observed ≥ 0.9): a real
    * regression degrades all probes together, while a single probe's
    * hit count sits within a hit or two of the floor — per-probe
    * gating would trip on fixture variance, not regressions. The
    * AnnTune sweep is the evidence for the floor. */
  def annRecallGate(t: Tables, lsh: Boolean, floor: Double = 0.8): DataFrame =
    recallGateOver(t, (if (lsh) annLsh(t) else annIvf(t)).select(
      col("q_id"), col("vec_id")), floor)

  /** Mean-recall@10 gate of an arbitrary ANN result (`q_id, vec_id`)
    * against the exact brute-force top-10 — the engine-neutral
    * contract shape shared by q101/q102/q135. */
  private def recallGateOver(t: Tables, ann: DataFrame,
      floor: Double): DataFrame = {
    import t.spark.implicits._
    recallGateAgainst(knnBruteForce(t).select($"q_id", $"vec_id"), ann, floor)
  }

  /** Exact top-10 by cosine over an arbitrary (vec_id, embedding)
    * corpus for (q_id, q_emb) probes, self excluded — the truth set
    * for gates whose eligible corpus is NOT the full store (filtered
    * search, post-delete survivors). Declared-quadratic truth path
    * (|probes| is gate-bounded), like q29. */
  private def exactTop10Over(corpus: DataFrame, probes: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
    corpus.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .select($"q_id", $"vec_id",
        factoredCosine(dotNative($"q_emb", $"embedding"),
          l2NormNative($"q_emb"), l2NormNative($"embedding")).as("cos_sim"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 10)
      .select($"q_id", $"vec_id")
  }

  /** Gate core over a supplied exact truth set. */
  private def recallGateAgainst(exact: DataFrame, ann: DataFrame,
      floor: Double): DataFrame = {
    import exact.sparkSession.implicits._
    val hits = exact.join(ann, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"q_id").agg(count(lit(1)).as("n_hits"))
    val perProbe = exact.select($"q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select($"q_id", coalesce($"n_hits", lit(0L)).as("n_hits"))
    val meanGate = perProbe
      .agg((sum($"n_hits").cast("double") / (count(lit(1)) * 10.0) >= floor)
        .as("meets_floor"))
    perProbe.select($"q_id").crossJoin(broadcast(meanGate))
      .orderBy($"q_id")
  }

  /** IVF-PQ: the memory-compressed ANN index production vector search
    * runs at billion-vector scale (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — the
    * FAISS `IVFPQ` layout). Two quantizers compose:
    *
    *  - the COARSE quantizer is [[annIvf]]'s seeded k-means over
    *    `nList` inverted lists with multi-assignment — the pruning
    *    lever: a probe scans `nProbe` lists, never the corpus;
    *  - the PRODUCT quantizer splits each vector into `m` subvectors
    *    and encodes each as the id of its nearest per-subspace
    *    centroid (`ks` per subspace, one tiny seeded k-means each,
    *    trained on a bounded seeded sample above `trainCap` rows the
    *    way production trainers do). A 64-dim float32 vector (256 B)
    *    becomes m codes (m·log2(ks) bits = 10 B at m=16, ks=32) — the
    *    probed scan reads ~25× less memory, which is THE lever that
    *    fits a 100 TB embedding corpus's search index in cluster RAM.
    *    (m=16/ks=32 over m=8 variants is a measured recall choice on
    *    this near-uniform fixture: 0.96 mean vs 0.84 at equal rerank —
    *    smaller subspaces cut quantization distortion faster than
    *    fewer/larger centroids at the same byte budget.)
    *
    * Ranking inside the probed lists is asymmetric distance (ADC):
    * the query stays exact-float and scores against each candidate's
    * RECONSTRUCTION — its m chosen centroids concatenated, a pure
    * literal-array lookup (`element_at` on the driver-side codebook
    * constant), so decoding is a projection: no shuffle, no join
    * against a codebook table. The ADC top-`rerank` per probe are
    * then re-ranked by EXACT cosine against the raw vectors (the
    * standard refine step): a broadcast semi-join back to the store
    * that touches rerank·Q rows — at cluster scale a point-read,
    * never a scan. Both k-means fits consume one eagerly-checkpointed
    * projection of the corpus (lineage cut, same reason as bpeTrain).
    *
    * Encode/assign ties break toward the smallest centroid id
    * (struct `array_min` ordering), so the index is deterministic
    * given the seeded fits. Codebooks are engine-specific → the
    * driver-visible check is the q135 recall-contract gate
    * ([[pqRecallGate]]), exactly like q101/q102. */
  def annPq(t: Tables, m: Int = 16, ks: Int = 32, nList: Int = 16,
      nProbe: Int = 6, nAssign: Int = 3, rerank: Int = 200,
      trainCap: Long = 131072L): DataFrame = {
    import t.spark.implicits._
    annPqOver(t.embeddings, $"vec_id", $"embedding", _ < QueryCount,
      m, ks, nList, nProbe, nAssign, rerank, trainCap)
  }

  /** Generic IVF-PQ over any `(id, embedding)` frame — see [[annPq]]
    * for the design contract. Probe rows are those whose id matches
    * `probePred`. */
  def annPqOver(src: DataFrame, idCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column,
      probePred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      m: Int = 16, ks: Int = 32, nList: Int = 16,
      nProbe: Int = 6, nAssign: Int = 3, rerank: Int = 200,
      trainCap: Long = 131072L): DataFrame = {
    import src.sparkSession.implicits._
    require(rerank >= 10, s"rerank must cover the top-10, got $rerank")
    val base = src.select(idCol.as("vec_id"), embCol.as("embedding"))
    val model = fitPq(base, m, ks, nList, trainCap)
    val indexed = encodePq(base, model, nAssign)
    val probes = base.filter(probePred($"vec_id"))
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    probePq(indexed, model, probes, base, nProbe, rerank)
  }

  /** A fitted IVF-PQ model — everything the encode and probe sides
    * need, small enough to persist as one metadata row (nList·dim +
    * m·ks·dsub doubles ≈ 9 KB at the defaults). */
  case class PqModel(m: Int, ks: Int, dsub: Int, nList: Int,
      coarse: IndexedSeq[IndexedSeq[Double]], cbFlat: IndexedSeq[Double]) {
    /** Subspace i's codebook (ks × dsub), sliced off the flat store. */
    def cb(i: Int): IndexedSeq[IndexedSeq[Double]] =
      cbFlat.slice(i * ks * dsub, (i + 1) * ks * dsub).grouped(dsub).toIndexedSeq
  }

  /** Fit the coarse quantizer + m per-subspace codebooks on (a seeded
    * sample of) `base` — see [[annPq]] for the design contract. The
    * m+1 fits are independent (disjoint outputs, fixed seeds, shared
    * checkpointed input) and run concurrently: each fit is a chain of
    * small DRIVER-latency-bound jobs, so sequential fits would idle
    * the executors for m+1 × job-turnaround. Concurrency cannot touch
    * the result (seeded init + deterministic input). */
  private[graft] def fitPq(base: DataFrame, m: Int, ks: Int, nList: Int,
      trainCap: Long): PqModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import base.sparkSession.implicits._
    // one materialized projection feeds the m+1 fits (bounded scalar
    // count + seeded sample cap keeps trainer input size fixed as the
    // corpus grows — quantizer quality saturates long before that).
    // Row count AND embedding dim ride the checkpoint's
    // materialization via observe() — previously a head() job plus a
    // count() job before any fit could start. max(size) ≡ the old
    // head()'s size on any fixed-dim corpus (the only kind the m | dim
    // requirement admits).
    val fObs = org.apache.spark.sql.Observation()
    val full = base
      .select($"vec_id", $"embedding",
        array_to_vector(transform($"embedding", _.cast("double"))).as("features"))
      .observe(fObs,
        count(lit(1)).as("n"), max(size($"embedding")).as("dim"))
      .localCheckpoint(true)
    val n = Option(fObs.get("n")).collect {
      case x: java.lang.Long => x.longValue() }.getOrElse(0L)
    val dim = Option(fObs.get("dim")).collect {
      case x: java.lang.Integer => x.intValue()
      case x: java.lang.Long => x.intValue() }.getOrElse(0)
    require(n > 0 && dim > 0, "empty embedding corpus")
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val dsub = dim / m
    // Fit parallelism derives from the BOUNDED train size, not the
    // corpus scan's partitioning: the trainers see ≤ trainCap rows
    // (≈ 67 MB at the 131k cap × 64 doubles) no matter how large the
    // corpus is, so inheriting the scan's partition count turns every
    // Lloyd pass of every one of the m+1 fits into a wide stage of
    // near-empty tasks — measured at sf0.1 (2k vectors, 32 scan
    // partitions): the 17 concurrent fits spend 3.9 s, dropping to
    // 0.6 s at ⌈rows/16k⌉ partitions. ~16k rows/task keeps per-task
    // compute well above task overhead at any scale, capped by the
    // session's parallelism so the cap-sized sample still spreads.
    val fitParts = math.max(1L, math.min(
      base.sparkSession.sparkContext.defaultParallelism.toLong,
      math.min(n, trainCap) / 16384L + 1L)).toInt
    // NOTE: the coalesce fixes the fit's partition layout, which the
    // seeded sampling and float aggregation order (hence the fitted
    // centroids) depend on — layout changes keep results correct by
    // the recall-gate contract but are not bit-stable; re-run the
    // gates after touching fitParts.
    val train = (if (n > trainCap) full.sample(withReplacement = false,
        trainCap.toDouble / n, seed = 7L) else full)
      .coalesce(fitParts).localCheckpoint(true)
    def centersOf(df: DataFrame, featCol: String, k: Int, seed: Long) =
      new KMeans().setK(k).setSeed(seed).setMaxIter(3).setInitMode("random")
        .setFeaturesCol(featCol).setPredictionCol("pq_pred")
        .fit(df).clusterCenters.map(_.toArray)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def subOf(emb: org.apache.spark.sql.Column, i: Int) =
      slice(emb, i * dsub + 1, dsub)
    val coarseF = Future(centersOf(train, "features", nList, 42L))
    // per-subspace codebooks, fit on the same sampled projection
    val cbF: IndexedSeq[Future[Array[Array[Double]]]] =
      (0 until m).map { i =>
        Future(centersOf(
          train.select(array_to_vector(transform(subOf($"embedding", i),
            _.cast("double"))).as("sub")), "sub", ks, 42L + i + 1))
      }
    val coarse = Await.result(coarseF, Duration.Inf)
    val cb: IndexedSeq[Array[Array[Double]]] =
      cbF.map(Await.result(_, Duration.Inf))
    PqModel(m, ks, dsub, nList,
      coarse.map(_.toIndexedSeq).toIndexedSeq,
      (0 until m).flatMap(i => cb(i).flatMap(_.toIndexedSeq)))
  }

  /** Coarse-list ranking as a literal-array projection (no centroid
    * table, no transform pass): the vector's own norm is constant
    * across lists, so dot/|centroid| preserves the cosine order. */
  private def topListsOf(model: PqModel)(
      emb: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    val cNorm = model.coarse.map(c => math.sqrt(c.map(x => x * x).sum))
    val scores = array((0 until model.nList).map { i =>
      struct((dotNative(array(model.coarse(i).map(lit): _*), emb) / cNorm(i))
        .as("s"), lit(i).as("ivf_list"))
    }: _*)
    transform(slice(reverse(array_sort(scores)), 1, k),
      x => x.getField("ivf_list"))
  }

  /** Encode a corpus against FROZEN quantizers: (vec_id, ivf_list ×
    * nAssign, m codes) — the raw embedding column is DROPPED from
    * everything the probe scan reads. All m codes come from ONE
    * native expression (graft.expr.PqCodes) — the per-centroid-
    * literal column formulation at m=16, ks=32 puts 512 dot nodes in
    * one projection and blows Janino's 64 KB method limit (measured:
    * codegen falls back to interpreted on the index-build scan); the
    * flat-codebook constant keeps the scan whole-stage-codegen'd. */
  private[graft] def encodePq(base: DataFrame, model: PqModel,
      nAssign: Int): DataFrame = {
    import base.sparkSession.implicits._
    require(nAssign >= 1 && nAssign <= model.nList,
      s"nAssign must be in [1, ${model.nList}]")
    base.select($"vec_id",
      explode(topListsOf(model)($"embedding", nAssign)).as("ivf_list"),
      call_function("pq_codes", $"embedding", typedlit(model.cbFlat),
        lit(model.ks), lit(model.dsub)).as("codes"))
  }

  /** Probe an encoded index: ADC shortlist by reconstruction cosine
    * (codebook-literal lookups — no decode shuffle, no codebook
    * join), exact-cosine re-rank of the shortlist against the raw
    * store (a broadcast point-read, never a scan). `probes` is
    * (q_id, q_emb); `raw` is the (vec_id, embedding) store the refine
    * step reads. */
  private[graft] def probePq(indexed: DataFrame, model: PqModel,
      probes: DataFrame, raw: DataFrame, nProbe: Int,
      rerank: Int): DataFrame = {
    import indexed.sparkSession.implicits._
    require(nProbe >= 1 && nProbe <= model.nList,
      s"nProbe must be in [1, ${model.nList}]")
    require(rerank >= 10, s"rerank must cover the top-10, got $rerank")
    // reconstruction: concatenate the coded centroids — literal
    // lookups, evaluated where the codes live
    val cbLit: IndexedSeq[org.apache.spark.sql.Column] =
      (0 until model.m).map(i => typedlit(model.cb(i)))
    def reconOf(codes: org.apache.spark.sql.Column) =
      flatten(array((0 until model.m).map(i =>
        element_at(cbLit(i), element_at(codes, i + 1) + 1)): _*))
    val probeLists = probes.select($"q_id", $"q_emb",
      explode(topListsOf(model)($"q_emb", nProbe)).as("ivf_list"))
    val wAdc = Window.partitionBy($"q_id").orderBy($"adc".desc, $"vec_id")
    val shortlist = indexed.join(broadcast(probeLists), Seq("ivf_list"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        cosine($"q_emb", reconOf($"codes")).as("adc"))
      .distinct() // multi-assign × multi-probe co-buckets pairs repeatedly
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter($"adc_rank" <= rerank)
      .select($"q_id", $"vec_id")
    // refine: exact cosine over the shortlist only
    val rawN = raw.select($"vec_id", $"embedding",
      l2NormNative($"embedding").as("nrm"))
    val qRaw = probes.select($"q_id", $"q_emb")
      .withColumn("q_nrm", l2NormNative($"q_emb"))
    val wEx = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
    rawN.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(qRaw), Seq("q_id"))
      .select($"q_id", $"vec_id",
        factoredCosine(dotNative($"q_emb", $"embedding"), $"q_nrm", $"nrm")
          .as("cos_sim"))
      .withColumn("rank", row_number().over(wEx))
      .filter($"rank" <= 10)
      .orderBy($"q_id", $"rank")
  }

  /** q135 driver gate: mean recall@10 of the IVF-PQ path vs the
    * oracle-checked brute-force truth — same contract shape as
    * q101/q102. */
  def pqRecallGate(t: Tables, floor: Double = 0.8): DataFrame = {
    import t.spark.implicits._
    recallGateOver(t, annPq(t).select($"q_id", $"vec_id"), floor)
  }

  // ── q182: persisted ANN index + delta maintenance ───────────────────
  // q135 retrains its 17 quantizer fits and re-encodes the corpus on
  // every run — no production vector store rebuilds per query. This is
  // q162's treatment applied to IVF-PQ: the index PERSISTS, probes
  // read it, and a delta load extends it against FROZEN quantizers
  // (the FAISS add() semantics — training is an offline event, adds
  // are cheap and associative). Layout: the encoded corpus is written
  // PARTITIONED BY ivf_list, so a probe's broadcast join triggers
  // DYNAMIC PARTITION PRUNING and the scan reads only the probed
  // lists' files — nProbe/nList of the index, the on-disk analogue of
  // an inverted list seek (spec-asserted live in AnnIndexSpec). The
  // fitted model (nList·dim + m·ks·dsub doubles ≈ 9 KB) rides a
  // one-row `${table}_meta` sidecar; parquet doubles round-trip
  // bit-exactly, so a probe against the loaded model is IDENTICAL to
  // one against the in-memory fit.

  /** Build + persist an IVF-PQ index over `src`. Quantizers train on
    * `trainOn` (default: `src` itself) — passing yesterday's corpus
    * keeps today's rebuild deterministic under frozen training, which
    * is what makes [[updateAnnIndex]]'s two-step ≡ rebuild exact. */
  def buildAnnIndex(src: DataFrame, idCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column, table: String,
      trainOn: Option[DataFrame] = None, m: Int = 16, ks: Int = 32,
      nList: Int = 16, nAssign: Int = 3, trainCap: Long = 131072L,
      epoch: Long = 0L): Unit = {
    val spark = src.sparkSession
    import spark.implicits._
    val base = src.select(idCol.as("vec_id"), embCol.as("embedding"))
    val tr = trainOn.map(_.select(idCol.as("vec_id"), embCol.as("embedding")))
      .getOrElse(base)
    val model = fitPq(tr, m, ks, nList, trainCap)
    State.dropTables(spark, table, s"${table}_meta", s"${table}_lists")
    // repartition by list before the partitioned write: encodePq
    // inherits the corpus scan's partitioning, and partitionBy from N
    // tasks writes up to N files per list directory (measured 874
    // files for a 16-list fixture index — every DPP probe then pays
    // one scan task per file in its probed lists). Hash-partitioned
    // by list, each list is exactly one file; at cluster scale add a
    // salt column to this repartition to restore write parallelism
    // within a list (guide §6: output files sized by layout, not by
    // writer count).
    encodePq(base, model, nAssign)
      .repartition(col("ivf_list"))
      .write.partitionBy("ivf_list").saveAsTable(table)
    // the index EPOCH is stamped in two places — a table property on
    // the index and a column in the meta row — and the probe asserts
    // they agree, which turns the retrain swap's two-table window
    // (new index + old quantizers would serve WRONG distances) into a
    // loud retryable error instead of silent wrong answers
    spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES ('graft.epoch' = '$epoch')")
    Seq((model.m, model.ks, model.dsub, model.nList,
        model.coarse.map(_.toSeq).toSeq, model.cbFlat.toSeq, epoch))
      .toDF("m", "ks", "dsub", "nlist", "coarse", "cbflat", "epoch")
      .write.saveAsTable(s"${table}_meta")
    // per-list count sidecar (nList rows): the base distribution
    // [[annAssignmentPsi]] reads instead of rescanning the index on
    // every maintenance batch — rolled forward by [[updateAnnIndex]],
    // rebuilt by retrain, dropped (and lazily rebuilt) by compaction
    spark.table(table).groupBy(col("ivf_list"))
      .agg(count(lit(1)).as("cnt"))
      .write.saveAsTable(s"${table}_lists")
  }

  /** Reload the fitted quantizers from the index's metadata sidecar. */
  def loadPqModel(spark: org.apache.spark.sql.SparkSession,
      table: String): PqModel = loadMetaRow(spark, table)._1

  /** One read of the meta sidecar: (model, epoch). */
  private def loadMetaRow(spark: org.apache.spark.sql.SparkSession,
      table: String): (PqModel, Long) = {
    val r = spark.table(s"${table}_meta").head()
    (PqModel(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getSeq[scala.collection.Seq[Double]](4)
        .map(_.toIndexedSeq).toIndexedSeq,
      r.getSeq[Double](5).toIndexedSeq), r.getLong(6))
  }

  /** The epoch recorded in the meta sidecar. */
  def metaEpoch(spark: org.apache.spark.sql.SparkSession,
      table: String): Long = loadMetaRow(spark, table)._2

  /** The epoch stamped on the index table itself (its `graft.epoch`
    * table property); a table without the stamp reads as -1 — always
    * a loud mismatch at the probe. */
  def indexEpoch(spark: org.apache.spark.sql.SparkSession,
      table: String): Long = {
    val r = spark.sql(s"SHOW TBLPROPERTIES $table ('graft.epoch')").head()
    scala.util.Try(r.getString(1).trim.toLong).getOrElse(-1L)
  }

  /** Raise if the index table and the meta sidecar disagree on epoch —
    * a probe that lands between the retrain swap's two directory
    * moves would otherwise pair the NEW codes with the OLD quantizers
    * and serve wrong distances with no error anywhere. */
  private def requireEpochAgreement(
      spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val ie = indexEpoch(spark, table)
    val me = metaEpoch(spark, table)
    if (ie != me)
      throw new IllegalStateException(
        s"ANN index $table epoch mismatch: index=$ie meta=$me — the probe "
          + "raced a retrain swap (index and quantizers are from different "
          + "generations); retry after the swap completes")
  }

  /** Extend a persisted index with a delta corpus: encode against the
    * FROZEN persisted quantizers and append into the same partition
    * layout — no refit, no re-encode of the existing rows, cost
    * O(delta). Associative by construction: encode is per-row against
    * constants, so build(base) ∘ update(delta) produces exactly the
    * rows of a rebuild that trains on base and encodes base ∪ delta
    * (AnnIndexSpec proves set equality). */
  def updateAnnIndex(delta: DataFrame, idCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column, table: String,
      nAssign: Int = 3): Unit = {
    val spark = delta.sparkSession
    val model = loadPqModel(spark, table)
    val enc = encodePq(delta.select(idCol.as("vec_id"),
      embCol.as("embedding")), model, nAssign)
    enc.repartition(col("ivf_list"))  // one file per touched list per append
      .write.mode("append").format("parquet").partitionBy("ivf_list")
      .saveAsTable(table)
    // roll the per-list count sidecar forward by the delta's own
    // counts — a second pass over the (delta-bounded, deterministic)
    // encode plus an nList-row overwrite, never an index scan (if
    // compaction dropped the sidecar, PSI lazily rebuilds it;
    // nothing to roll forward here)
    val lists = s"${table}_lists"
    if (spark.catalog.tableExists(lists)) {
      val dc = enc.groupBy(col("ivf_list")).agg(count(lit(1)).as("dc"))
      val merged = spark.table(lists).as("b")
        .join(dc, Seq("ivf_list"), "full_outer")
        .select(col("ivf_list"),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("dc"), lit(0L)))
            .as("cnt"))
        .localCheckpoint() // break lineage: overwrite reads itself
      // insertInto, not saveAsTable: data-only overwrite that keeps
      // the table identity (the post-retrain sidecar is re-registered
      // at an explicit location; saveAsTable-overwrite would drop it
      // and collide with the surviving files)
      merged.write.mode("overwrite").insertInto(lists)
    }
  }

  /** Probe a persisted index: load the model sidecar (one tiny head —
    * NO quantizer fit at probe time), ADC-shortlist over only the
    * probed partitions (dynamic partition pruning), exact re-rank
    * against `raw`. `probes` is (q_id, q_emb). Tombstoned rows (a
    * `${table}_tombs` sidecar exists once [[deleteFromAnnIndex]] has
    * run) are excluded from the scan by a broadcast anti-join BEFORE
    * the ADC rank — a deleted vector can neither be returned nor
    * displace a live one from the shortlist. */
  def annIndexProbe(spark: org.apache.spark.sql.SparkSession, table: String,
      probes: DataFrame, raw: DataFrame, nProbe: Int = 6,
      rerank: Int = 200): DataFrame = {
    requireEpochAgreement(spark, table)
    probePq(aliveIndex(spark, table), loadPqModel(spark, table), probes, raw,
      nProbe, rerank)
  }

  /** FILTERED vector search (q188): probe the persisted index under a
    * metadata predicate — "top-k among the vectors WHERE pred", the
    * filtered-search mode every production vector store exposes. The
    * predicate is applied to the INDEX SCAN itself (pre-filtering),
    * before the ADC shortlist forms: the shortlist is then composed
    * entirely of eligible vectors, so recall behaves exactly like an
    * unfiltered probe over the eligible sub-corpus — the naive
    * alternative (post-filtering a fixed-depth shortlist) loses
    * recall linearly in the filter's selectivity. Cost: the filter is
    * one codegen'd predicate inside the already-DPP-pruned scan —
    * no new shuffle, no index rebuild, composes with tombstones.
    * `pred` may reference `vec_id` and any column persisted in the
    * index rows. */
  def annIndexProbeWhere(spark: org.apache.spark.sql.SparkSession,
      table: String, probes: DataFrame, raw: DataFrame,
      pred: org.apache.spark.sql.Column, nProbe: Int = 6,
      rerank: Int = 200): DataFrame = {
    requireEpochAgreement(spark, table)
    probePq(aliveIndex(spark, table).filter(pred),
      loadPqModel(spark, table), probes, raw, nProbe, rerank)
  }

  /** The index minus its tombstones (identity when none exist). */
  private def aliveIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val idx = spark.table(table)
    if (spark.catalog.tableExists(s"${table}_tombs"))
      idx.join(broadcast(spark.table(s"${table}_tombs")),
        Seq("vec_id"), "left_anti")
    else idx
  }

  /** Tombstone-delete ids from a persisted index (q189): the delete is
    * an O(|ids|) append to a `${table}_tombs` sidecar — the index's
    * encoded rows are NOT rewritten (at 100 TB a delete that rewrites
    * the corpus is not a delete, it's a compaction — which is
    * [[compactAnnIndex]], run on its own schedule exactly as LSM
    * stores do). Probes exclude tombstones via a broadcast anti-join;
    * deleting an id twice (or one never indexed) is a no-op — and the
    * sidecar stays BOUNDED by it: incoming ids are anti-joined against
    * the existing tombstones before the append, so re-deleting a
    * cohort adds zero rows (the sidecar's cardinality is ≤ the number
    * of DISTINCT ids ever deleted, which is what keeps the probe's
    * broadcast anti-join input O(deleted), not O(delete-calls)). */
  def deleteFromAnnIndex(ids: DataFrame, table: String): Unit = {
    val spark = ids.sparkSession
    val tomb = s"${table}_tombs"
    val fresh = ids.select(col("vec_id")).distinct()
    if (spark.catalog.tableExists(tomb)) {
      // localCheckpoint breaks the lineage from the sidecar scan so
      // the append never reads the table it is writing (tombstones
      // are broadcast-small by contract, so this is a bounded spill)
      fresh.join(broadcast(spark.table(tomb)), Seq("vec_id"), "left_anti")
        .localCheckpoint()
        .write.mode("append").saveAsTable(tomb)
    } else fresh.write.mode("errorifexists").saveAsTable(tomb)
  }

  /** Rewrite the index dropping tombstoned rows, then clear the
    * tombstones — the LSM-style compaction that reclaims space and
    * removes the anti-join from the probe path. Probe results are
    * IDENTICAL before and after by construction (the probe already
    * excluded tombstones); AnnIndexSpec asserts it row-for-row. */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val tmpDir = State.tableDir(spark, s"${table}_compacting")
    val liveDir = State.tableDir(spark, table)
    // Crash recovery FIRST: a prior compaction that died between
    // deleting the live dir and renaming staging left the compacted
    // survivors as the SOLE copy under the staging dir — finishing
    // that interrupted swap (rename + re-register) restores the index;
    // deleting staging here would destroy it. Only when the live dir
    // exists is a leftover staging dir stale (the crash was before the
    // drop, live is authoritative) and safe to clear below.
    if (tmpDir.isDirectory && !liveDir.exists()) {
      finishIndexSwap(spark, table, tmpDir, liveDir)
      return
    }
    // Second crash window: between DROP TABLE and the live-dir delete.
    // On re-run BOTH dirs exist but the catalog entry is gone — the
    // guard above is skipped, and without this branch the rewrite
    // below would fail at aliveIndex (no catalog entry) after deleting
    // the staging copy, leaving compaction stuck until the live dir is
    // re-registered by hand. The live files are the authoritative
    // pre-drop state (tombstones sidecar still present), so
    // re-register them and let the compaction proceed normally.
    if (liveDir.isDirectory && !spark.catalog.tableExists(table)) {
      spark.sql(
        s"CREATE TABLE $table USING parquet LOCATION '${liveDir.toURI}'")
      spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.epoch' = '${metaEpoch(spark, table)}')")
    }
    graft.Tables.deleteRec(tmpDir)
    // ONE write of the survivors, to a staging directory (path-level,
    // no catalog entry — ALTER TABLE RENAME does not relocate managed
    // files under the session catalog, so the swap is a directory
    // move + re-register instead: metadata-only, no second rewrite).
    aliveIndex(spark, table)
      .repartition(col("ivf_list"))  // compaction also resets file count
      .write.partitionBy("ivf_list").parquet(tmpDir.getAbsolutePath)
    // Swap window (drop → move → create) is metadata-only — the live
    // name is absent for milliseconds, not for a corpus rewrite; a
    // crash inside it is recovered by the entry guard above.
    State.dropTables(spark, table)
    finishIndexSwap(spark, table, tmpDir, liveDir)
  }

  /** The back half of a compaction swap — also the crash-recovery
    * path, so everything after the survivor write lives here exactly
    * once: rename staging over live, re-register, re-stamp the meta
    * sidecar's epoch on the recreated table (compaction never changes
    * quantizers), clear the tombstones the survivors already exclude,
    * and drop the per-list count sidecar (stale once tombstoned rows
    * are physically gone; [[annAssignmentPsi]] lazily rebuilds it). */
  private def finishIndexSwap(spark: org.apache.spark.sql.SparkSession,
      table: String, tmpDir: java.io.File, liveDir: java.io.File): Unit = {
    require(tmpDir.renameTo(liveDir),
      s"compactAnnIndex: could not move $tmpDir over $liveDir")
    spark.sql(s"DROP TABLE IF EXISTS $table") // recovery: stale entry
    spark.sql(s"CREATE TABLE $table USING parquet LOCATION '${liveDir.toURI}'")
    spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('graft.epoch' = '${metaEpoch(spark, table)}')")
    State.dropTables(spark, s"${table}_tombs", s"${table}_lists")
  }

  // ── q204: quantizer-drift detection + retrain lifecycle ─────────────
  // [[updateAnnIndex]] freezes quantizers forever — the FAISS add()
  // semantics — which is exactly right until the data distribution
  // moves: drifted vectors collapse into a few coarse lists, the PQ
  // codebooks stop spanning the new region, and recall decays with NO
  // error anywhere. The repo already owns both halves of the fix: the
  // q197 PSI detector and the q182 recall contract. This composes
  // them into the lifecycle every production vector store runs:
  // measure PSI between the index's stored coarse-assignment
  // distribution and each delta's frozen-model assignments; below the
  // threshold the delta appends frozen (cheap path), above it the
  // quantizers REFIT on the current corpus, the corpus re-encodes,
  // and the new index swaps in blue/green (directory move — the
  // compaction swap, never a second rewrite of the green build).

  /** PSI of a delta's frozen-model coarse assignments against the
    * index's stored distribution — one number per maintenance batch,
    * the q197 detector pointed at the quantizer. ≥ 0.25 is the
    * standard "investigate" line; a delta from the training
    * distribution scores near 0. */
  def annAssignmentPsi(spark: org.apache.spark.sql.SparkSession,
      table: String, delta: DataFrame, nAssign: Int = 3): DataFrame = {
    val model = loadPqModel(spark, table)
    // the base distribution comes from the per-list count sidecar
    // (nList rows, rolled forward by every append) — O(1) per
    // maintenance batch, never a rescan of the index itself. The one
    // exception: compaction drops the sidecar (tombstoned rows left
    // the physical table), and the first PSI after it rebuilds the
    // sidecar from one index scan — amortized, and that scan is the
    // compaction-accurate truth by definition.
    val lists = s"${table}_lists"
    // Sidecar/index AGREEMENT check (the epoch pair's analogue for the
    // count sidecar): updateAnnIndex's two writes (index append, then
    // sidecar overwrite) are not atomic, and a crash between them
    // leaves the sidecar silently undercounting — biasing every later
    // PSI base distribution with no error anywhere. The sidecar's
    // Σcnt must equal the table's current row count (a parquet
    // count(*) is footer-metadata only — no data scan); on any
    // disagreement the sidecar is dropped and rebuilt from one index
    // scan, exactly the post-compaction lazy-rebuild path.
    if (spark.catalog.tableExists(lists)) {
      val scCnt = spark.table(lists)
        .agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
      if (scCnt != spark.table(table).count()) State.dropTables(spark, lists)
    }
    if (!spark.catalog.tableExists(lists))
      spark.table(table).groupBy(col("ivf_list"))
        .agg(count(lit(1)).as("cnt"))
        .write.saveAsTable(lists)
    val baseCounts = spark.table(lists)
      .select(lit("all").as("g"), lit(false).as("b"),
        col("ivf_list").as("k"), col("cnt").as("c"))
    val deltaCounts = encodePq(
        delta.select(col("vec_id"), col("embedding")), model, nAssign)
      .groupBy(col("ivf_list")).agg(count(lit(1)).as("c"))
      .select(lit("all").as("g"), lit(true).as("b"),
        col("ivf_list").as("k"), col("c"))
    Relational.psiFromCounts(baseCounts.unionByName(deltaCounts), model.nList)
      .select(col("na").as("n_index"), col("nb").as("n_delta"), col("psi"))
  }

  /** Swap a managed table's files under another table name:
    * drop-target → directory move → re-register. Metadata-only (the
    * green build's single write is the only data write). */
  private def swapTableFiles(spark: org.apache.spark.sql.SparkSession,
      fromTable: String, toTable: String, partitioned: Boolean,
      epoch: Option[Long] = None): Unit = {
    val fromDir = State.tableDir(spark, fromTable)
    val toDir = State.tableDir(spark, toTable)
    State.dropTables(spark, toTable)
    require(fromDir.renameTo(toDir),
      s"swapTableFiles: could not move $fromDir over $toDir")
    spark.sql(s"DROP TABLE IF EXISTS $fromTable") // entry only; files moved
    spark.sql(s"CREATE TABLE $toTable USING parquet LOCATION '${toDir.toURI}'")
    if (partitioned) spark.sql(s"ALTER TABLE $toTable RECOVER PARTITIONS")
    // re-register loses table properties — restamp the index epoch
    epoch.foreach(e => spark.sql(
      s"ALTER TABLE $toTable SET TBLPROPERTIES ('graft.epoch' = '$e')"))
  }

  /** Refit the quantizers on `corpus` (the CURRENT full store — base
    * plus every delta), re-encode it, and swap the result in under
    * the live name, index then meta (the two moves are each
    * metadata-only; a probe between them is the documented
    * non-transactional window, same class as compaction's). Any
    * tombstones die with the swap — the passed corpus is encoded
    * verbatim, so pass the post-delete survivors. */
  def retrainAnnIndex(corpus: DataFrame, idCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column, table: String, m: Int = 16,
      ks: Int = 32, nList: Int = 16, nAssign: Int = 3,
      trainCap: Long = 131072L): Unit = {
    val spark = corpus.sparkSession
    val green = s"${table}_green"
    // the new generation's epoch: old epoch + 1 (0 if the live index
    // is gone — retrain is rebuildable from the passed corpus)
    val newEpoch =
      if (spark.catalog.tableExists(s"${table}_meta"))
        metaEpoch(spark, table) + 1L
      else 0L
    buildAnnIndex(corpus, idCol, embCol, green, trainOn = None,
      m = m, ks = ks, nList = nList, nAssign = nAssign, trainCap = trainCap,
      epoch = newEpoch)
    // index first (its stamp flips to newEpoch), meta last — a probe
    // landing between the moves sees index=newEpoch vs meta=old and
    // RAISES (requireEpochAgreement) instead of serving the new codes
    // under the old quantizers' distances
    swapTableFiles(spark, green, table, partitioned = true,
      epoch = Some(newEpoch))
    swapTableFiles(spark, s"${green}_lists", s"${table}_lists",
      partitioned = false)
    swapTableFiles(spark, s"${green}_meta", s"${table}_meta",
      partitioned = false)
    State.dropTables(spark, s"${table}_tombs")
  }

  /** q204's deterministic distribution shift: the vec_id ≡ 0 (mod 3)
    * cohort translates far outside the training range (x → 30 + x per
    * component, spread UNCHANGED). Frozen quantizers collapse it —
    * the per-subspace argmin is dominated by the constant offset's
    * −2·30·Σc term (gaps ~7 across base centroids vs ≤ ~1.8 of
    * x-dependent signal), so codes stop separating the cohort — while
    * the full-scale within-cohort structure is exactly what a REFIT
    * k-means resolves (a third of the training mass with base-sized
    * variance earns the cluster its own centroids). The silent-decay
    * mode the detector exists for, in its purest form. */
  private[graft] def driftedCohort(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.embeddings.filter($"vec_id" % 3 === 0)
      .select($"vec_id",
        transform($"embedding", x => lit(30.0f) + x).as("embedding"))
  }

  /** The drift gate's shortlist depth: half the drifted cohort
    * (floor 64). The depth must sit BELOW the cohort size, or the
    * exact re-rank stage silently rescues collapsed codes (a
    * 167-vector cohort fits whole inside the default 400 shortlist
    * and recall reads 1.0 no matter how degenerate the ADC ranking
    * is) — the realistic regime is shortlist ≪ eligible corpus,
    * where recall genuinely depends on the quantizer. Half keeps the
    * frozen path far under the floor (≈ depth/cohort ≈ 0.5 of a
    * near-random shortlist) while giving the retrained ADC the
    * headroom to clear it under any partitioning of the k-means fit
    * (the fit's float-sum order shifts centroids a little between
    * session configs; the gate must not ride that edge). */
  private def driftRerank(cohortN: Long): Int =
    math.max(64L, cohortN / 2L).toInt

  /** Probe recall of the drift fixture's index against the exact
    * top-10 over the full (base ∪ drifted) corpus — shared by the
    * gate and the spec's before/after comparison. */
  private[graft] def driftProbeRecall(t: Tables, table: String): Double = {
    import t.spark.implicits._
    val base = t.embeddings.filter($"vec_id" % 3 =!= 0)
      .select($"vec_id", $"embedding")
    val drifted = driftedCohort(t)
    val full = base.unionByName(drifted)
    val probes = drifted.filter($"vec_id" < 15)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val ann = annIndexProbe(t.spark, table, probes, full, nProbe = 8,
      rerank = driftRerank(drifted.count()))
    exactTop10Over(full, probes)
      .join(ann.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"), "left_semi")
      .count().toDouble / (5 * 10).toDouble
  }

  /** Build q204's lifecycle once per fixture: index the undrifted
    * base, measure the drifted delta's assignment PSI, and take the
    * indicated branch (the fixture's shift trips the 0.25 line, so
    * the branch IS the retrain + blue/green swap); the decision rides
    * a one-row sidecar the gate echoes. */
  private[graft] def ensureDriftIndex(t: Tables,
      threshold: Double = 0.25): String = {
    import t.spark.implicits._
    State.ensure(t, "ann_drift", "embeddings") { name =>
      val base = t.embeddings.filter($"vec_id" % 3 =!= 0)
        .select($"vec_id", $"embedding")
      val drifted = driftedCohort(t)
      buildAnnIndex(base, $"vec_id", $"embedding", name)
      val psi = annAssignmentPsi(t.spark, name, drifted).head().getDouble(2)
      val exceeded = psi > threshold
      if (exceeded)
        retrainAnnIndex(base.unionByName(drifted), $"vec_id", $"embedding",
          name)
      else updateAnnIndex(drifted, $"vec_id", $"embedding", name)
      val dec = s"${name}_decision"
      State.dropTables(t.spark, dec)
      Seq((psi, exceeded, exceeded))
        .toDF("psi", "psi_exceeded", "retrained").write.saveAsTable(dec)
    }
  }

  /** q204: the drift-maintained index gated driver-visibly — recall
    * ≥ `floor` for probes FROM the drifted cohort against the exact
    * top-10 over the full corpus (frozen codebooks measurably fail
    * this — AnnDriftSpec pins the before/after gap), plus the
    * detector's decision flags. Oracle = the contract: every probe
    * row TRUE/TRUE/TRUE. */
  def annDriftGate(t: Tables, floor: Double = 0.9): DataFrame = {
    import t.spark.implicits._
    val table = ensureDriftIndex(t)
    val base = t.embeddings.filter($"vec_id" % 3 =!= 0)
      .select($"vec_id", $"embedding")
    val drifted = driftedCohort(t)
    val full = base.unionByName(drifted)
    val probes = drifted.filter($"vec_id" < 15)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val ann = annIndexProbe(t.spark, table, probes, full, nProbe = 8,
      rerank = driftRerank(drifted.count()))
    recallGateAgainst(exactTop10Over(full, probes),
        ann.select($"q_id", $"vec_id"), floor)
      .crossJoin(broadcast(t.spark.table(s"${table}_decision")
        .select($"psi_exceeded", $"retrained")))
      .orderBy($"q_id")
  }

  /** q182: the persisted-index lifecycle gated driver-visibly — the
    * index is built from the embeddings EXCLUDING the vec_id%10==7
    * cohort (training frozen on that base), the cohort appended via
    * [[updateAnnIndex]], and the q135 probes answered from the
    * persisted (index ∪ delta) against the full raw store. Gate: mean
    * recall@10 ≥ `floor` vs the exact brute-force top-10 over the
    * WHOLE corpus — the recall contract of a store that took a delta
    * load, not a rebuilt one. */
  /** Build q182's persisted index once per fixture (base = all but the
    * vec_id%10==7 cohort, which arrives via the frozen-quantizer delta
    * append) — shared by the q182/q188/q189 gates so the 17 quantizer
    * fits are paid once per fixture, as production would. */
  private def ensureAnnIndex(t: Tables): String = {
    import t.spark.implicits._
    State.ensure(t, "ann_idx", "embeddings") { name =>
      buildAnnIndex(t.embeddings.filter($"vec_id" % 10 =!= 7),
        $"vec_id", $"embedding", name)
      updateAnnIndex(t.embeddings.filter($"vec_id" % 10 === 7),
        $"vec_id", $"embedding", name)
    }
  }

  /** The q182 probe-depth rule: the ADC shortlist deepens with the
    * corpus so the 0.9 recall floor holds as the 16 coarse lists
    * densify — a probe-side knob, never an index rebuild. */
  private def rerankFor(n: Long): Int =
    math.max(400L, n / 64L).min(1L << 20).toInt

  /** Probe ANY persisted index table against the full-corpus
    * brute-force truth with the q182 probe-headroom recipe — the gate
    * core q182 and the q205 streamed-ingest index share. */
  def annTableGate(t: Tables, table: String, floor: Double = 0.9): DataFrame = {
    import t.spark.implicits._
    val probes = t.embeddings.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val ann = annIndexProbe(t.spark, table, probes,
      t.embeddings.select($"vec_id", $"embedding"), nProbe = 8,
      rerank = rerankFor(t.embeddings.count()))
    recallGateOver(t, ann.select($"q_id", $"vec_id"), floor)
  }

  def annIndexGate(t: Tables, floor: Double = 0.9): DataFrame = {
    import t.spark.implicits._
    val table = ensureAnnIndex(t)
    val probes = t.embeddings.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    // probe-side headroom SCALES WITH THE CORPUS for the tighter 0.9
    // floor: at fixed nList=16 the lists densify as n grows and the
    // ADC shortlist must deepen to keep the true top-10 inside it
    // (q135's 6/200 measures mean 0.86 at 20k vectors) — nProbe 8 and
    // rerank = max(400, n/64) (≈ 2·avg-list-occupancy/… of the probed
    // mass) clear the floor at 20k AND 200k vectors. Both knobs cost
    // only probe-proportional work: half the lists ADC-scanned, and
    // the re-rank stays a broadcast point-read of rerank·|probes|
    // rows — never an index rebuild. (The other production lever is
    // growing nList ~ √n at BUILD time; the probe-side lever is the
    // one that needs no rebuild.)
    val n = t.embeddings.count()
    val rerank = math.max(400L, n / 64L).min(1 << 20).toInt
    val ann = annIndexProbe(t.spark, table, probes,
      t.embeddings.select($"vec_id", $"embedding"), nProbe = 8,
      rerank = rerank)
    recallGateOver(t, ann.select($"q_id", $"vec_id"), floor)
  }

  /** q188: FILTERED search against the q182 index (read-only reuse —
    * the fits are paid once per fixture). Eligibility = vec_id ≡ 0
    * (mod 3), a 1/3-selectivity predicate applied to the index scan
    * itself; the gate holds the probe to recall ≥ `floor` against the
    * exact top-10 over the ELIGIBLE sub-corpus and additionally
    * asserts every returned id satisfies the predicate (`all_eligible`
    * — post-filtering masquerading as pre-filtering would flip it). */
  def annFilteredGate(t: Tables, floor: Double = 0.9): DataFrame = {
    import t.spark.implicits._
    val table = ensureAnnIndex(t)
    val pred = col("vec_id") % 3 === 0
    val probes = t.embeddings.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val eligible = t.embeddings.filter(pred).select($"vec_id", $"embedding")
    val ann = annIndexProbeWhere(t.spark, table, probes, eligible, pred,
      nProbe = 8, rerank = rerankFor(eligible.count()))
    val allEligible = ann
      .agg((count(when(col("vec_id") % 3 =!= 0, 1)) === 0).as("all_eligible"))
    recallGateAgainst(exactTop10Over(eligible, probes),
        ann.select($"q_id", $"vec_id"), floor)
      .crossJoin(broadcast(allEligible))
      .orderBy($"q_id")
  }

  /** q189: the DELETE lifecycle gated driver-visibly. The q182 index's
    * encoded rows + meta sidecar are COPIED (one scan of 10 B/vector
    * codes — no refit) into a per-fixture twin, the vec_id%10==3
    * cohort is tombstone-deleted, and the probes run with the
    * tombstones live (not compacted). Gate: recall ≥ `floor` against
    * the exact top-10 over the SURVIVING corpus, plus `no_deleted` —
    * a deleted vector must never be returned (the anti-join runs
    * BEFORE the ADC rank, so it can't displace live shortlist rows
    * either; compaction equivalence is AnnIndexSpec's job). */
  def annDeleteGate(t: Tables, floor: Double = 0.9): DataFrame = {
    import t.spark.implicits._
    val src = ensureAnnIndex(t)
    val table = State.ensure(t, "ann_del", "embeddings") { name =>
      State.dropTables(t.spark, name, s"${name}_meta", s"${name}_tombs")
      t.spark.table(src).repartition(col("ivf_list"))
        .write.partitionBy("ivf_list").saveAsTable(name)
      t.spark.table(s"${src}_meta").write.saveAsTable(s"${name}_meta")
      // the clone must carry the source's epoch stamp — the probe
      // asserts index-property ≡ meta agreement on every read
      t.spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES " +
        s"('graft.epoch' = '${metaEpoch(t.spark, name)}')")
      deleteFromAnnIndex(
        t.embeddings.filter($"vec_id" % 10 === 3).select($"vec_id"), name)
    }
    val probes = t.embeddings.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val survivors = t.embeddings.filter($"vec_id" % 10 =!= 3)
      .select($"vec_id", $"embedding")
    val ann = annIndexProbe(t.spark, table, probes, survivors,
      nProbe = 8, rerank = rerankFor(survivors.count()))
    val noDeleted = ann
      .agg((count(when(col("vec_id") % 10 === 3, 1)) === 0).as("no_deleted"))
    recallGateAgainst(exactTop10Over(survivors, probes),
        ann.select($"q_id", $"vec_id"), floor)
      .crossJoin(broadcast(noDeleted))
      .orderBy($"q_id")
  }

  /** Production centroid computation over an ARBITRARY corpus: per-
    * (label, position) mean via order-independent fixed-point
    * accumulation — each value is quantized at 2⁻⁴⁰ (exactly-
    * reproducible IEEE ops: power-of-two multiply is an exponent
    * shift, then floor), summed EXACTLY as DECIMAL(38,0), and the
    * mean taken in double. No per-group array ever materializes: the
    * sum combines map-side (partial aggregation), so group
    * cardinality is unbounded — this is the variant that survives
    * billions of vectors per label, where [[labelCentroids]]'s
    * sorted-fold (kept for oracle parity) would collect a group's
    * values into one row. The decimal accumulator holds ~10³⁷ quanta
    * = ~10²⁵ units of |v| mass per (label, pos) group — an int64
    * accumulator would wrap silently at ~8.4e6 units (≈1.7e7 rows at
    * |v|≈0.5), far below the billions this path is for.
    * Quantization error ≤ 2⁻⁴¹ per value before the mean —
    * ApproxAgreementSpec bounds the drift vs the exact fold. */
  def centroidsOver(
      df: DataFrame, labelCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column): DataFrame = {
    val S = 1099511627776.0 // 2^40
    df.select(labelCol.as("label"), posexplode(embCol).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(floor(col("v").cast("double") * lit(S) + lit(0.5))
          .cast("decimal(38,0)")).as("qs"),
        count(lit(1)).as("cnt"))
      .withColumn("c", col("qs").cast("double") / lit(S) / col("cnt"))
      // dim-bounded array assembly (64 entries), never row-bounded
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pairs"))
      .select(col("label"), expr("transform(pairs, p -> p.c)").as("centroid"))
  }

  /** Per-label centroid similarity: average embedding per label, then
    * cosine of each label centroid against label 0's centroid.
    * Demonstrates vector aggregation (element-wise mean via posexplode
    * → groupBy position — shuffles (label, position, value) tuples,
    * i.e. 64 narrow rows per vector, not vectors).
    *
    * The per-dimension mean folds the values in vec_id order
    * (sort_array(collect_list) → sequential `aggregate`), which the
    * DuckDB oracle mirrors with `list(v ORDER BY vec_id)` →
    * `list_reduce` — bit-identical doubles, so the query is exact-
    * oracle-checkable. That sorted fold is the oracle-parity
    * formulation; the unbounded-cardinality production path is
    * [[centroidsOver]]'s fixed-point order-independent sum
    * (collect_list per (label, pos) group holds that group's values —
    * fine for bounded label cardinality, wrong for billions per
    * group). */
  def labelCentroids(t: Tables): DataFrame = {
    import t.spark.implicits._
    val centroids = t.embeddings
      .select($"label", $"vec_id", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg(
        aggregate(
          sort_array(collect_list(struct($"vec_id", $"v".cast("double").as("v")))),
          lit(0.0), (acc, p) => acc + p.getField("v")).as("s"),
        count(lit(1)).as("cnt"))
      .withColumn("c", $"s" / $"cnt")
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"pos", $"c"))).as("pairs"))
      .select($"label", expr("transform(pairs, p -> p.c)").as("centroid"))
    val base = centroids.filter($"label" === 0)
      .select($"centroid".as("base_centroid"))
    centroids.crossJoin(broadcast(base))
      .select($"label", cosine($"centroid", $"base_centroid").as("cos_to_label0"))
      .orderBy($"label")
  }

  // ── q137: Johnson–Lindenstrauss random projection ───────────────────
  /** Database-friendly dimensionality reduction (Achlioptas 2003):
    * project d-dim embeddings to k dims with a ±1 sign matrix —
    * y_i = Σ_j s_ij·x_j, E[‖y‖²] = k·‖x‖², pairwise distances
    * preserved within (1±ε) w.h.p. This is the third member of the
    * embedding-compression family (int8 q127, PQ q135): unlike those
    * it needs NO training pass, so it is the compression a pipeline
    * applies on ingest, before any index exists.
    *
    * Determinism/portability: the sign matrix is derived once,
    * driver-side, from md5("i|j") nibble parity — no RNG, no engine
    * hash — and inlined as LITERALS into both the Spark expression
    * tree and the generated oracle SQL, so both engines evaluate the
    * identical ±1.0 constants. Each output component folds its 64
    * multiply-adds in ascending j (an explicit left-associated chain
    * ↔ DuckDB `list_reduce`), the q79 recipe that makes the order-
    * dependent double sum bit-exact cross-engine. `distortion` =
    * ‖y‖²/(k·‖x‖²) is the per-point JL guarantee made visible
    * (≈ 1, sd ≈ √(2/k)).
    *
    * Plan shape: one embarrassingly-parallel projection — no
    * shuffle, no join, no state; 1024 codegen'd fused multiply-adds
    * per row. At 100 TB this runs at scan speed and cuts the vector
    * payload 4× (64 floats → 16 doubles → cast down as needed). */
  def jlSigns(k: Int, dim: Int): IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    IndexedSeq.tabulate(k, dim) { (i, j) =>
      val hex = md.digest(s"$i|${j + 1}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
    }
  }

  def jlProjectOver(df: DataFrame, idCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column, dim: Int, k: Int): DataFrame = {
    val signs = jlSigns(k, dim)
    val e = (j: Int) => element_at(embCol, j).cast("double")
    val ys = (0 until k).map { i =>
      (1 to dim).map(j => e(j) * lit(signs(i)(j - 1))).reduceLeft(_ + _)
        .as(f"y$i%02d")
    }
    val xnorm2 = (1 to dim).map(j => e(j) * e(j)).reduceLeft(_ + _).as("xnorm2")
    val projected = df.select(idCol.as("vec_id") +: xnorm2 +: ys: _*)
    val ynorm2 = (0 until k)
      .map(i => col(f"y$i%02d") * col(f"y$i%02d")).reduceLeft(_ + _)
    projected
      .withColumn("ynorm2", ynorm2)
      .withColumn("distortion",
        col("ynorm2") / (lit(k.toDouble) * col("xnorm2")))
  }

  def jlProject(t: Tables, k: Int = 16): DataFrame = {
    import t.spark.implicits._
    jlProjectOver(t.embeddings, $"vec_id", $"embedding", 64, k)
      .orderBy($"vec_id")
  }

  // ── q139: distributed exact-arithmetic k-means (Lloyd) ──────────────
  /** Real k-means clustering — the operator behind IVF coarse
    * quantizers, SemDeDup's cluster stage, and corpus topic
    * bucketing — run so that EVERY iteration is engine-reproducible
    * and the final assignment carries a full-value oracle (the ML-lib
    * KMeans this library uses inside q52/q135 is seeded/approximate
    * and only its downstream recall is gated; this is the exact
    * member of that family).
    *
    * The classic distributed-mean problem is that float summation is
    * order-dependent, so a shuffle-reduced centroid differs run to
    * run. Same fix as q85 PageRank: accumulate QUANTIZED components —
    * q_j = round(x_j·2²⁰) as int64 — whose sums are exact and
    * order-independent (|Σq| < 2⁵³ through ~10⁹ rows/cluster, so
    * even the double cast back is exact), then divide once:
    * c_j = Σq/(2²⁰·n), a single correctly-rounded op. Assignment is
    * argmin of squared L2 distance against centroid LITERALS — a
    * 64-term left-associated chain per centroid, codegen'd, map-only;
    * ties go to the lowest cluster id. Per iteration the cluster
    * sums shuffle as (cluster, dim) rows with map-side combine —
    * k·d rows per map task, skew-proof regardless of cluster
    * imbalance — and k·d longs come to the driver (the same loop
    * shape as q133's BPE rounds). Seeds are vectors 0..k-1 pushed
    * through the identical quantize→divide arithmetic (an n=1
    * "update"), so the oracle replays every iteration with one CTE
    * trio per round. Empty clusters are rejected loudly
    * (`require`) rather than silently re-seeded — the oracle has no
    * re-seed rule.
    *
    * Output: (vec_id, cluster, dist2) under the final centroids. */
  def kmeansAssignOver(df: DataFrame, idCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column, dim: Int, k: Int,
      iters: Int, quantBits: Int = 20): DataFrame = {
    val q = (1L << quantBits).toDouble
    val base = df
      .select(idCol.cast("long").as("vec_id"),
        transform(embCol, _.cast("double")).as("v"))
      .localCheckpoint() // iterated: materialize once, cut lineage
    def quantDriver(x: Double): Long =
      new java.math.BigDecimal(x * q)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    var cents: IndexedSeq[Array[Double]] = base
      .filter(col("vec_id") < k).orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).map(x => quantDriver(x) / q).toArray)
      .toIndexedSeq
    require(cents.length == k, s"need vec_id 0..${k - 1} as seeds, got ${cents.length}")
    def dist2(c: Array[Double]) =
      (1 to dim).map { j =>
        val d = element_at(col("v"), j) - lit(c(j - 1)); d * d
      }.reduceLeft(_ + _)
    def assignExpr = array_min(array(
      cents.indices.map(i => struct(dist2(cents(i)).as("d"), lit(i).as("c"))): _*))
    for (_ <- 1 to iters) {
      // quantize AND assign inside the pre-explode projection: with
      // the generator in the same select, the analyzer plans these
      // expressions ABOVE the Generate — re-evaluated once per
      // EXPLODED element, a 64× blowup of the 256-term assignment
      // (measured: 33 s/iteration at 200k vectors, vs ~1 s split)
      val assigned = base.select(
        assignExpr.getField("c").as("cluster"),
        transform(col("v"), x => round(x * lit(q), 0).cast("long")).as("qv"))
      val sums = assigned
        .select(col("cluster"), posexplode(col("qv")).as(Seq("j", "qx")))
        .groupBy(col("cluster"), col("j"))
        .agg(sum(col("qx")).as("s"), count(lit(1)).as("n"))
        .collect()
      val seen = sums.map(_.getInt(0)).distinct
      require(seen.length == k, s"empty cluster: only ${seen.sorted.toSeq} populated")
      val next = Array.fill(k)(new Array[Double](dim))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          r.getLong(2).toDouble / (q * r.getLong(3))
      }
      cents = next.toIndexedSeq
    }
    base.select(col("vec_id"),
      assignExpr.getField("c").as("cluster"),
      assignExpr.getField("d").as("dist2"))
  }

  def kmeansAssign(t: Tables, k: Int = 4, iters: Int = 2): DataFrame = {
    import t.spark.implicits._
    kmeansAssignOver(t.embeddings, $"vec_id", $"embedding", 64, k, iters)
      .orderBy($"vec_id")
  }

  // ── q140: contrastive-pair mining (hard negatives/positives) ────────
  /** Training-pair construction for contrastive embedding fine-tuning
    * (the batch-mining step of SimCSE/SBERT-style pipelines): per
    * anchor, the HARDEST NEGATIVE (max cosine among other-label
    * vectors — the near-miss the loss learns most from) and the
    * HARDEST POSITIVE (min cosine among same-label vectors — the
    * far-flung in-class example). Ties are deterministic: lowest
    * vec_id, encoded in the comparison key itself — argmax rides
    * `max(struct(cos, −vec_id))`, argmin rides
    * `min(struct(cos, vec_id))`, both lexicographic-struct
    * comparisons DuckDB reproduces with the identical struct
    * semantics, so the oracle is full-value.
    *
    * Plan: anchors broadcast (the q29 shape — the corpus side never
    * shuffles), cosines per (anchor, vector) via the native fused
    * CosineSim, then one (a_id) agg whose partial aggregation
    * reduces each map task to ≤ |anchors| struct rows — at 100 TB
    * the shuffle is |anchors|·tasks rows, independent of corpus
    * size. */
  def contrastivePairsOver(df: DataFrame,
      idCol: org.apache.spark.sql.Column, embCol: org.apache.spark.sql.Column,
      labelCol: org.apache.spark.sql.Column,
      anchorPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val base = df.select(idCol.as("vec_id"), embCol.as("emb"), labelCol.as("label"))
    val anchors = base.filter(anchorPred(col("vec_id")))
      .select(col("vec_id").as("a_id"), col("emb").as("a_emb"),
        col("label").as("a_label"))
    val scored = base.join(broadcast(anchors), col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("vec_id"), col("label"), col("a_label"),
        cosine(col("a_emb"), col("emb")).as("c"))
    scored.groupBy(col("a_id"))
      .agg(
        max(when(col("label") =!= col("a_label"),
          struct(col("c"), (-col("vec_id")).as("nid")))).as("hn"),
        min(when(col("label") === col("a_label"),
          struct(col("c"), col("vec_id").as("pid")))).as("hp"))
      .select(col("a_id"),
        (-col("hn.nid")).as("hard_neg_id"), col("hn.c").as("hard_neg_cos"),
        col("hp.pid").as("hard_pos_id"), col("hp.c").as("hard_pos_cos"))
  }

  def contrastivePairs(t: Tables, nAnchors: Int = 20): DataFrame = {
    import t.spark.implicits._
    contrastivePairsOver(t.embeddings, $"vec_id", $"embedding", $"label",
      _ < nAnchors).orderBy($"a_id")
  }

  // ── q149: per-dimension feature statistics (standardization fit) ────
  /** The "fit" half of feature standardization — per embedding
    * dimension: count, mean, sample std, min, max — the stats a
    * z-score normalizer or whitening step needs before training.
    * Exactness across engines: each float32 component is quantized by
    * the EXACT power-of-two shift 2³⁰ (a float's value times 2³⁰ is
    * an integer-valued double, so floor(+0.5) is exact — unlike the
    * 10⁶ recipe, no multiply rounding at all for inputs < 2²³), and
    * the per-dim moments are DECIMAL(38,0) integer sums; mean/std are
    * then one fixed double expression each over those exact integers,
    * and min/max ride the quantized integers back to exact doubles.
    *
    * The second-moment sum exceeds 2⁵³ beyond ~10k vectors, where
    * integer→double casts stop being exact and engines may round a
    * 128-bit value differently (1-ulp divergence measured at sf0.1).
    * So Σq² is carried as TWO exact sums — hi = Σ(q² div 2³⁰),
    * lo = Σ(q² mod 2³⁰), each < 2⁵³ through ~25M vectors — and
    * reconstructed as hiD·2³⁰ + loD: one rounding, the identical IEEE
    * add on both engines.
    *
    * Plan: posexplode is map-side (n·d rows, no shuffle), the agg is
    * d groups with map-side partial aggregation — the shuffle carries
    * ≈ tasks·d rows regardless of corpus size. The 100 TB shape of
    * every per-column profiling pass. */
  def dimStatsOver(df: DataFrame, vecCol: org.apache.spark.sql.Column,
      scaleBits: Int = 30): DataFrame = {
    require(scaleBits >= 1 && scaleBits <= 30, s"scaleBits out of range: $scaleBits")
    val dec = "decimal(38,0)"
    // domain: |v| < 2^(31.5−scaleBits) keeps q² inside a long (the
    // default 30 covers |v| < 2.8 — any normalized embedding); larger
    // values need a smaller scaleBits, and an out-of-domain input
    // fails LOUDLY via the ANSI overflow, never silently wraps
    val scale = math.pow(2.0, scaleBits) // power-of-two: exact shift
    val scaleL = 1L << scaleBits
    val q = floor(col("__v").cast("double") * lit(scale) + lit(0.5)).cast("long")
    val exploded = df.select(posexplode(vecCol).as(Seq("__pos", "__v")))
      .select((col("__pos") + 1).as("dim"), q.as("q"))
    val q2 = col("q") * col("q") // ≤ (0.6·2³⁰)² ≈ 4e17, exact in long
    val m = exploded.groupBy(col("dim")).agg(
      count(lit(1)).as("n"),
      sum(col("q").cast(dec)).as("sq"),
      sum(expr(s"(q * q) div ${scaleL}L").cast(dec)).as("sqq_hi"), // q² ≥ 0: div = floor
      sum(pmod(q2, lit(scaleL)).cast(dec)).as("sqq_lo"),
      min(col("q")).as("qmin"), max(col("q")).as("qmax"))
    val nD = col("n").cast("double")
    val sqD = col("sq").cast("double")
    val sqqD = col("sqq_hi").cast("double") * lit(scale) +
      col("sqq_lo").cast("double")
    m.select(col("dim"), col("n"),
      (sqD / nD / lit(scale)).as("mean"),
      // sample std is undefined at n = 1 (and ANSI double division
      // would throw on the zero divisor) — NULL there
      when(col("n") > 1,
        sqrt((sqqD - sqD * sqD / nD) / (nD - lit(1.0))) / lit(scale)).as("std"),
      (col("qmin").cast("double") / lit(scale)).as("vmin"),
      (col("qmax").cast("double") / lit(scale)).as("vmax"))
  }

  def embeddingDimStats(t: Tables): DataFrame = {
    import t.spark.implicits._
    dimStatsOver(t.embeddings, $"embedding").orderBy($"dim")
  }
}
