package graft.operators

import graft.{State, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-path near-dedup: MinHash LSH over word shingles.
  *
  * Pipeline: shingle → HashingTF sparse vector (2^18 dims) → MinHash
  * signatures → LSH banding via `approxSimilarityJoin`, which
  * hash-partitions on band buckets so only colliding documents are
  * compared. This is the sub-quadratic (O(n)·bands) alternative to
  * TextOps.jaccardPairs' blocked exact join, and the design that
  * survives 100 TB: no full cross product ever materializes.
  *
  * Seeded → deterministic signatures; results are rows-only checked
  * (MinHash banding is not expressible in the DuckDB oracle).
  */
object Dedup {

  private val NumFeatures = 1 << 18
  // 4 tables: P(candidate | J=0.6) = 1-(1-0.6)^4 ≈ 0.974 — recall at
  // the 0.4-distance threshold stays high while the LSH explode join
  // carries a third fewer rows than 6 tables.
  private val NumHashTables = 4
  private val Seed = 42L

  /** ml-lib candidate slack: approxSimilarityJoin measures distance on
    * HASHED-BUCKET sets, where each TF bucket collision can shift a
    * pair's jaccard by ~1/|union|; candidates are admitted with this
    * margin and then re-verified against the EXACT shingle sets, so
    * every EMITTED distance is exact. The margin covers the collision
    * drift observed at the tested vocabulary sizes (≲1 collision per
    * pair at 2^18 buckets) with ~10× headroom; a corpus whose shingle
    * vocabulary approaches the bucket count needs NumFeatures raised
    * in step — slack is a drift allowance, not a substitute for an
    * adequately-sized hash space. */
  private val CandidateSlack = 0.05

  /** Near-duplicate pairs with EXACT Jaccard distance ≤ maxDist;
    * candidates from ml-lib MinHash LSH, verification on the true
    * shingle sets (two-phase: approximate generation with slack, exact
    * filter — the oracle-checkable composition). */
  def minhashPairs(t: Tables, maxDist: Double = 0.4): DataFrame = {
    import t.spark.implicits._
    // sorted shingles: reused for both featurization (order-blind) and
    // the exact merge-walk verification of surviving candidates
    val docs = t.documents
      .select($"doc_id", array_sort(shingles($"text", 3)).as("sh"))
      .filter(size($"sh") > 0)
      .localCheckpoint(true)
    val tf = new HashingTF()
      .setInputCol("sh").setOutputCol("features").setNumFeatures(NumFeatures)
    // drop the shingle strings before the join: approxSimilarityJoin
    // explodes one row per hash table per doc, and every dropped byte
    // is saved NumHashTables× in the shuffle. localCheckpoint: the LSH
    // self-join consumes the featurized side twice; unlike cache() the
    // blocks are not CacheManager-pinned for the session (at scale
    // you'd persist signatures rather than re-shingle).
    val feats = tf.transform(docs).select($"doc_id", $"features").localCheckpoint(true)
    val lsh = new MinHashLSH()
      .setInputCol("features").setOutputCol("sig")
      .setNumHashTables(NumHashTables).setSeed(Seed)
    val model = lsh.fit(feats)
    val cands = model.approxSimilarityJoin(feats, feats, maxDist + CandidateSlack, "approx_dist")
      .select(
        col("datasetA.doc_id").as("id_a"),
        col("datasetB.doc_id").as("id_b"))
      .filter($"id_a" < $"id_b")
    cands
      .join(docs.select($"doc_id".as("id_a"), $"sh".as("sh_a")), Seq("id_a"))
      .join(docs.select($"doc_id".as("id_b"), $"sh".as("sh_b")), Seq("id_b"))
      .select($"id_a", $"id_b",
        (lit(1.0) - graft.functions.TextFunctions.jaccardSorted($"sh_a", $"sh_b"))
          .as("jaccard_dist"))
      .filter($"jaccard_dist" <= maxDist)
      .orderBy($"id_a", $"id_b")
  }

  /** Expression-based MinHash banding — the literal
    * shingle → minhash → band → bucket-join pipeline, built entirely
    * from codegen'd Catalyst expressions (no ml-lib, no UDFs):
    *
    *  - signature_i = min over shingles of xxhash64(shingle, i),
    *    i ∈ [0, bands·rowsPerBand)
    *  - band key b = xxhash64 of that band's `rowsPerBand` signatures
    *  - docs sharing any band key are candidates (P(candidate) =
    *    1-(1-J^r)^b; r=2, b=16 → 0.9998 at J=0.6, 1-8e-8 at J=0.8)
    *  - candidates verified with EXACT jaccard over distinct shingles
    *
    * Because every candidate is verified with the exact jaccard, the
    * output is always a SUBSET of the true pair set. b=16 (raised
    * from 8 in round 4) sizes the miss tail for SCALE, not just the
    * fixtures: at the generated sf1's 225k planted near-dup pairs,
    * b=8's 2.8e-4 miss probability at the J=0.8 tail really did drop
    * 2 pairs (caught by tools.ScaleEvidence dedup_planted); at b=16
    * the expected miss count stays < 1 up to ~10M borderline pairs. The seeded pipeline
    * is deterministic and emits exactly the true pair set at every
    * checked SF — which is what the DuckDB oracle (brute-force
    * shingle jaccard) checks, MinHashRecallSpec asserts, and
    * ScaleEvidence dedup_planted extends to generated scale via the
    * planted truth.
    *
    * Shuffle volume: `bands` rows of (bandkey, id) per doc — linear.
    * The ml-lib MinHashLSH variant above stays as the library-level
    * alternative; this is the faster hand-rolled scale path. */
  def minhashPairsFast(
      t: Tables, maxDist: Double = 0.4,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    import t.spark.implicits._
    minhashPairsOver(t.documents, $"doc_id", $"text", maxDist, bands, rowsPerBand)
  }

  /** The same pipeline over an ARBITRARY corpus (Graft facade entry). */
  def minhashPairsOver(
      df: org.apache.spark.sql.DataFrame, idCol: org.apache.spark.sql.Column,
      textCol: org.apache.spark.sql.Column, maxDist: Double,
      bands: Int, rowsPerBand: Int, shingleK: Int = 3): DataFrame =
    minhashPairsCore(df, idCol, textCol, maxDist, bands, rowsPerBand, shingleK)
      .orderBy(col("id_a"), col("id_b"))

  /** [[minhashPairsOver]] without the presentation sort — for
    * consumers (clustering) that immediately reshuffle the pairs. */
  private[operators] def minhashPairsCore(
      df: org.apache.spark.sql.DataFrame, idCol: org.apache.spark.sql.Column,
      textCol: org.apache.spark.sql.Column, maxDist: Double,
      bands: Int, rowsPerBand: Int, shingleK: Int = 3): DataFrame = {
    // Sorted shingle sets: candidate verification below is then a
    // native merge-walk intersect (jaccardSorted) — no per-pair
    // hash-set allocation. Materialized ONCE via localCheckpoint
    // (consumed by banding + two candidate-side fetch joins; at scale:
    // a persisted signature table). Unlike cache(), checkpoint blocks
    // are NOT pinned in the CacheManager for the session lifetime —
    // the context cleaner releases them once the returned plan is no
    // longer referenced.
    // Alongside the string shingles (consumed once, by banding), an
    // 8-byte xxhash64 per shingle: the VERIFY join below carries only
    // these packed long arrays — ~8·|sh| bytes/doc vs ~2 KB of shingle
    // strings, the difference between ~90 GB and ~270 GB of join
    // intermediates at sf30's 67.5M answer-bound pairs (the one-box
    // page-cache cliff in BASELINE.md). Jaccard over the hash SETS
    // equals jaccard over the shingle sets unless two distinct
    // shingles in one candidate pair's union collide in 64 bits:
    // P ≤ (|A|+|B|)²/2⁶⁵ ≈ 1e-14 per pair at ~600 shingles — ~1e-6
    // expected affected pairs across sf30's 67.5M, and the driver-SF
    // oracles re-confirm bit-equality every round.
    val docs = df
      .select(idCol.as("doc_id"), array_sort(shingles(textCol, shingleK)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("shh",
        array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))))
      .localCheckpoint(true)
    // All minhash signatures in ONE pass (native expression), then
    // one band key per `rowsPerBand` signatures. The band join carries
    // ONLY (band key, doc_id) — never the shingle arrays; shuffle
    // volume is `bands` 16-byte rows per doc, linear in corpus size.
    val sigs = call_function("minhash_sigs", col("sh"), lit(bands * rowsPerBand))
    val bandKeys = array((0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r =>
        element_at(col("sigs"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(parts: _*).as("key"))
    }: _*)
    val banded = docs
      .withColumn("sigs", sigs)
      .select(col("doc_id"), explode(bandKeys).as("bk"))
    val cands = banded.select(col("doc_id").as("id_a"), col("bk"))
      .join(banded.select(col("doc_id").as("id_b"), col("bk")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // fetch shingle-HASH sets only for surviving candidate pairs —
    // never the shingle strings (see the collision-bound note above)
    cands
      .join(docs.select(col("doc_id").as("id_a"), col("shh").as("shh_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("shh").as("shh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (lit(1.0) - graft.functions.TextFunctions.jaccardSorted(col("shh_a"), col("shh_b")))
          .as("jaccard_dist"))
      .filter(col("jaccard_dist") <= maxDist)
  }

  // ── q162: incremental dedup against a persisted band index ──────────
  // The production shape of near-dedup is not one batch over the
  // whole corpus: yesterday's corpus is already banded and verified,
  // and today's ingest delta should only pay for ITS OWN bands plus
  // the verify work its candidates touch. The index persists three
  // tables: `<prefix>_docs` (doc_id, shh — the 8-byte shingle-hash
  // sets, bucketed by doc_id), `<prefix>_bands` (bk, doc_id — one
  // flattened 64-bit band key per band, bucketed by bk), and
  // `<prefix>_pairs` (the index-internal verified pair set —
  // answer-bound, tiny next to the corpus). Incremental dedup then
  // joins the delta's bands against the band table BUCKET-LOCALLY
  // (zero exchanges on the index side — only the delta shuffles into
  // the index's layout), verifies cross candidates against the doc
  // table (again bucket-co-located on doc_id), and re-runs connected
  // components over (persisted pairs ∪ new pairs) — CC is cheap
  // because the edge set is answer-bound; the corpus-scale work
  // (shingling, signatures, banding of the index side) is exactly
  // what never re-runs.
  //
  // Equivalence to from-scratch: signatures and band keys are pure
  // per-doc functions, so a pair co-buckets in the split run iff it
  // co-buckets in the one-shot run; the flattened xxhash64 band key
  // can only ADD candidates over the struct key (a 64-bit collision
  // merges two buckets), and every candidate is exact-verified — the
  // verified pair set, hence the clustering, is identical. q162's
  // oracle is therefore q103's from-scratch closure over the union.

  /** Shingled docs with 8-byte shingle-hash sets; `shh` is empty for
    * docs below the shingle width (they still cluster as singletons). */
  private[operators] def shingledDocs(df: DataFrame,
      idCol: org.apache.spark.sql.Column, textCol: org.apache.spark.sql.Column,
      shingleK: Int): DataFrame =
    df.select(idCol.as("doc_id"), array_sort(shingles(textCol, shingleK)).as("sh"))
      .withColumn("shh",
        array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))))

  /** One flattened 64-bit band key per band: xxhash64(band, sigs...).
    * Collisions across (band, sig) tuples only widen candidate sets
    * (exact verify filters them), never lose a candidate. */
  private[operators] def flatBands(docs: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val sigs = call_function("minhash_sigs", col("sh"), lit(bands * rowsPerBand))
    val keys = array((0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r =>
        element_at(col("sigs"), b * rowsPerBand + r + 1))
      xxhash64(lit(b) +: parts: _*)
    }: _*)
    docs.filter(size(col("sh")) > 0)
      .withColumn("sigs", sigs)
      .select(col("doc_id"), explode(keys).as("bk"))
  }

  /** Build and persist the dedup index for `docs` under `prefix`.
    * One corpus pass for shingles/signatures (the localCheckpoint is
    * a stand-in for the persisted signature table at cluster scale),
    * two bucketed writes, and the index-internal verified pair set. */
  def buildDedupIndex(docs: DataFrame, idCol: org.apache.spark.sql.Column,
      textCol: org.apache.spark.sql.Column, prefix: String,
      maxDist: Double = 0.4, bands: Int = 16, rowsPerBand: Int = 2,
      shingleK: Int = 3, buckets: Int = 8): Unit = {
    State.dropTables(docs.sparkSession,
      s"${prefix}_docs", s"${prefix}_bands", s"${prefix}_pairs")
    val d = shingledDocs(docs, idCol, textCol, shingleK).localCheckpoint(true)
    d.select(col("doc_id"), col("shh"))
      .repartition(buckets, col("doc_id")).write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_docs")
    flatBands(d, bands, rowsPerBand)
      .repartition(buckets, col("bk")).write.bucketBy(buckets, "bk").sortBy("bk")
      .saveAsTable(s"${prefix}_bands")
    // bucketed like every other state table (one file per bucket):
    // unpartitioned, this write inherited the verify join's task
    // layout — the last state write still doing so (guide §6)
    minhashPairsCore(docs, idCol, textCol, maxDist, bands, rowsPerBand, shingleK)
      .select(col("id_a"), col("id_b"))
      .repartition(buckets, col("id_a")).write.bucketBy(buckets, "id_a")
      .saveAsTable(s"${prefix}_pairs")
  }

  /** Dedup a delta corpus against the persisted index: cluster labels
    * over (index ∪ delta), identical to from-scratch clustering of
    * the union (see the equivalence note above). The delta pays for
    * its own banding, one shuffle INTO the index's band layout, the
    * candidate verify, and the answer-bound CC — the index is never
    * re-shingled, re-signed, or re-banded, and its tables are read
    * in bucket layout with zero exchanges (IncrementalDedupSpec). */
  def dedupIncrementalOver(delta: DataFrame,
      idCol: org.apache.spark.sql.Column, textCol: org.apache.spark.sql.Column,
      prefix: String, maxDist: Double = 0.4, bands: Int = 16,
      rowsPerBand: Int = 2, shingleK: Int = 3): DataFrame = {
    val spark = delta.sparkSession
    val idxDocs = spark.table(s"${prefix}_docs")
    val idxBands = spark.table(s"${prefix}_bands")
    val idxPairs = spark.table(s"${prefix}_pairs")
    val dd = shingledDocs(delta, idCol, textCol, shingleK).localCheckpoint(true)
    // candidate join: merge-hinted (at scale neither side broadcasts)
    // — the index side reads its buckets sorted, only the delta's
    // band rows shuffle
    val cross = flatBands(dd, bands, rowsPerBand)
      .select(col("doc_id").as("id_d"), col("bk")).hint("merge")
      .join(idxBands.select(col("doc_id").as("id_i"), col("bk")), Seq("bk"))
      .select(col("id_d"), col("id_i"))
      .distinct()
    // verify: delta shh rides a broadcast (the delta is the small
    // side by definition), index shh is fetched where it lives
    val crossPairs = cross
      .join(broadcast(dd.select(col("doc_id").as("id_d"), col("shh").as("shh_d"))),
        Seq("id_d"))
      .join(idxDocs.select(col("doc_id").as("id_i"), col("shh").as("shh_i")),
        Seq("id_i"))
      .filter(lit(1.0) - graft.functions.TextFunctions.jaccardSorted(
        col("shh_d"), col("shh_i")) <= maxDist)
      .select(col("id_d").as("id_a"), col("id_i").as("id_b"))
    // delta-internal pairs re-use the one-shot pipeline on the delta
    val deltaPairs = minhashPairsCore(delta, idCol, textCol, maxDist,
      bands, rowsPerBand, shingleK).select(col("id_a"), col("id_b"))
    val allPairs = idxPairs.select(col("id_a"), col("id_b"))
      .union(crossPairs).union(deltaPairs)
    val nodes = idxDocs.select(col("doc_id"))
      .union(delta.select(idCol.as("doc_id")))
    connectedComponents(nodes, allPairs, edgesWithinNodes = true)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("is_keeper"))
  }

  /** Emit the UPDATED index under `outPrefix`: the delta's docs/bands
    * appended to the persisted tables, the pair table extended by the
    * cross + delta-internal pairs — so tomorrow's delta deduplicates
    * against today's union without ever rebuilding. */
  def updateDedupIndex(delta: DataFrame,
      idCol: org.apache.spark.sql.Column, textCol: org.apache.spark.sql.Column,
      prefix: String, outPrefix: String,
      maxDist: Double = 0.4, bands: Int = 16, rowsPerBand: Int = 2,
      shingleK: Int = 3, buckets: Int = 8): Unit = {
    require(outPrefix != prefix, "write the updated index under a new prefix")
    val spark = delta.sparkSession
    State.dropTables(spark,
      s"${outPrefix}_docs", s"${outPrefix}_bands", s"${outPrefix}_pairs")
    val dd = shingledDocs(delta, idCol, textCol, shingleK).localCheckpoint(true)
    spark.table(s"${prefix}_docs")
      .unionByName(dd.select(col("doc_id"), col("shh")))
      .repartition(buckets, col("doc_id")).write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${outPrefix}_docs")
    // unionByName: the table's column order is a storage detail the
    // delta frame must not have to match positionally
    spark.table(s"${prefix}_bands")
      .unionByName(flatBands(dd, bands, rowsPerBand))
      .repartition(buckets, col("bk")).write.bucketBy(buckets, "bk").sortBy("bk")
      .saveAsTable(s"${outPrefix}_bands")
    val idxDocs = spark.table(s"${prefix}_docs")
    val newPairs = flatBands(dd, bands, rowsPerBand)
      .select(col("doc_id").as("id_d"), col("bk")).hint("merge")
      .join(spark.table(s"${prefix}_bands")
        .select(col("doc_id").as("id_i"), col("bk")), Seq("bk"))
      .select(col("id_d"), col("id_i")).distinct()
      .join(broadcast(dd.select(col("doc_id").as("id_d"), col("shh").as("shh_d"))),
        Seq("id_d"))
      .join(idxDocs.select(col("doc_id").as("id_i"), col("shh").as("shh_i")),
        Seq("id_i"))
      .filter(lit(1.0) - graft.functions.TextFunctions.jaccardSorted(
        col("shh_d"), col("shh_i")) <= maxDist)
      .select(col("id_d").as("id_a"), col("id_i").as("id_b"))
      .union(minhashPairsCore(delta, idCol, textCol, maxDist, bands,
        rowsPerBand, shingleK).select(col("id_a"), col("id_b")))
    spark.table(s"${prefix}_pairs").union(newPairs)
      .repartition(buckets, col("id_a")).write.bucketBy(buckets, "id_a")
      .saveAsTable(s"${outPrefix}_pairs")
  }

  // ── q215: incremental dedup under DOCUMENT DELETION ──────────────────
  // [[updateDedupIndex]] is insert-only: a removed document (GDPR
  // purge, license takedown, corpus re-curation — the most common
  // mutation a production corpus store sees) would leave its band
  // keys in the index as phantom candidates, and min-label clustering
  // can never SPLIT the cluster it bridged. The treatment is q208's
  // touched-component recipe transplanted to the dedup graph: persist
  // the clustering alongside the index with the verified-pair set
  // bucketed BY CLUSTER, and on a delete batch re-run CC over ONLY the
  // clusters that lost a member — their surviving members and
  // surviving pairs stream off the cluster-bucketed state (broadcast
  // semi-joins, no state shuffle); every untouched cluster's rows pass
  // through byte-identically. Exact because jaccard is a per-pair
  // function (deleting a doc removes exactly its incident pairs,
  // never creating one) and the pair set is transitively closed into
  // clusters — no surviving pair crosses a cluster boundary, so CC
  // restricted to a touched cluster IS the global CC there. Cost:
  // O(|D| + members/pairs-of-touched-clusters); the corpus-scale
  // tables (docs, bands) are never re-read for the labeling.

  /** [[buildDedupIndex]] plus the delete-capable state: a
    * `${prefix}_clusters` labeling (doc_id, cluster) bucketed by
    * cluster, and the `${prefix}_pairs` table written WITH each
    * pair's cluster label, bucketed by cluster — so a delete batch's
    * touched-cluster re-solve reads only its own buckets. The
    * insert-side consumers ([[dedupIncrementalOver]],
    * [[updateDedupIndex]]) select (id_a, id_b) by name and read this
    * layout unchanged. */
  def buildDedupIndexFull(docs: DataFrame, idCol: org.apache.spark.sql.Column,
      textCol: org.apache.spark.sql.Column, prefix: String,
      maxDist: Double = 0.4, bands: Int = 16, rowsPerBand: Int = 2,
      shingleK: Int = 3, buckets: Int = 8): Unit = {
    val spark = docs.sparkSession
    State.dropTables(spark, s"${prefix}_docs", s"${prefix}_bands",
      s"${prefix}_pairs", s"${prefix}_clusters")
    val d = shingledDocs(docs, idCol, textCol, shingleK).localCheckpoint(true)
    d.select(col("doc_id"), col("shh"))
      .repartition(buckets, col("doc_id")).write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_docs")
    flatBands(d, bands, rowsPerBand)
      .repartition(buckets, col("bk")).write.bucketBy(buckets, "bk").sortBy("bk")
      .saveAsTable(s"${prefix}_bands")
    val pairs = minhashPairsCore(docs, idCol, textCol, maxDist, bands,
      rowsPerBand, shingleK)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    connectedComponents(docs.select(idCol.as("doc_id")), pairs,
        edgesWithinNodes = true)
      .select(col("id").as("doc_id"), col("component").as("cluster"))
      .repartition(buckets, col("cluster")).write.bucketBy(buckets, "cluster").sortBy("cluster", "doc_id")
      .saveAsTable(s"${prefix}_clusters")
    // both endpoints share one cluster by construction (the labeling
    // is the transitive closure of exactly these pairs)
    pairs
      .join(spark.table(s"${prefix}_clusters")
        .select(col("doc_id").as("id_a"), col("cluster")), Seq("id_a"))
      .select(col("cluster"), col("id_a"), col("id_b"))
      .repartition(buckets, col("cluster")).write.bucketBy(buckets, "cluster").sortBy("cluster", "id_a", "id_b")
      .saveAsTable(s"${prefix}_pairs")
  }

  /** Roll the FULL index forward under an INSERT delta — the
    * [[updateDedupIndex]] of the delete-capable state (that one's
    * positional pair-table union rejects the labeled sidecar loudly,
    * but a full-state user needs the path, not the error): docs and
    * bands append as before, the pair sidecar gains the delta's
    * cross + internal pairs, and clustering/pair labels rewrite under
    * [[dedupIncrementalOver]]'s post-insert labeling — so inserts and
    * deletes compose on ONE state (DedupRetractSpec's weld/un-weld
    * round-trip proves two-step ≡ rebuild, ER's q216 contract). */
  def updateDedupIndexInserts(delta: DataFrame,
      idCol: org.apache.spark.sql.Column, textCol: org.apache.spark.sql.Column,
      prefix: String, outPrefix: String,
      maxDist: Double = 0.4, bands: Int = 16, rowsPerBand: Int = 2,
      shingleK: Int = 3, buckets: Int = 8): Unit = {
    require(outPrefix != prefix, "write the updated index under a new prefix")
    val spark = delta.sparkSession
    val labels = dedupIncrementalOver(delta, idCol, textCol, prefix,
      maxDist, bands, rowsPerBand, shingleK).localCheckpoint(true)
    val dd = shingledDocs(delta, idCol, textCol, shingleK).localCheckpoint(true)
    // the delta's pairs against the index + internal to itself — the
    // same candidate/verify shape updateDedupIndex appends
    val newPairs = flatBands(dd, bands, rowsPerBand)
      .select(col("doc_id").as("id_d"), col("bk")).hint("merge")
      .join(spark.table(s"${prefix}_bands")
        .select(col("doc_id").as("id_i"), col("bk")), Seq("bk"))
      .select(col("id_d"), col("id_i")).distinct()
      .join(broadcast(dd.select(col("doc_id").as("id_d"),
        col("shh").as("shh_d"))), Seq("id_d"))
      .join(spark.table(s"${prefix}_docs")
        .select(col("doc_id").as("id_i"), col("shh").as("shh_i")), Seq("id_i"))
      .filter(lit(1.0) - graft.functions.TextFunctions.jaccardSorted(
        col("shh_d"), col("shh_i")) <= maxDist)
      .select(col("id_d").as("id_a"), col("id_i").as("id_b"))
      .union(minhashPairsCore(delta, idCol, textCol, maxDist, bands,
        rowsPerBand, shingleK).select(col("id_a"), col("id_b")))
      .localCheckpoint(true)
    State.dropTables(spark, s"${outPrefix}_docs", s"${outPrefix}_bands",
      s"${outPrefix}_pairs", s"${outPrefix}_clusters")
    spark.table(s"${prefix}_docs")
      .unionByName(dd.select(col("doc_id"), col("shh")))
      .repartition(buckets, col("doc_id")).write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${outPrefix}_docs")
    spark.table(s"${prefix}_bands")
      .unionByName(flatBands(dd, bands, rowsPerBand))
      .repartition(buckets, col("bk")).write.bucketBy(buckets, "bk").sortBy("bk")
      .saveAsTable(s"${outPrefix}_bands")
    labels.select(col("doc_id"), col("cluster_id").as("cluster"))
      .repartition(buckets, col("cluster")).write.bucketBy(buckets, "cluster").sortBy("cluster", "doc_id")
      .saveAsTable(s"${outPrefix}_clusters")
    spark.table(s"${prefix}_pairs")
      .select(col("id_a"), col("id_b"))
      .unionByName(newPairs)
      .join(labels.select(col("doc_id").as("id_a"),
        col("cluster_id").as("cluster")), Seq("id_a"))
      .select(col("cluster"), col("id_a"), col("id_b"))
      .repartition(buckets, col("cluster")).write.bucketBy(buckets, "cluster").sortBy("cluster", "id_a", "id_b")
      .saveAsTable(s"${outPrefix}_pairs")
  }

  /** Cluster labels over the SURVIVING corpus after deleting
    * `deleteIds` from a [[buildDedupIndexFull]] state — identical to
    * from-scratch clustering of the survivors (q215's oracle).
    * Deletes referencing a doc the state never held raise loudly
    * (the [[graft.operators.Ivm]] family's phantom contract). */
  def dedupApplyDeletes(deleteIds: DataFrame, prefix: String): DataFrame = {
    val spark = deleteIds.sparkSession
    val clusters = spark.table(s"${prefix}_clusters")
    val pairs = spark.table(s"${prefix}_pairs")
    // both counts ride their frame's materialization job via observe()
    // (the connectedComponents recipe — two fewer driver jobs on a
    // latency-bound fold)
    val (del, nDel) = State.checkpointCounted(
      deleteIds.select(col(deleteIds.columns.head).as("doc_id")).distinct(),
      count(lit(1)))
    // each delete's cluster off the bucketed labeling — the small side
    // broadcasts; the matched rows are delta-bounded
    val (matched, nMatched) = State.checkpointCounted(
      clusters.join(broadcast(del), Seq("doc_id")).select(col("cluster")),
      count(lit(1)))
    if (nMatched != nDel)
      throw new IllegalArgumentException(
        s"Dedup.dedupApplyDeletes: ${nDel - nMatched} of $nDel deletes "
          + "reference documents the index never held — phantom deletes")
    val delComp = matched.distinct()
    // touched clusters' surviving members and pairs, off the
    // cluster-bucketed state (broadcast semi + anti joins — no state
    // shuffle, DedupRetractSpec asserts it)
    val survMembers = clusters
      .join(broadcast(delComp), Seq("cluster"), "left_semi")
      .join(broadcast(del), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val survPairs = pairs
      .join(broadcast(delComp), Seq("cluster"), "left_semi")
      .join(broadcast(del.select(col("doc_id").as("id_a"))),
        Seq("id_a"), "left_anti")
      .join(broadcast(del.select(col("doc_id").as("id_b"))),
        Seq("id_b"), "left_anti")
      .select(col("id_a"), col("id_b"))
    val cc = connectedComponents(survMembers, survPairs,
      edgesWithinNodes = true)
    clusters.join(broadcast(delComp), Seq("cluster"), "left_anti")
      .select(col("doc_id"), col("cluster").as("cluster_id"))
      .unionByName(cc.select(col("id").as("doc_id"),
        col("component").as("cluster_id")))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
  }

  /** Roll the FULL index forward under a delete batch, writing the
    * updated state under `outPrefix`: the deleted docs' rows leave
    * every table — no phantom band keys remain to candidate against
    * tomorrow's delta — and the touched clusters' labels/pairs carry
    * the post-delete labeling. Two-step ≡ rebuild over the survivors
    * (DedupRetractSpec proves table-level equality). */
  def updateDedupIndexDeletes(deleteIds: DataFrame, prefix: String,
      outPrefix: String, buckets: Int = 8): Unit = {
    require(outPrefix != prefix, "write the updated index under a new prefix")
    val spark = deleteIds.sparkSession
    val labels = dedupApplyDeletes(deleteIds, prefix).localCheckpoint(true)
    val del = deleteIds.select(col(deleteIds.columns.head).as("doc_id"))
      .distinct().localCheckpoint(true)
    State.dropTables(spark, s"${outPrefix}_docs", s"${outPrefix}_bands",
      s"${outPrefix}_pairs", s"${outPrefix}_clusters")
    spark.table(s"${prefix}_docs")
      .join(broadcast(del), Seq("doc_id"), "left_anti")
      .repartition(buckets, col("doc_id")).write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${outPrefix}_docs")
    spark.table(s"${prefix}_bands")
      .join(broadcast(del), Seq("doc_id"), "left_anti")
      .repartition(buckets, col("bk")).write.bucketBy(buckets, "bk").sortBy("bk")
      .saveAsTable(s"${outPrefix}_bands")
    labels.select(col("doc_id"), col("cluster_id").as("cluster"))
      .repartition(buckets, col("cluster")).write.bucketBy(buckets, "cluster").sortBy("cluster", "doc_id")
      .saveAsTable(s"${outPrefix}_clusters")
    spark.table(s"${prefix}_pairs")
      .select(col("id_a"), col("id_b"))
      .join(broadcast(del.select(col("doc_id").as("id_a"))),
        Seq("id_a"), "left_anti")
      .join(broadcast(del.select(col("doc_id").as("id_b"))),
        Seq("id_b"), "left_anti")
      .join(labels.select(col("doc_id").as("id_a"),
        col("cluster_id").as("cluster")), Seq("id_a"))
      .select(col("cluster"), col("id_a"), col("id_b"))
      .repartition(buckets, col("cluster")).write.bucketBy(buckets, "cluster").sortBy("cluster", "id_a", "id_b")
      .saveAsTable(s"${outPrefix}_pairs")
  }

  /** q215 fixture: the FULL delete-capable index built over the whole
    * corpus once (memoized, the q162/q198 recipe), then the
    * doc_id ≡ 5 (mod 13) slice DELETED at query time. The emitted
    * clustering covers the survivors and must hash-equal q103's
    * from-scratch closure over exactly the surviving corpus — blind
    * to the engine's state/delete split. */
  def dedupDeleteClusters(t: Tables, maxDist: Double = 0.4): DataFrame = {
    import t.spark.implicits._
    val isDel = ($"doc_id" % 13) === 5
    val prefix = State.ensure(t, "dedupf_idx", "documents") {
      buildDedupIndexFull(t.documents, $"doc_id", $"text", _, maxDist)
    }
    dedupApplyDeletes(t.documents.filter(isDel).select($"doc_id"), prefix)
      .orderBy($"doc_id")
  }

  /** q162 fixture instance: the corpus split 90/10 by doc_id — the
    * 90% "yesterday" side indexed once (memoized per fixture
    * fingerprint, the q116 recipe), the 10% delta deduped against it.
    * The emitted clustering covers the UNION and must hash-equal
    * q103's from-scratch closure over the whole table. */
  def incrementalDedupClusters(t: Tables, maxDist: Double = 0.4): DataFrame = {
    import t.spark.implicits._
    val isDelta = ($"doc_id" % 10) === 0
    val prefix = State.ensure(t, "dedup_idx", "documents") {
      buildDedupIndex(t.documents.filter(!isDelta), $"doc_id", $"text", _, maxDist)
    }
    dedupIncrementalOver(t.documents.filter(isDelta), $"doc_id", $"text",
      prefix, maxDist)
      .orderBy($"doc_id")
  }

  /** Embedding-cosine near-dup pairs: ALL pairs at cosine ≥ minCos,
    * EXACT, as a block-replicated theta join (the 1-Bucket-Theta /
    * blocked-matmul scheme) instead of a broadcast nested loop.
    *
    * Why not LSH here: with the declared threshold of 0.4, true pairs
    * sit at the bulk of the angular distribution (fixture pairs span
    * cos 0.400–0.60; a cos-0.4 pair agrees with a random hyperplane
    * with probability only 1−θ/π ≈ 0.63), so no banding scheme reaches
    * recall 1 without probing a super-quadratic candidate volume —
    * sub-linear ANN pays off at HIGH similarity (see
    * [[embeddingNearDupsBanded]] for that regime and the math). An
    * exact low-threshold all-pairs join is Θ(n²) dot products by
    * nature; the scale question is how that work is laid out:
    *
    *  - Every vector lands in one of `blocks` deterministic blocks;
    *    each unordered block pair (bi ≤ bj) is one join task.
    *  - Each row is replicated exactly blocks+1 times (a-side to pairs
    *    (blk, *), b-side to pairs (*, blk)) — shuffle volume is
    *    (blocks+1)·n rows, task memory is two blocks of vectors, and
    *    the n²/2 dot products spread EVENLY over blocks·(blocks+1)/2
    *    equi-join tasks. Nothing is broadcast except the tiny
    *    block-pair table; no executor ever holds the corpus.
    *
    * Per-vector norms are hoisted out of the pair loop —
    * `dot/(nrm_a·nrm_b)` is bit-identical to `cosine_sim` per pair at
    * a third of the multiplies. The IEEE fold is symmetric in (a, b),
    * so canonicalizing ids AFTER the cosine is exact. */
  def embeddingNearDups(t: Tables, minCos: Double = 0.4, blocks: Int = 16): DataFrame = {
    import t.spark.implicits._
    import graft.functions.SimilarityFunctions.{dotNative, factoredCosine, l2NormNative}
    require(blocks >= 1, s"blocks must be >= 1: $blocks")
    val e = t.embeddings
      .select($"vec_id", $"embedding", l2NormNative($"embedding").as("nrm"),
        pmod(xxhash64($"vec_id"), lit(blocks)).cast("int").as("blk"))
    val pairBlocks = broadcast(
      (for { i <- 0 until blocks; j <- i until blocks } yield (i, j)).toDF("bi", "bj"))
    val aExp = e.join(pairBlocks, $"blk" === $"bi")
      .select($"bi", $"bj", $"vec_id".as("id_l"), $"embedding".as("e_l"), $"nrm".as("nrm_l"))
    val bExp = e.join(pairBlocks, $"blk" === $"bj")
      .select($"bi", $"bj", $"vec_id".as("id_r"), $"embedding".as("e_r"), $"nrm".as("nrm_r"))
    aExp.join(bExp, Seq("bi", "bj"))
      // cross-block pairs meet in exactly one task (blk_l=bi < bj=blk_r);
      // diagonal tasks see both orderings → keep one
      .filter($"bi" < $"bj" || $"id_l" < $"id_r")
      .select($"id_l", $"id_r",
        factoredCosine(dotNative($"e_l", $"e_r"), $"nrm_l", $"nrm_r").as("cos_sim"))
      .filter($"cos_sim" >= minCos)
      .select(least($"id_l", $"id_r").as("id_a"),
        greatest($"id_l", $"id_r").as("id_b"), $"cos_sim")
      .orderBy($"id_a", $"id_b")
  }

  /** One Gaussian plane set per (band, plane) position — deterministic
    * in `seed`, shared by the batch path below and the streaming path
    * ([[graft.streaming.StreamEmbedDedup]]) so both produce identical
    * sign bits / band keys for the same vector. */
  private[graft] def bandPlanes(
      bands: Int, planesPerBand: Int, dim: Int,
      seed: Long): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(bands)(IndexedSeq.fill(planesPerBand)(
      Array.fill(dim)(rnd.nextGaussian())))
  }

  /** Corpus size above which [[embeddingNearDupsBanded]] switches
    * from its fixed small-corpus sizing (b=12, r=4) to
    * [[adaptiveBandParams]]. Every driver-provided SF sits below the
    * threshold (sf0.1 has ~2.1k embeddings), so the driver's oracle
    * hashes are byte-identical to the pre-adaptive implementation;
    * generated sf1+ corpora get the occupancy-bounded sizing. */
  private[graft] val AdaptiveAbove = 4096L

  /** Corpus-size bound for broadcasting the verify-side vector table
    * in [[embeddingNearDupsBanded]]. Below it the per-vector codes
    * (~88 B) / raw embeddings (~270 B) fit a single broadcast
    * (≤ ~180 MB / ~550 MB — torrent-distributed once per executor on
    * a cluster), so the candidate-pair set never shuffles for either
    * verify tier; above it the side table is itself distributed-scale
    * and the joins fall back to shuffle-hash. Physical strategy only —
    * the emitted rows are identical on both sides of the bound. */
  private[graft] val BroadcastVerifyBelow = 2000000L

  /** Occupancy-targeted LSH sizing — the piece that keeps the banded
    * path's CANDIDATE volume linear as the corpus grows. With a fixed
    * plane count r, a random corpus spreads over only 2^r buckets per
    * band, so expected candidates are b·n²/2^r — quadratic in n (the
    * round-7 sf3 sweep measured exactly that: 41 GB of shuffle at
    * 60k vectors). Fix: keep expected bucket OCCUPANCY constant,
    * r = log2(n/occ), so candidates ≈ b·n·occ/2; then size b from the
    * recall bound b = ln(maxMiss)/ln(1−p^r), p = 1−arccos(recallCos)/π,
    * so pairs at cos ≥ recallCos are still caught with probability
    * ≥ 1−maxMiss. Net growth is the classic LSH n^(1+ρ): b grows as
    * (1/p)^r ≈ n^0.22 at recallCos 0.9 — e.g. n=20k → (86, 13),
    * n=200k → (141, 16). maxPlanes=24 covers corpora to ~67M vectors;
    * raise it (and this doc) for more. maxBands=1024 keeps the recall
    * bound honest through the full r range: at recallCos 0.9 and
    * r=24 the bound needs b≈562, so the default clamp never bites
    * below ~67M vectors (a caller-supplied lower maxBands is honored
    * but weakens the promised miss rate to (1−p^r)^maxBands — the
    * require below refuses a clamp that would cut the computed b,
    * rather than silently degrading recall). */
  private[graft] def adaptiveBandParams(
      n: Long, recallCos: Double, maxMiss: Double = 1e-6,
      targetOcc: Int = 4, minPlanes: Int = 4, maxPlanes: Int = 24,
      minBands: Int = 12, maxBands: Int = 1024): (Int, Int) = {
    require(n > 0 && recallCos > 0 && recallCos < 1 &&
      maxMiss > 0 && maxMiss < 1, s"bad adaptive params: n=$n cos=$recallCos")
    val r = math.min(maxPlanes, math.max(minPlanes,
      math.ceil(math.log(n.toDouble / targetOcc) / math.log(2.0)).toInt))
    val p = 1.0 - math.acos(recallCos) / math.Pi
    val pr = math.pow(p, r)
    val bNeeded = math.max(minBands,
      math.ceil(math.log(maxMiss) / math.log1p(-pr)).toInt)
    require(bNeeded <= maxBands,
      s"adaptiveBandParams: recall bound needs b=$bNeeded bands at r=$r " +
        s"but maxBands=$maxBands — raise maxBands or relax maxMiss " +
        s"(actual miss at the clamp would be ${math.pow(1 - pr, maxBands)})")
    (bNeeded, r)
  }

  /** Scale path for embedding near-dup at HIGH similarity:
    * random-hyperplane band candidates + exact factored-cosine verify
    * (two-phase, like [[minhashPairsFast]]). Emits a SUBSET of the
    * exact pair set with exact cosines; per-pair recall is
    * 1−(1−p^r)^b with p = 1−arccos(cos)/π — at cos 0.9 (r=4 planes,
    * b=12 bands) that is ≥ 0.9997, while at the 0.4 threshold of
    * [[embeddingNearDups]] it would be ~0.55, which is why the exact
    * blocked join owns the low-threshold regime and this owns genuine
    * near-dup thresholds.
    *
    * Scale shape: the (band, key, id) shuffle is b·n rows, and — the
    * part a fixed plane count gets wrong — the candidate JOIN output
    * is kept ≈ b·n·occ/2 by [[adaptiveBandParams]] above
    * [[AdaptiveAbove]] vectors (sub-threshold corpora, including every
    * driver SF, keep the legacy fixed sizing bit-for-bit). All band
    * keys come out of ONE codegen'd pass over a single flat plane
    * matrix ([[graft.expr.BandKeys]]); the old one-literal-array-per-
    * plane projection would blow Janino's method limit at adaptive
    * sizes and fall back to interpreted eval.
    *
    * VERIFY is two-tier (round 8 — the b62da75 treatment applied to
    * the embedding family): the candidate join carries int8 codes
    * (64 B + three scalars ≈ 88 B/vector) instead of float32 arrays
    * (256 B), and screens on the exact-integer quantized dot plus a
    * SOUND error bound — for a = â+δ, b = b̂+ε with |δᵢ| ≤ s_a/2,
    * |εᵢ| ≤ s_b/2: |dot(a,b) − dot(â,b̂)| ≤ (s_b/2)·‖â‖₁ +
    * (s_a/2)·‖b̂‖₁ + d·s_a·s_b/4 — so every pair with exact
    * cos ≥ minCos survives the screen by construction (the bound is
    * inflated by 1e-9 relative to absorb double rounding). Only the
    * screened survivors (≈ the answer plus a thin borderline shell:
    * the bound is ~2–3e-2 in cosine at these scales) join back to the
    * raw embeddings for the EXACT factored-cosine verify, so the
    * output pair set and cosines are bit-identical to the one-tier
    * join at every SF while the wide verify intermediates shrink ~3×
    * — the difference between fitting the sf30 corpus in one box's
    * memory hierarchy and not. */
  def embeddingNearDupsBanded(
      df: DataFrame, idCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column, minCos: Double,
      bands: Int = 12, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42L, adaptive: Boolean = true): DataFrame = {
    import graft.functions.SimilarityFunctions.{dotNative, factoredCosine, l2NormNative}
    // int8 screening codes, one pass per VECTOR: scale s = max|x|/127,
    // code = round(x/s) (half-away, |x − code·s| ≤ s/2), plus the two
    // scalars the per-pair error bound needs (‖â‖₁ as l1 = s·Σ|code|,
    // and the L2 norm the exact verify reuses). All-zero vectors take
    // code 0 everywhere (s = 0 would otherwise divide to NaN).
    val scRaw = array_max(transform(embCol, x => abs(x.cast("double")))) / lit(127.0)
    val q8 = transform(col("__emb"), x =>
      when(col("__sc") === 0.0, lit(0))
        .otherwise(round(x.cast("double") / col("__sc"), 0)).cast("tinyint"))
    val e = df
      .select(idCol.as("__id"), embCol.as("__emb"),
        l2NormNative(embCol).as("__nrm"), scRaw.as("__sc"))
      .withColumn("__q8", q8)
      .withColumn("__l1", col("__sc") *
        aggregate(col("__q8"), lit(0L), (acc, x) => acc + abs(x.cast("long")))
          .cast("double"))
      // guard the dim contract: a mismatched vector would otherwise
      // hash garbage sign bits (BandKeys reads exactly `dim`
      // elements) — fail loudly instead (assert_true returns null
      // when the predicate holds, so the filter keeps every valid row)
      .filter(assert_true(size(col("__emb")) === dim,
        concat(lit(s"embeddingNearDupsBanded: dim=$dim but embedding has "),
          size(col("__emb")).cast("string"), lit(" elements"))).isNull)
      .localCheckpoint(true) // consumed by banding + two candidate fetches
    // the count is a cheap job over the eager checkpoint's cached
    // blocks — the price of sizing the index to the data, paid once
    // (it also picks the verify joins' physical strategy below)
    val n = e.count()
    val (b2, r2) =
      if (adaptive) {
        // recall target must stay strictly below 1 — minCos = 1.0
        // (exact-duplicate search) would otherwise feed recallCos = 1
        // into adaptiveBandParams' require; 0.999 keeps the bound
        // meaningful (p = 0.986) without changing any minCos < 0.999
        if (n > AdaptiveAbove)
          adaptiveBandParams(n, math.min(0.999, math.max(minCos, 0.9)))
        else (bands, planesPerBand)
      } else (bands, planesPerBand)
    // Both verify tiers join the (small) per-vector side table against
    // the (huge) candidate-pair set. Below the bound the side table is
    // ≤ ~180 MB of codes / ~550 MB of raw embeddings — broadcast it so
    // the candidates never shuffle (map-side hash joins where banding
    // left them; at sf30 the shuffle formulation moved ~39 GB twice
    // and fell off the one-box page-cache cliff). Above the bound the
    // side table itself is distributed-scale → plain shuffle joins.
    val bcastVerify = n <= BroadcastVerifyBelow
    def sideTable(projected: DataFrame): DataFrame =
      if (bcastVerify) broadcast(projected) else projected
    val planesFlat = bandPlanes(b2, r2, dim, seed)
      .flatten.flatMap(_.toSeq).toArray // band-major (b, p, i) — BandKeys' layout
    val keys = call_function("band_keys",
      col("__emb"), lit(planesFlat), lit(r2), lit(dim))
    val banded = e.select(col("__id"),
      posexplode(keys).as(Seq("band", "key")))
    val cands = banded.select(col("__id").as("id_a"), col("band"), col("key"))
      .join(banded.select(col("__id").as("id_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // tier 1: int8 screen — candidates carry codes + scalars, never
    // the float arrays; the bound keeps every true pair (see Scaladoc)
    val screened = cands
      .join(sideTable(e.select(col("__id").as("id_a"), col("__q8").as("qa"),
        col("__sc").as("sc_a"), col("__l1").as("l1_a"),
        col("__nrm").as("nrm_a"))), Seq("id_a"))
      .join(sideTable(e.select(col("__id").as("id_b"), col("__q8").as("qb"),
        col("__sc").as("sc_b"), col("__l1").as("l1_b"),
        col("__nrm").as("nrm_b"))), Seq("id_b"))
      .filter {
        val approxDot = call_function("qdot8", col("qa"), col("qb"))
          .cast("double") * col("sc_a") * col("sc_b")
        val bound = (col("sc_b") / 2 * col("l1_a") +
          col("sc_a") / 2 * col("l1_b") +
          lit(dim / 4.0) * col("sc_a") * col("sc_b")) *
          lit(1.0 + 1e-9) + lit(1e-12)
        approxDot + bound >= lit(minCos) * col("nrm_a") * col("nrm_b")
      }
      .select(col("id_a"), col("id_b"))
    // tier 2: exact verify on the surviving shell only — identical
    // arithmetic to the pre-screen implementation, so the emitted
    // pair set and cosines are bit-for-bit unchanged
    screened
      .join(sideTable(e.select(col("__id").as("id_a"), col("__emb").as("e_a"),
        col("__nrm").as("nrm_a"))), Seq("id_a"))
      .join(sideTable(e.select(col("__id").as("id_b"), col("__emb").as("e_b"),
        col("__nrm").as("nrm_b"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        factoredCosine(dotNative(col("e_a"), col("e_b")),
          col("nrm_a"), col("nrm_b")).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Deterministic planted near-dup twins for vec_id < nPlanted:
    * v' = v + ε·r with r a Rademacher vector from xxhash64(vec_id,
    * pos) and ε sized so cos(v, v') ≈ targetCos for unit vectors
    * (ε = √((1/cos² − 1)/64); observed spread ±0.02). Twin ids are
    * original + [[PlantedIdOff]]. Shared by the q104 recall gate and
    * the q105 semantic-dedup oracle. */
  private[graft] val PlantedIdOff = 1000000000L
  private[graft] def plantedTwins(
      base: DataFrame, targetCos: Double, nPlanted: Int): DataFrame = {
    val eps = math.sqrt((1.0 / (targetCos * targetCos) - 1.0) / 64.0)
    base.filter(col("vec_id") < nPlanted)
      .select((col("vec_id") + PlantedIdOff).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + lit(eps) *
            when(pmod(xxhash64(col("vec_id"), i), lit(2)) === 0, 1.0).otherwise(-1.0))
            .cast("float")).as("embedding"))
  }

  /** Driver-visible gate for [[embeddingNearDupsBanded]] (the
    * production high-threshold embedding-dedup path), q104 — same
    * verdict-row pattern as the q101/q102 ANN gates: one row per
    * probe, `meets_floor` flips (and the oracle hash mismatches) if
    * banded recall regresses.
    *
    * The fixture corpus has NO natural pairs in the banded regime
    * (measured: zero pairs at cos ≥ 0.6 at every SF — the declared
    * q50 threshold 0.4 belongs to the exact blocked join), so the
    * gate PLANTS its own via [[plantedTwins]], then requires
    * [[embeddingNearDupsBanded]] at `verifyCos` to recover ≥ `floor`
    * of the planted pairs whose EXACT cosine clears verifyCos.
    * Per-pair banding recall at cos 0.88 is 1−(1−p⁴)¹² ≈ 0.9998
    * (p = 1−arccos/π), so the observed recall is ~1.0 against the
    * 0.8 floor — a regression tripwire with real margin,
    * driver-checked at every SF. */
  def embeddingBandedGate(t: Tables, targetCos: Double = 0.9,
      verifyCos: Double = 0.85, nPlanted: Int = 50,
      floor: Double = 0.8): DataFrame = {
    import t.spark.implicits._
    import graft.functions.SimilarityFunctions.{dotNative, l2NormNative}
    val idOff = PlantedIdOff
    val base = t.embeddings.select($"vec_id", $"embedding")
    val planted = plantedTwins(base, targetCos, nPlanted)
    val union = base.unionByName(planted)
    val found = embeddingNearDupsBanded(
      union, col("vec_id"), col("embedding"), verifyCos)
      .select($"id_a", $"id_b")
    // the planted pairs whose exact cosine really clears verifyCos
    // (id_a < id_b holds by construction: id_b = id_a + idOff)
    val truth = base.filter($"vec_id" < nPlanted).alias("o")
      .join(planted.alias("p"), col("p.vec_id") === col("o.vec_id") + idOff)
      .select(col("o.vec_id").as("id_a"), col("p.vec_id").as("id_b"),
        (dotNative(col("o.embedding"), col("p.embedding")) /
          (l2NormNative(col("o.embedding")) * l2NormNative(col("p.embedding"))))
          .as("cos"))
      .filter($"cos" >= verifyCos)
    val hits = truth.join(found, Seq("id_a", "id_b"), "left_semi")
    val gate = truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select((coalesce($"n_hit".cast("double") / $"n_true", lit(0.0)) >= floor)
        .as("meets_floor"))
    base.filter($"vec_id" < nPlanted).select($"vec_id".as("q_id"))
      .crossJoin(broadcast(gate)).orderBy($"q_id")
  }

  /** SEMANTIC dedup over an embedding column (the SemDeDup-style
    * stage of an LLM data pipeline: drop documents whose EMBEDDINGS
    * are near-duplicates, catching paraphrases that shingle/MinHash
    * text dedup cannot see). Composition of the linear pieces:
    *
    *  1. candidate mining + exact verify:
    *     [[embeddingNearDupsBanded]] at `minCos` — b·n narrow
    *     (band, key, id) shuffle rows, and candidate volume held to
    *     ≈ b·n·occ/2 by the occupancy-targeted adaptive sizing
    *     ([[adaptiveBandParams]]), never a pair product;
    *  2. [[connectedComponents]] over the ≥ minCos graph (pointer
    *     jumping, O(log diameter) rounds);
    *  3. keeper rule: the MINIMUM id of each component survives — a
    *     deterministic, order-independent rule (mirrors q57's
    *     `is_keeper`), so results are reproducible across partitions
    *     and engines.
    *
    * Returns the SURVIVING rows of `df` (original columns). */
  def semanticDedupOver(
      df: DataFrame, idCol: org.apache.spark.sql.Column,
      embCol: org.apache.spark.sql.Column, minCos: Double,
      bands: Int = 12, planesPerBand: Int = 4): DataFrame = {
    val pairs = embeddingNearDupsBanded(df, idCol, embCol, minCos,
      bands = bands, planesPerBand = planesPerBand)
      .select(col("id_a"), col("id_b"))
    val labels = connectedComponents(
      df.select(idCol.as("__id")), pairs, edgesWithinNodes = true)
    val keepers = labels.filter(col("id") === col("component"))
      .select(col("id").as("__keep"))
    df.join(keepers, idCol === col("__keep"), "left_semi")
  }

  /** q105: [[semanticDedupOver]] with an EXACT oracle via the planted
    * structure. The corpus is embeddings ∪ [[plantedTwins]] (cos≈0.9
    * twins for vec_id < nPlanted, ids offset by 10⁹). At
    * minCos = 0.85 the ≥-threshold graph is EXACTLY the 50 planted
    * (original, twin) edges — the fixture has no natural pairs at
    * cos ≥ 0.6 at any SF (measured; the nearest natural neighbours
    * sit at 0.24–0.42) — so every component min-id is the original
    * and the survivor set is precisely the original corpus:
    * `SELECT vec_id FROM embeddings` IS the DuckDB oracle, making
    * the whole banding→CC→keeper composition hash-checkable, not
    * just gate-checkable. */
  def semanticDedup(t: Tables, minCos: Double = 0.85,
      nPlanted: Int = 50): DataFrame = {
    import t.spark.implicits._
    val base = t.embeddings.select($"vec_id", $"embedding")
    val corpus = base.unionByName(plantedTwins(base, targetCos = 0.9, nPlanted))
    semanticDedupOver(corpus, $"vec_id", $"embedding", minCos)
      .select($"vec_id")
      .orderBy($"vec_id")
  }

  /** Cross-dataset dedup: remove from `corpus` every document that is
    * an exact OR near duplicate of ANY document in `reference` — the
    * stage that stops a new crawl from re-ingesting content already in
    * the training set. Exact matches drop via an anti-join on 128-bit
    * fingerprints; near matches via MinHash band keys joined ACROSS
    * the two sides (linear shuffle: `bands` narrow rows per doc on
    * each side, never a corpus×reference product), with every
    * candidate verified against the exact shingle jaccard before it
    * can evict a document. Returns the surviving corpus rows with
    * their original columns. */
  def dedupAgainstOver(
      corpus: DataFrame, idCol: org.apache.spark.sql.Column,
      textCol: org.apache.spark.sql.Column,
      reference: DataFrame, refTextCol: org.apache.spark.sql.Column,
      maxDist: Double = 0.4, bands: Int = 16, rowsPerBand: Int = 2,
      shingleK: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.md5
    // 1. exact: content fingerprints, not text, cross the shuffle
    val refFp = reference.select(md5(refTextCol).as("__fp")).distinct()
    val exactClean = corpus.withColumn("__fp", md5(textCol))
      .join(refFp, Seq("__fp"), "left_anti")
      .drop("__fp")
    // 2. near: one-pass minhash band keys on both sides
    // localCheckpoint: each side is consumed twice (band keys +
    // candidate fetch) — materialize the shingling once, same trade as
    // minhashPairsOver; blocks are context-cleaned when the plan drops
    def prepared(df: DataFrame, id: org.apache.spark.sql.Column,
        txt: org.apache.spark.sql.Column) =
      df.select(id.as("__id"), array_sort(shingles(txt, shingleK)).as("__sh"))
        .filter(size(col("__sh")) > 0)
        // 8-byte shingle hashes for the verify join — same trade and
        // collision bound as minhashPairsCore (see the note there)
        .withColumn("__shh",
          array_sort(array_distinct(transform(col("__sh"), s => xxhash64(s)))))
        .localCheckpoint(true)
    def bandKeys(docs: DataFrame): DataFrame = {
      val sigs = call_function("minhash_sigs", col("__sh"), lit(bands * rowsPerBand))
      val keys = array((0 until bands).map { b =>
        val parts = (0 until rowsPerBand).map(r =>
          element_at(col("__sigs"), b * rowsPerBand + r + 1))
        struct(lit(b).as("band"), xxhash64(parts: _*).as("key"))
      }: _*)
      docs.withColumn("__sigs", sigs)
        .select(col("__id"), col("__sh"), explode(keys).as("__bk"))
    }
    val corpusDocs = prepared(exactClean, idCol, textCol)
    // reference ids are CONTENT-derived (xxhash64 of the text), not
    // monotonically_increasing_id: this frame is consumed twice (band
    // keys + candidate fetch) and positional ids could differ between
    // the two executions
    val refDocs = prepared(reference, xxhash64(refTextCol), refTextCol)
    // band join carries ONLY (key, id); shingle sets are fetched for
    // surviving candidate pairs (same shape as minhashPairsOver)
    val pairIds = bandKeys(corpusDocs).select(col("__id"), col("__bk"))
      .join(bandKeys(refDocs).select(col("__id").as("__rid"), col("__bk")), Seq("__bk"))
      .select(col("__id"), col("__rid")).distinct()
    val evicted = pairIds
      .join(corpusDocs.select(col("__id"), col("__shh")), Seq("__id"))
      .join(refDocs.select(col("__id").as("__rid"), col("__shh").as("__ref_shh")), Seq("__rid"))
      // compare on the SIMILARITY side (j >= 1-maxDist) so the oracle's
      // `jaccard >= t` is the literally identical IEEE comparison
      .filter(graft.functions.TextFunctions.jaccardSorted(
        col("__shh"), col("__ref_shh")) >= lit(1.0 - maxDist))
      .select(col("__id")).distinct()
    exactClean.join(evicted, idCol === col("__id"), "left_anti")
  }

  /** Fixture-bound cross-dedup (q73): documents from every other
    * source deduped against the `src0` reference set. */
  def crossDedup(t: Tables, refSource: String = "src0"): DataFrame = {
    import t.spark.implicits._
    dedupAgainstOver(
      t.documents.filter($"source" =!= refSource), $"doc_id", $"text",
      t.documents.filter($"source" === refSource), $"text")
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  /** Distributed connected components by iterative min-label
    * propagation (the dataframe formulation of Pregel-style CC):
    * every node starts as its own label; each round, a node adopts the
    * minimum label among itself and its neighbours; converged labels
    * are the component minimum — a canonical, order-independent
    * cluster id.
    *
    * The driver loop controls ITERATION ONLY; all data work is joins +
    * aggregations that shuffle (edge, label) tuples. localCheckpoint
    * per round truncates the exponentially-growing lineage — without
    * it round k replans rounds 1..k-1; superseded rounds' blocks are
    * released by the context cleaner once unreferenced. Throws if the
    * graph has not converged within maxIters — a silent cap would
    * return inconsistent labels (multiple "keepers" in one real
    * component).
    *
    * HIGH-DIAMETER ESCAPE: pure propagation moves labels one hop per
    * round (rounds = diameter — a 10k-link chain would need 10k
    * shuffling rounds). From round 2 this loop adds POINTER JUMPING
    * (path shortcutting): after each propagation step, labels are
    * remapped through themselves (component ← label[label[id]]), so
    * the distance a label has travelled roughly doubles per round
    * and convergence is O(log diameter) — the same contraction idea
    * as the large-star/small-star CC algorithm
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14). The first two rounds skip the extra
    * self-join because dedup graphs are near-cliques that converge
    * in ≤ 2 rounds — the common case pays nothing. Shortcutting
    * never breaks the convergence test: the loop stops only at a
    * propagation fixed point, which implies equal labels across
    * every edge (full convergence); PropertySpec pins a
    * 3000-diameter path converging in 13 rounds (measured — vs ~3000
    * one-hop rounds), and the loud failure mode when the budget is
    * genuinely too small.
    *
    * @param nodes single-column DataFrame of node ids
    * @param edges two-column DataFrame (id_a, id_b), undirected
    * @return (id, component) with component = min id in the component
    */
  def connectedComponents(
      nodes: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame,
      maxIters: Int = 100,
      edgesWithinNodes: Boolean = false): DataFrame = {
    val idCol = nodes.columns.head
    val Seq(aCol, bCol) = edges.columns.toSeq.take(2)
    val nodeIds = nodes.select(col(idCol).as("id"))
    // edges referencing ids outside `nodes` are dropped (both
    // endpoints must be known) — otherwise a phantom id could become
    // a component's minimum label and no keeper would exist for it.
    // Callers whose edges are DERIVED from the node set (pair mining
    // over the same table) pass edgesWithinNodes=true and skip the
    // two validation semi-joins — two fewer stages on the critical
    // path of every clustering query.
    val symRaw = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
    val symChecked =
      if (edgesWithinNodes) symRaw
      else symRaw
        .join(nodeIds.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(nodeIds.select(col("id").as("dst")), Seq("dst"), "left_semi")
    // localCheckpoint (not cache): the loop references `sym` every
    // round, and a cached frame still carries its FULL logical plan —
    // the analyzer and the cache-manager's sameResult probe re-walk
    // the whole edge-derivation subtree (for the ER chain, the entire
    // PassJoin candidate pipeline) once per round, which made the
    // iterative queries driver-PLANNING-bound (wall ≫ stage time).
    // The checkpoint truncates the lineage to a leaf, so each round
    // plans O(round) work. The edge count rides the materialization
    // job via observe() and feeds the broadcast decision below — with
    // the lineage cut, the planner no longer sees a size estimate, so
    // the small-graph broadcast that cached stats used to enable is
    // re-established explicitly, from a measured count.
    val (sym, nSym) = State.checkpointCounted(symChecked.distinct(),
      count(lit(1)), ifNone = Long.MaxValue)
    // per-round probe side: ~24 B/row of (src, dst) longs ⇒ 2M rows
    // stay well inside the default 10 MB auto-broadcast budget; bigger
    // edge sets shuffle (sort-merge/shuffled-hash), exactly as the
    // cached-stats planner chose before
    val symJ: DataFrame = if (nSym <= 2000000L) broadcast(sym) else sym
    // only nodes with at least one edge participate in the iteration —
    // isolated nodes (the vast majority of a near-dup corpus) are
    // their own component by definition and are unioned back at the end
    val connected = sym.select(col("src").as("id")).distinct()
    var labels = connected.withColumn("component", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0) {
      // throws only while labels are STILL changing at the budget; a
      // zero-change confirmation round is required beyond the last
      // productive one, so graphs of diameter < maxIters always pass
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds " +
            s"($changed labels still changing) — raise maxIters (rounds ≈ graph diameter)")
      // one round = TWO shuffles, not three: neighbor contributions
      // (label pushed across each edge) are unioned with the node's
      // own label and min-folded in a single groupBy — replacing the
      // separate neighbor-min aggregation + left-join-update. tag=0
      // marks the node's own label so the fold can detect change
      // (new component < old) in the same pass.
      val contrib = symJ
        .join(labels.select(col("id").as("dst"), col("component").as("nl")), "dst")
        .select(col("src").as("id"), col("nl").as("cand"), lit(1).as("tag"))
      // the convergence metric rides the checkpoint materialization
      // job via observe() — ONE job per round, not a checkpoint job
      // plus a separate count()
      val (updated, nChanged) = State.checkpointCounted(labels
        .select(col("id"), col("component").as("cand"), lit(0).as("tag"))
        .unionAll(contrib)
        .groupBy(col("id"))
        .agg(min(col("cand")).as("component"),
          (min(col("cand")) < min(when(col("tag") === 0, col("cand")))).as("chg")),
        sum(col("chg").cast("long")))
      changed = nChanged
      val prop = updated.select(col("id"), col("component"))
      // pointer jumping from round 2 (see scaladoc): component
      // values are themselves connected-node ids, so remapping
      // through the fresh labels is a self-join; left + coalesce is
      // belt-and-braces (every component value matches an id)
      labels =
        if (iter < 2 || changed == 0) prop
        else prop
          .join(prop.select(col("id").as("component"), col("component").as("c2")),
            Seq("component"), "left")
          .select(col("id"), coalesce(col("c2"), col("component")).as("component"))
          .localCheckpoint(true)
      iter += 1
    }
    if (sys.env.contains("GRAFT_DEBUG"))
      System.err.println(s"[cc] converged in $iter rounds")
    val isolated = nodeIds
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    labels.union(isolated)
  }

  /** Near-dup clusters over the blocked jaccard pairs (q26's pair
    * set, which the DuckDB oracle recomputes with a recursive CTE —
    * both engines converge to the same component-minimum labels, so
    * this whole distributed graph computation is exact-oracle-checked).
    * `is_keeper` marks the one document kept per cluster. */
  def dedupClusters(t: Tables): DataFrame = {
    import t.spark.implicits._
    // unsorted pair set (no presentation sort on the critical path);
    // edges are mined from the node table itself, so endpoint
    // validation is skipped
    val pairs = TextOps.jaccardPairsUnsorted(t).select($"id_a", $"id_b")
    val docs = t.documents.select($"doc_id")
    connectedComponents(docs, pairs, edgesWithinNodes = true)
      .select($"id".as("doc_id"), $"component".as("cluster_id"),
        ($"id" === $"component").as("is_keeper"))
  }

  /** q103: the LINEAR-path clustering twin of [[dedupClusters]] —
    * edges mined by MinHash banding + exact verification
    * ([[minhashPairsCore]]: `bands` narrow rows per doc, no blocked
    * Σ|block|² pair join) instead of the blocked exact jaccard join.
    * This is the composition that survives a dup-heavy 10× corpus
    * (measured: banding pairs scale ×2.9 where the blocked exact join
    * scales ×10.3). Because every banding candidate is exact-verified
    * and the seeded pipeline emits the true pair set on the fixtures
    * (recall = 1, MinHashRecallSpec), the DuckDB oracle is the plain
    * brute-force recursive-CTE transitive closure over the SAME pair
    * predicate — the whole linear pipeline stays hash-checked. */
  def dedupClustersFast(t: Tables, maxDist: Double = 0.4): DataFrame = {
    import t.spark.implicits._
    val pairs = minhashPairsCore(t.documents, $"doc_id", $"text", maxDist,
      bands = 16, rowsPerBand = 2)
      .select($"id_a", $"id_b")
    connectedComponents(t.documents.select($"doc_id"), pairs, edgesWithinNodes = true)
      .select($"id".as("doc_id"), $"component".as("cluster_id"),
        ($"id" === $"component").as("is_keeper"))
  }

  /** q90: canonical survivor per near-dup cluster — the step that
    * actually SHRINKS the corpus after clustering. Per cluster, keep
    * the longest member (`n_chars`, doc_id as the deterministic
    * tiebreak) and report how many documents it absorbs. One window
    * over cluster_id on top of the q103 labels: the shuffle key is
    * the cluster label, whose partition sizes are near-dup cluster
    * sizes — bounded by dup-group sizes, never corpus-scale.
    *
    * Rides the LINEAR clustering ([[dedupClustersFast]] — banding +
    * exact verify + CC), not the blocked-exact q57 twin: the round-7
    * sf sweep measured the q57-based composition at 7.6× wall on 3×
    * data (the Σ|block|² pair join it inherits is q26's DECLARED
    * quadratic — fine for an oracle twin, wrong for the production
    * survivor pass), vs 1.8× for the banding path. One recipe with
    * q103, so threshold changes can never let survivors and the
    * production clustering silently diverge; q57 stays the
    * brute-force oracle twin it was built to be. */
  def dedupSurvivors(t: Tables): DataFrame = {
    import t.spark.implicits._
    val clusters = dedupClustersFast(t).select($"doc_id", $"cluster_id")
    val sized = clusters.join(t.documents.select($"doc_id", $"n_chars"), "doc_id")
    val byQuality = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"n_chars".desc, $"doc_id")
    val cluster = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
    sized
      .withColumn("rn", row_number().over(byQuality))
      .withColumn("n_members", count(lit(1)).over(cluster))
      .filter($"rn" === 1)
      .select($"cluster_id", $"doc_id".as("survivor_id"), $"n_chars", $"n_members")
  }

  /** Portable-SimHash near-dup pairs: identical banding construction
    * to [[simhashPairs]] but over the 60-bit engine-neutral
    * fingerprint (four 15-bit bands; Hamming ≤ 3 still pigeonholes
    * into ≥ 1 unchanged band, so candidate generation is COMPLETE and
    * the emitted set is exactly all pairs within the bound —
    * brute-force oracle-checkable, unlike the xxhash64 variant). */
  def simhashPolyPairs(t: Tables, maxHamming: Int = 3): DataFrame = {
    import t.spark.implicits._
    val fp = t.documents.select($"doc_id", simhashPortable($"text").as("sh"))
    val banded = fp.select($"doc_id", $"sh",
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright($"sh", b * 15).bitwiseAND(lit(0x7FFFL)).as("key"))): _*)).as("bk"))
    val a = banded.select($"doc_id".as("id_a"), $"sh".as("sh_a"), $"bk")
    val b = banded.select($"doc_id".as("id_b"), $"sh".as("sh_b"), $"bk")
    a.join(b, Seq("bk"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", hamming($"sh_a", $"sh_b").cast("int").as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
      .orderBy($"id_a", $"id_b")
  }

  /** SimHash near-dup pairs: band the 64-bit fingerprint into four
    * 16-bit keys; docs sharing any band key are candidates (a doc pair
    * within Hamming distance 3 must agree on ≥1 of 4 bands). Linear
    * shuffle volume: 4 rows of (band, key, id) per document. */
  def simhashPairs(t: Tables, maxHamming: Int = 3): DataFrame = {
    import t.spark.implicits._
    val fp = t.documents.select($"doc_id", simhash($"text").as("sh"))
    val banded = fp.select($"doc_id", $"sh",
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright($"sh", b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
    val a = banded.select($"doc_id".as("id_a"), $"sh".as("sh_a"), $"bk")
    val b = banded.select($"doc_id".as("id_b"), $"sh".as("sh_b"), $"bk")
    a.join(b, Seq("bk"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", hamming($"sh_a", $"sh_b").as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
      .orderBy($"id_a", $"id_b")
  }
}
