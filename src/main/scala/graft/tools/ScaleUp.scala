package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixture scale-up generator for cross-SF sweeps beyond the provided
  * test data: replicates the star schema `factor`× with disjoint key
  * ranges, preserving TPC-H's scaling shape — customer, supplier,
  * part, orders, and lineitem all grow together, so per-key densities
  * (orders per customer, customers per (part, month) co-purchase
  * cell) stay CONSTANT as the corpus grows, which is exactly the
  * property the engine's blocking strategies are designed around.
  * Counter-example kept on purpose: p_brand is a FIXED 25-value
  * domain, so brand blocks grow linearly with the corpus — the shape
  * that exposed q84's all-pairs-per-block join in the round-7 sweep
  * (fixed by PassJoin segment indexing). A blocking key must have
  * cardinality that scales with the data; a constant-domain key is a
  * partition, not a block. nation/region stay fixed (as in TPC-H); the
  * events/documents/embeddings corpora are copied unchanged (their
  * queries are swept at the driver-provided SFs).
  *
  * With a 4th argument `withDocs`, the documents corpus scales too:
  * each replica keeps the original text plus a replica-tagged suffix
  * token — replicas of one document are NEAR-duplicates of each other
  * (shingle jaccard ≈ 0.95), the realistic shape of a dup-heavy crawl,
  * which is exactly the regime where the linear banding dedup path
  * must beat the quadratic blocked-exact path.
  *
  * With `withEmbeddings`, the embeddings corpus scales too: replicas
  * are fresh deterministic pseudo-gaussian unit vectors (xxhash-seeded
  * sum-of-uniforms per dimension, then L2-normalized) — the corpus
  * stays near-uniform on the sphere (the fixtures' regime), so ANN
  * recall measured on the scaled corpus (tools.AnnTune) tests the
  * OR-construction's stability as N grows, with no planted structure.
  *
  * With `withDocsGrouped` (for factors beyond ~10), the dup-group
  * SIZE stays constant as the corpus grows — the realistic crawl
  * shape, and the one that keeps the q51 near-dup-pair ANSWER linear
  * in SF (plain `withDocs` makes all `factor` replicas mutual
  * near-dups, so at factor 100 the answer alone is 4950 pairs per
  * original — quadratic in SF, which would read as algorithmic
  * super-linearity in a scale sweep when it is really answer size).
  * Replicas are split into groups of 10 (rep = g·10 + j): group g's
  * docs rewrite EVERY token with a `~g` suffix (g = 0 keeps the
  * original text, so the source fixture embeds verbatim), then only
  * the tiny `qq<j>` suffix differs within a group — within-group
  * shingle jaccard ≈ 0.9 (near-dups), cross-group jaccard ≈ 0
  * EXACTLY (disjoint token spaces). Exactly 0 is the requirement,
  * not a nicety: the r=2 banding is deliberately permissive
  * (P(candidate) = 1-(1-J²)^16 ≈ 0.15 even at J = 0.1), so any
  * design that leaves residual cross-group similarity — e.g. a
  * shared filler block, J ≈ 0.2-0.45 — floods the candidate join
  * with billions of spurious pairs at factor 100.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <destDir> <factor> [withDocs|withDocsGrouped] [withEmbeddings] [withEvents]
  * e.g.   runMain graft.tools.ScaleUp /root/testdata/sf0.1 target/sf1 10
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, destDir, factorS) = args.take(3)
    val flags = args.drop(3).toSet
    val known = Set("withDocs", "withDocsGrouped", "withEmbeddings", "withEvents")
    require((flags -- known).isEmpty, s"unknown flags: ${flags -- known}")
    require(!(flags("withDocs") && flags("withDocsGrouped")),
      "withDocs and withDocsGrouped are mutually exclusive")
    val withDocs = flags("withDocs") || flags("withDocsGrouped")
    val groupedDocs = flags("withDocsGrouped")
    val withEmbeddings = flags("withEmbeddings")
    val withEvents = flags("withEvents")
    val factor = factorS.toInt
    require(factor >= 2, s"factor must be >= 2: $factor")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(destDir).mkdirs()

    // unscaled tables: byte-identical file copies (events keeps its
    // TIMESTAMP(NANOS) physical type this way — a Spark rewrite would
    // change it)
    val unscaled = Seq("region", "nation") ++
      (if (withEvents) Nil else Seq("events")) ++
      (if (withEmbeddings) Nil else Seq("embeddings")) ++
      (if (withDocs) Nil else Seq("documents"))
    // recursive copy: a fixture may be a single file OR a multi-file
    // <table>.parquet/ directory (parallelLayout / chained-ScaleUp
    // layout) — a plain Files.copy of a directory would copy only the
    // empty dir entry and silently produce an empty table
    def deleteRec(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        if (java.nio.file.Files.isDirectory(p)) {
          val children = java.nio.file.Files.list(p)
          try children.forEach(deleteRec) finally children.close()
        }
        java.nio.file.Files.delete(p)
      }
    def copyRec(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
      if (java.nio.file.Files.isDirectory(from)) {
        java.nio.file.Files.createDirectories(to)
        val children = java.nio.file.Files.list(from)
        try children.forEach(p => copyRec(p, to.resolve(p.getFileName.toString)))
        finally children.close()
      } else java.nio.file.Files.copy(from, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    for (t <- unscaled) {
      val dest = java.nio.file.Paths.get(s"$destDir/$t.parquet")
      // clear any previous copy first: REPLACE_EXISTING only overwrites
      // same-named files, so rerunning into an existing destDir would
      // otherwise accrete stale part-files from an older multi-file
      // source into the new table
      deleteRec(dest)
      copyRec(java.nio.file.Paths.get(s"$srcDir/$t.parquet"), dest)
    }

    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def keyStride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // one replica per `rep`, every key column shifted by rep·stride —
    // a tiny broadcast cross join, so the generator itself scales
    val reps = spark.range(factor).toDF("rep")
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame =
      shifts.foldLeft(df.crossJoin(broadcast(reps))) { case (d, (k, stride)) =>
        d.withColumn(k, col(k) + col("rep") * stride)
      }.drop("rep")

    val custStride = keyStride(src("customer"), "c_custkey")
    val suppStride = keyStride(src("supplier"), "s_suppkey")
    val partStride = keyStride(src("part"), "p_partkey")
    val orderStride = keyStride(src("orders"), "o_orderkey")

    // dup-heavy corpus: replicas are near-duplicates (suffix token
    // changes a few shingles), n_chars recomputed to keep the
    // n_chars == length(text) fixture invariant
    val docsOut =
      if (!withDocs) Nil
      else {
        val docStride = keyStride(src("documents"), "doc_id")
        val tagged =
          if (!groupedDocs)
            replicate(src("documents"), "doc_id" -> docStride)
              .withColumn("text",
                concat(col("text"), lit(" qq"),
                  (col("doc_id") / docStride).cast("int").cast("string")))
          else
            // rep = g·10 + j: the per-token ~g rewrite moves group g
            // into its own token space (cross-group jaccard exactly
            // ~0 — see the class doc for why ≈ 0.2 would flood the
            // r=2 banding); the qq<j> suffix is the within-group
            // near-dup variation (jaccard ≈ 0.9). Group structure is
            // invariant under SF — only the NUMBER of groups grows
            replicate(src("documents"), "doc_id" -> docStride)
              .withColumn("rep", (col("doc_id") / docStride).cast("int"))
              .withColumn("g", (col("rep") / 10).cast("int"))
              .withColumn("j", pmod(col("rep"), lit(10)))
              .withColumn("text", concat(
                when(col("g") === 0, col("text")).otherwise(expr(
                  "array_join(transform(split(text, ' '), w -> concat(w, '~', g)), ' ')")),
                lit(" qq"), col("j").cast("string")))
              .drop("rep", "g", "j")
        Seq("documents" -> tagged
          .withColumn("n_chars", length(col("text")).cast("long")))
      }

    // fresh pseudo-gaussian unit vectors per replica: per dimension,
    // sum 4 xxhash-derived uniforms in (-0.5, 0.5] (Irwin–Hall CLT
    // approximation — plenty for sphere-direction uniformity), then
    // L2-normalize; label drawn uniformly. rep 0 keeps the originals
    // byte-for-byte so sub-corpus results stay comparable.
    val embOut =
      if (!withEmbeddings) Nil
      else {
        val vecStride = keyStride(src("embeddings"), "vec_id")
        def u(salt: Int) = expr(
          s"transform(sequence(0, 63), i -> " +
            s"(cast(pmod(xxhash64(vec_id, i, $salt), 100000) as double) / 100000.0) - 0.5)")
        Seq("embeddings" -> replicate(src("embeddings"), "vec_id" -> vecStride)
          .withColumn("g1", u(101)).withColumn("g2", u(202))
          .withColumn("g3", u(303)).withColumn("g4", u(404))
          .withColumn("g", expr(
            "zip_with(zip_with(g1, g2, (a, b) -> a + b), " +
            "zip_with(g3, g4, (a, b) -> a + b), (a, b) -> a + b)"))
          .withColumn("nrm", expr(
            "sqrt(aggregate(g, cast(0.0 as double), (acc, x) -> acc + x * x))"))
          .withColumn("embedding",
            when(col("vec_id") < vecStride, col("embedding"))
              .otherwise(expr("transform(g, x -> cast(x / nrm as float))")))
          .withColumn("label",
            when(col("vec_id") < vecStride, col("label"))
              .otherwise(pmod(xxhash64(col("vec_id"), lit(7)), lit(10)).cast("int")))
          .select("vec_id", "embedding", "label"))
      }

    // events: replicas keep the SAME time span (windows get factor×
    // denser — the realistic shape for higher ingest rates) but carry
    // disjoint event_id/user_id spaces, so every per-user structure
    // (sessions, funnels, as-of matches, interval joins) is invariant
    // under SF and the answers scale linearly with the factor. The ts
    // column is read as TIMESTAMP(NANOS)→bigint (nanosAsLong) and
    // written back as plain BIGINT nanos — Tables.normalizeAllTs
    // converts it by its TsColumns name on read, same as the source.
    val evOut =
      if (!withEvents) Nil
      else {
        val evStride = keyStride(src("events"), "event_id")
        val userStride = keyStride(src("events"), "user_id")
        Seq("events" -> replicate(src("events"),
          "event_id" -> evStride, "user_id" -> userStride))
      }

    val out = docsOut ++ embOut ++ evOut ++ Seq(
      "customer" -> replicate(src("customer"), "c_custkey" -> custStride),
      "supplier" -> replicate(src("supplier"), "s_suppkey" -> suppStride),
      // p_name perturbed per replica so fuzzy matching does not see
      // `factor` near-copies of every name (real TPC-H part names are
      // distinct draws). The replica tag repeats EACH DIGIT 3× (a
      // repetition code): distinct tags then differ by ≥ 3 edits —
      // strictly outside q84's maxDist=2 — including the rotation
      // pairs ("12"/"21" → "121212"/"212121" are 2 edits apart) that
      // defeat whole-string repetition
      "part" -> replicate(src("part"), "p_partkey" -> partStride)
        .withColumn("rep_tag",
          (col("p_partkey") / partStride).cast("int").cast("string"))
        .withColumn("p_name",
          concat(col("p_name"), lit(" "),
            expr("array_join(transform(split(rep_tag, ''), c -> repeat(c, 3)), '')")))
        .drop("rep_tag"),
      "orders" -> replicate(src("orders"),
        "o_orderkey" -> orderStride, "o_custkey" -> custStride),
      "lineitem" -> replicate(src("lineitem"),
        "l_orderkey" -> orderStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride))

    out.foreach { case (name, df) =>
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$destDir/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$destDir/$name.parquet").count()} rows")
    }
    spark.stop()
  }
}
