package perfbench

import java.io.File

/** The traced run's outputs: the per-layer metrics of the result line
  * and the artifact (per-layer table, tracing overhead, carried-target
  * rows, spans) written to `--traces`. */
object Trace {

  private val OverheadOf = Seq("ops_per_s", "latency_p50_ms", "latency_tail_ms", "live_heap_mb")

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_us")) "us"
    else if (name.endsWith("ns_per_row")) "ns"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_pct")) "%"
    else "count"

  /** Traced minus untraced, as a share of untraced, per end-to-end
    * metric. Set-up is not traced (the listeners are installed after
    * it), so `setup_s` has no overhead entry. */
  def overhead(untraced: Map[String, (Double, String)], traced: Map[String, (Double, String)]): Map[String, Double] =
    OverheadOf.map { k =>
      val (u, t) = (untraced(k)._1, traced(k)._1)
      s"trace.overhead.${k}_pct" -> (if (u == 0) 0.0 else 100.0 * (t - u) / u)
    }.toMap

  /** Every per-layer metric, in `BENCHMARK.json` order. A workload
    * reports 0 for a layer it does not exercise (no Spark job is on the
    * `api` request path; no request is on the OLAP ones). */
  val Names: Seq[String] = Seq("setup.session_ms", "setup.first_touch_ms", "ml.train_ms",
    "serve.start_ms", "Tables.layout_ms", "SparkEntry.build_ms", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "exec.run_ms", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.driver_gap_ms", "spark.slot_wait_ms", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.input_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "state.checkpoint_blocks",
    "state.checkpoint_bytes", "state.warehouse_bytes", "state.warehouse_dirs") ++
    ExprLane.names.map(n => s"expr.$n.ns_per_row") ++
    Seq("ml.score_fast_us", "serve.round_trip_us", "serve.overhead_us", "serve.status_2xx",
      "serve.status_4xx", "serve.status_5xx", "serve.refused", "jvm.gc_ms",
      "trace.partial_ops", "trace.coverage_pct") ++
    OverheadOf.map(k => s"trace.overhead.${k}_pct")

  def perLayer(layers: Map[String, Double], untraced: Map[String, (Double, String)],
      traced: Map[String, (Double, String)]): Map[String, (Double, String)] = {
    val all = layers ++ overhead(untraced, traced)
    val unknown = all.keySet -- Names
    require(unknown.isEmpty, s"per-layer metrics missing from Trace.Names: $unknown")
    Names.map(k => k -> (all.getOrElse(k, 0.0), unit(k))).toMap
  }

  def write(args: Main.Args, layers: Map[String, Double], untraced: Map[String, (Double, String)],
      traced: Map[String, (Double, String)], spans: Seq[Span], targets: Map[String, Map[String, Double]],
      coverage: Map[String, Double]): Unit = {
    val dir = new File(args.traces)
    dir.mkdirs()
    val table = (layers ++ overhead(untraced, traced)).toSeq.sortBy(_._1)
    val doc = Main.json(Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "end_to_end_untraced" -> untraced.map { case (k, (v, _)) => k -> v },
      "end_to_end_traced" -> traced.map { case (k, (v, _)) => k -> v },
      "layers" -> table.toMap, "coverage" -> coverage, "carried_targets" -> targets,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))))
    val f = new File(dir, s"${args.workload}-seed${args.seed}.json")
    java.nio.file.Files.writeString(f.toPath, doc)
    val sb = new StringBuilder(s"[perfbench] per-layer table, ${args.workload} (artifact $f)\n")
    table.foreach { case (k, v) => sb ++= f"  $k%-40s $v%14.3f ${unit(k)}\n" }
    targets.toSeq.sortBy(_._1).foreach { case (q, r) =>
      sb ++= f"  target $q%-24s latency ${r("latency_ms")}%9.1f ms  jobs ${r("jobs")}%5.0f  " +
        f"driver_gap ${r("driver_gap_ms")}%8.1f ms  slot_wait ${r("slot_wait_ms")}%7.1f ms\n"
    }
    System.err.print(sb.result())
  }
}

/** `expr.<fn>.ns_per_row`: each function `GraftFunctions.register`
  * installs, over fixed generated input (the fixture's documents and
  * embeddings, each row repeated) in one task. The cost is the
  * function's query minus the same query projecting only its inputs. */
object ExprLane {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  private val Repeat = 20

  private def fns: Seq[(String, Seq[String], Column)] = {
    val rnd = new scala.util.Random(7)
    val planes = Array.fill(4 * 8 * 64)(rnd.nextGaussian())
    val codebook = Array.fill(8 * 16 * 8)(rnd.nextGaussian() * 0.1)
    Seq(
      ("simhash64", Seq("toks"), expr("simhash64(toks)")),
      ("cosine_sim", Seq("e1", "e2"), expr("cosine_sim(e1, e2)")),
      ("rolling_kgrams", Seq("text"), expr("rolling_kgrams(text, 5)")),
      ("winnow_fps", Seq("text"), expr("winnow_fps(text, 5, 4)")),
      ("minhash_sigs", Seq("toks"), expr("minhash_sigs(toks, 64)")),
      ("sorted_intersect_size", Seq("s1", "s2"), expr("sorted_intersect_size(s1, s2)")),
      ("dot_product", Seq("e1", "e2"), expr("dot_product(e1, e2)")),
      ("math_ln", Seq("d"), expr("math_ln(d)")),
      ("word_ngrams", Seq("toks"), expr("word_ngrams(toks, 2)")),
      ("max_multiplicity", Seq("toks"), expr("max_multiplicity(toks)")),
      ("jaccard_at_least", Seq("s1", "s2"), expr("jaccard_at_least(s1, s2, 0.5D)")),
      ("simhash_poly", Seq("toks"), expr("simhash_poly(toks)")),
      ("ts_micros", Seq("ts"), expr("ts_micros(ts)")),
      ("band_keys", Seq("e1"), call_function("band_keys", col("e1"), typedLit(planes), lit(8), lit(64))),
      ("damerau_levenshtein", Seq("w1", "w2"), expr("damerau_levenshtein(w1, w2)")),
      ("qdot8", Seq("b1", "b2"), expr("qdot8(b1, b2)")),
      ("pq_codes", Seq("e1"), call_function("pq_codes", col("e1"), typedLit(codebook), lit(16), lit(8))))
  }

  def names: Seq[String] = fns.map(_._1)

  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    val t = graft.Tables(spark, dir)
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    val nEmb = e.count()
    val base = t.documents.select(col("doc_id"), col("text"))
      .join(e.select(col("vec_id"), col("embedding").as("e1")), pmod(col("doc_id"), lit(nEmb)) === col("vec_id"))
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")), pmod(col("doc_id") + 1, lit(nEmb)) === col("v2"))
      .select(col("doc_id"), col("text"), col("e1"), col("e2"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("s1", array_sort(array_distinct(col("toks"))))
      .withColumn("s2", array_sort(array_distinct(slice(col("toks"), 2, 1000))))
      .withColumn("w1", substring(col("text"), 1, 24))
      .withColumn("w2", substring(col("text"), 3, 24))
      .withColumn("b1", expr("transform(e1, x -> CAST(x * 100 AS TINYINT))"))
      .withColumn("b2", expr("transform(e2, x -> CAST(x * 100 AS TINYINT))"))
      .withColumn("d", (col("doc_id") % 1000 + 1) * 0.37)
      .withColumn("ts", timestamp_micros(col("doc_id") * 1000003L))
      .coalesce(1).cache()
    val rows = base.count() * Repeat
    val input = base.withColumn("rep", explode(sequence(lit(1), lit(Repeat))))
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    try fns.map { case (name, inputs, c) =>
      val f = input.select(c.as("r"))
      val b = input.select(inputs.map(col): _*)
      time(f); time(b)
      val d = (1 to 3).map(_ => time(f) - time(b))
      s"expr.$name.ns_per_row" -> math.max(0.0, Main.median(d) / rows)
    }.toMap
    finally base.unpersist()
  }
}
