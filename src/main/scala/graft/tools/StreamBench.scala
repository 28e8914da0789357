package graft.tools

import graft.GraftSession
import graft.ml.{PlayFeatures, PlayPipeline, Scorer, TrainMain}
import graft.streaming.{PlayStream, StreamDedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming throughput / state-footprint evidence (BASELINE.md):
  *
  *  1. Sustained events/sec of the RESILIENT scoring stream
  *     ([[PlayStream.scoreStreamResilient]]) at 10×, 100× and 1000×
  *     the reference's NiFi arrival rate (1 event/s, reference
  *     `NFL_Spark_Model_Scoring.xml` GenerateFlowFile 1/s): rate
  *     source at R rows/s for `secs` seconds; reports the mean
  *     processedRowsPerSecond over completed micro-batches (first
  *     batch excluded — codegen warm-up) and the delivered-row count.
  *  2. State footprint of the watermark-bounded streaming dedup
  *     ([[StreamDedup.dedupedByContent]]) at the same rates: rows
  *     and bytes held in the state store after `secs` seconds of
  *     arrivals inside one watermark horizon (the worst case — no
  *     eviction yet).
  *
  * Usage: runMain graft.tools.StreamBench [secsPerRate]
  *
  * Steady-state mode (`--steady [secs]`, default 330 s): the
  * watermark horizons shrink below the run length (2-min fingerprint
  * dedup, 60-s embedding dedup) so EVICTION FIRES REPEATEDLY at
  * 1000 ev/s and the run records the state CEILING — rows/bytes
  * sampled every 30 s plus cumulative removals — rather than the
  * flat-start growth the short mode shows. Evidence lands in
  * BASELINE.md.
  *
  * `--rocksdb`: run the same workload on the RocksDB state store
  * provider instead of the default HDFS-backed in-memory map — the
  * provider a production deployment would use, since its state lives
  * off-heap/on-disk and is bounded by disk, not executor heap. The
  * operators are provider-agnostic (nothing in graft touches the
  * store API directly); this flag exists to RECORD that the
  * steady-state plateau + eviction behavior reproduces under RocksDB
  * and at what micro-batch cost (BASELINE.md). Note RocksDB reports
  * `memoryUsedBytes` as block-cache/memtable usage, not per-row map
  * bytes — rows + evictions are the comparable columns.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val secs = args.filterNot(_.startsWith("--")).headOption.map(_.toInt)
    val builder = GraftSession.builder(8) // streaming state: small per-batch shuffles
    if (args.contains("--rocksdb")) {
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: upload the per-batch delta, not a
      // full snapshot — the production setting for sub-second triggers
      builder.config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      println("[streambench] state store provider: RocksDB (changelog checkpointing)")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.contains("--steady")) {
      steady(spark, secs.getOrElse(330))
      spark.stop()
      return
    }
    if (args.contains("--recovery")) {
      recovery(spark)
      spark.stop()
      return
    }
    runShort(spark, secs.getOrElse(20))
    spark.stop()
  }

  /** Crash-recovery timing (`--recovery`, pair with `--rocksdb` for
    * the production provider): for each stateful workload, run the
    * deterministic [[graft.streaming.StreamRecovery]] corpus
    * uninterrupted, then again with an injected sink crash mid-stream
    * and a restart from the same checkpoint. Reports the
    * uninterrupted wall, the resume wall (restart → termination,
    * which includes state-store restore + redelivery of the failed
    * batch + the remaining half of the stream), rows lost (must be
    * 0), duplicate rows beyond the asserted-identical whole-batch
    * redelivery (must be 0), and output-vs-truth equality. */
  private def recovery(spark: SparkSession): Unit = {
    import graft.streaming.StreamRecovery
    val nFiles = 40
    val rowsPerFile = 3000
    val crashAt = nFiles / 2L
    val inDir = java.nio.file.Files.createTempDirectory("recovery_in").toString
    StreamRecovery.writeInput(spark, inDir, nFiles, rowsPerFile)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        Vector[String])] = Seq(
      ("windowed-agg", StreamRecovery.windowedAgg _,
        StreamRecovery.aggTruth(spark, nFiles * rowsPerFile)),
      ("fingerprint-dedup", StreamRecovery.fingerprintDedup _,
        StreamRecovery.dedupTruth(spark, nFiles * rowsPerFile)))
    for ((label, transform, truth) <- cases) {
      val ckA = java.nio.file.Files.createTempDirectory("recovery_ckA").toString
      val sinkA = new StreamRecovery.CollectingSink()
      val tA = System.nanoTime()
      StreamRecovery.start(spark, inDir, ckA, transform, sinkA).awaitTermination()
      val wallA = (System.nanoTime() - tA) / 1e9

      val ckB = java.nio.file.Files.createTempDirectory("recovery_ckB").toString
      val sinkB = new StreamRecovery.CollectingSink(crashAtBatch = crashAt)
      val qB1 = StreamRecovery.start(spark, inDir, ckB, transform, sinkB)
      try qB1.awaitTermination()
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        require(e.getMessage.contains("injected sink crash"), e.getMessage) }
      val tB = System.nanoTime()
      StreamRecovery.start(spark, inDir, ckB, transform, sinkB).awaitTermination()
      val wallResume = (System.nanoTime() - tB) / 1e9

      import scala.jdk.CollectionConverters._
      val lost = truth.diff(sinkB.allRealRows).size
      val duped = sinkB.allRealRows.diff(truth).size
      println(f"[streambench] recovery $label%s rows=${nFiles * rowsPerFile}%d " +
        f"files=${nFiles + 2}%d crashAtBatch=$crashAt%d: " +
        f"uninterrupted=$wallA%.1f s resume=$wallResume%.1f s " +
        f"redeliveredBatches=${sinkB.redelivered.asScala.toSet}%s " +
        f"lost=$lost%d duped=$duped%d truthMatch=${sinkB.allRealRows == truth}%s")
    }
  }

  /** Sample a query's first state operator every 30 s.
    * `numRowsRemoved` is a PER-TRIGGER metric, so cumulative eviction
    * is accumulated across the recentProgress ring by batchId (30 s of
    * 1 s triggers ≈ 30 new entries per sample — well inside the
    * 100-entry retention, so no batch is ever missed). */
  private def sampleState(
      label: String, q: org.apache.spark.sql.streaming.StreamingQuery,
      totalSecs: Int)(extra: => String): Unit = {
    val t0 = System.nanoTime()
    var lastBatch = -1L
    var cumRemoved = 0L
    while ((System.nanoTime() - t0) / 1e9 < totalSecs) {
      Thread.sleep(30000L)
      val el = ((System.nanoTime() - t0) / 1e9).toInt
      val fresh = q.recentProgress.filter(_.batchId > lastBatch)
      if (fresh.nonEmpty) {
        cumRemoved += fresh
          .flatMap(_.stateOperators.headOption).map(_.numRowsRemoved).sum
        lastBatch = fresh.map(_.batchId).max
      }
      Option(q.lastProgress).flatMap(p => p.stateOperators.headOption) match {
        case Some(so) =>
          println(f"[streambench] $label t=$el%ds stateRows=${so.numRowsTotal}%d " +
            f"stateBytes=${so.memoryUsedBytes}%d evictedCum=$cumRemoved%d " +
            extra)
        case None => println(s"[streambench] $label t=${el}s no progress yet")
      }
    }
  }

  /** Long-horizon 1000 ev/s runs with watermark eviction live. */
  private def steady(spark: SparkSession, secs: Int): Unit = {
    val rate = 1000
    // fingerprint dedup: 2-minute horizon — unique-rate × horizon
    // bounds state (~0.8 × 120 × 1000 rows ceiling), evictions start
    // at ~2 min and then run continuously
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
      .select(col("timestamp").as("ts"),
        concat(lit("document body "),
          (col("value") - col("value") % 5)).as("text"))
    val q1 = StreamDedup.dedupedByContent(docs, "ts", "text", "2 minutes")
      .writeStream.outputMode("append").format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    sampleState("dedup-steady", q1, secs)("")
    val p1 = q1.recentProgress.toSeq
    q1.stop()
    val d1 = p1.drop(1).filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble)
    println(f"[streambench] dedup-steady rate=$rate%d horizon=120s run=$secs%ds " +
      f"maxBatch=${if (d1.nonEmpty) d1.max else 0.0}%.0f ms " +
      f"batches=${d1.size}%d")

    // embedding near-dup: 60-s horizon, 1-in-10 planted twins — ring
    // prune + EventTimeTimeout both fire repeatedly; twin hits must
    // KEEP accumulating while state holds its ceiling (twins arrive
    // ~10 ms after their original, far inside the horizon)
    import graft.streaming.{EmbedEvent, StreamEmbedDedup}
    import spark.implicits._
    val hits = new java.util.concurrent.atomic.AtomicLong(0)
    def vecFor(seed: Long): Array[Double] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextGaussian())
    }
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
      .as[(java.sql.Timestamp, Long)]
      .map { case (ts, v) =>
        val base = vecFor(v - v % 10)
        val emb = if (v % 10 == 9) {
          val r = new scala.util.Random(v)
          base.map(_ + 0.05 * r.nextGaussian())
        } else vecFor(v)
        EmbedEvent(ts, v, emb)
      }
    val q2 = StreamEmbedDedup.nearDups(events, minCos = 0.9, delayMs = 60000L)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.EmbedNearDup], _: Long) =>
        hits.addAndGet(df.select("anchor_id", "dup_id").distinct().count()): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    sampleState("embdedup-steady", q2, secs)(s"twinHits=${hits.get()}")
    val p2 = q2.recentProgress.toSeq
    q2.stop()
    val d2 = p2.drop(1).filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble)
    println(f"[streambench] embdedup-steady rate=$rate%d horizon=60s run=$secs%ds " +
      f"twinHits=${hits.get()}%d " +
      f"maxBatch=${if (d2.nonEmpty) d2.max else 0.0}%.0f ms batches=${d2.size}%d")

    // streaming as-of join (q132's operator): 500-user domain,
    // clicks:errors 2:1, 10 s watermark — state must PLATEAU at
    // ~(1 dominating carry click + in-flight errors) per user (the
    // pruning invariant) while finalized matches keep accumulating
    val matches = new java.util.concurrent.atomic.AtomicLong(0)
    val asofIn = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"),
        (col("value") % 500).as("user_id"),
        when(col("value") % 3 === 2, lit("error"))
          .otherwise(lit("click")).as("event_type"),
        (col("value") % 97).cast("double").as("value"))
      .withWatermark("ts", "10 seconds")
      .as[graft.streaming.UserEvent]
    val q3 = graft.streaming.StreamAsOf.asOfMatches(asofIn)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.AsOfRow], _: Long) =>
        matches.addAndGet(df.count()): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    sampleState("asof-steady", q3, secs)(s"matches=${matches.get()}")
    val p3 = q3.recentProgress.toSeq
    q3.stop()
    val d3 = p3.drop(1).filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble)
    println(f"[streambench] asof-steady rate=$rate%d users=500 wm=10s run=$secs%ds " +
      f"matches=${matches.get()}%d " +
      f"maxBatch=${if (d3.nonEmpty) d3.max else 0.0}%.0f ms batches=${d3.size}%d")

    // rolling anomalies (q150's operator): 500-user domain, a planted
    // spike every 101 values — state must PLATEAU at ~users × ring(5)
    // (the smallest custom state here; the point is batch turnaround
    // at rate with hits accumulating continuously)
    val aHits = new java.util.concurrent.atomic.AtomicLong(0)
    val anomIn = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"),
        (col("value") % 500).as("user_id"), lit("metric").as("event_type"),
        when(col("value") % 101 === 0, lit(1000.0))
          .otherwise((col("value") % 7).cast("double")).as("value"))
      .withWatermark("ts", "10 seconds")
      .as[graft.streaming.UserEvent]
    val q4 = graft.streaming.StreamAnomaly.anomaliesPerUser(anomIn, quietMs = 30000L)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.AnomalyHit], _: Long) =>
        aHits.addAndGet(df.count()): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    sampleState("anomaly-steady", q4, secs)(s"hits=${aHits.get()}")
    val p4 = q4.recentProgress.toSeq
    q4.stop()
    val d4 = p4.drop(1).filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble)
    println(f"[streambench] anomaly-steady rate=$rate%d users=500 wm=10s run=$secs%ds " +
      f"hits=${aHits.get()}%d " +
      f"maxBatch=${if (d4.nonEmpty) d4.max else 0.0}%.0f ms batches=${d4.size}%d")
  }

  private def runShort(spark: SparkSession, secs: Int): Unit = {

    // the scoring model pair (train once; ~30 s — same fixture path
    // the test suite uses)
    val plays = PlayFeatures.derive(PlayFeatures.readCsv(spark, TrainMain.DefaultCsv))
    val (passM, runM) = PlayPipeline.train(plays)
    val scorer = new Scorer(spark, passM, runM)

    for (rate <- Seq(10, 100, 1000)) {
      val delivered = new java.util.concurrent.atomic.AtomicLong(0)
      val q = PlayStream.scoreStreamResilient(
        PlayStream.simulatedPlays(spark, rate), scorer,
        sink = scored => { delivered.addAndGet(scored.count()): Unit },
        deadLetter = (_, e) => System.err.println(s"[streambench] dead letter: $e"))
      Thread.sleep(secs * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      // only batches that actually processed rows count: no-data
      // catch-up batches would bias the mean low, and a mean alone can
      // call a falling-behind stream "sustained" — the verdict uses
      // the MAX data-batch wall against the trigger interval AND the
      // processed-vs-input rate
      val data = progress.drop(1).filter(_.numInputRows > 0)
      val rates = data.map(_.processedRowsPerSecond).filter(_ > 0)
      val batchMs = data.map(_.durationMs.get("triggerExecution").toDouble)
      val maxBatch = if (batchMs.nonEmpty) batchMs.max else 0.0
      val meanProc = if (rates.nonEmpty) rates.sum / rates.size else 0.0
      val sustained = batchMs.nonEmpty && maxBatch < 1000 && meanProc >= rate
      println(f"[streambench] scoring rate=$rate%d ev/s: delivered=${delivered.get()}%d " +
        f"meanProcessed=$meanProc%.0f rows/s " +
        f"meanBatch=${if (batchMs.nonEmpty) batchMs.sum / batchMs.size else 0.0}%.0f ms " +
        f"maxBatch=$maxBatch%.0f ms (sustained=$sustained%s)")
    }

    // watermark-bounded content dedup: rate-source docs, ~20% dups
    // (every 5th row repeats the previous row's text), 10-minute
    // watermark so nothing evicts during the run — worst-case state
    for (rate <- Seq(10, 100, 1000)) {
      val docs = spark.readStream.format("rate")
        .option("rowsPerSecond", rate).load()
        .select(col("timestamp").as("ts"),
          concat(lit("document body "),
            (col("value") - col("value") % 5)).as("text"))
      val q = StreamDedup.dedupedByContent(docs, "ts", "text", "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .start()
      Thread.sleep(secs * 1000L)
      val last = q.recentProgress.lastOption
      q.stop()
      last.flatMap(_.stateOperators.headOption) match {
        case Some(so) =>
          println(f"[streambench] dedup rate=$rate%d ev/s: stateRows=${so.numRowsTotal}%d " +
            f"stateBytes=${so.memoryUsedBytes}%d " +
            f"bytesPerRow=${if (so.numRowsTotal > 0) so.memoryUsedBytes.toDouble / so.numRowsTotal else 0.0}%.0f")
        case None => println(s"[streambench] dedup rate=$rate: no progress recorded")
      }
    }
    // streaming embedding near-dup: rate-source synthetic 64-dim
    // vectors, every 10th row a planted twin of the previous row →
    // measured end-to-end throughput (banding + anchor verify) and
    // per-bucket anchor state at the same three rates
    import graft.streaming.{EmbedEvent, StreamEmbedDedup}
    import spark.implicits._
    def vecFor(seed: Long): Array[Double] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextGaussian())
    }
    for (rate <- Seq(10, 100, 1000)) {
      val hits = new java.util.concurrent.atomic.AtomicLong(0)
      val events = spark.readStream.format("rate")
        .option("rowsPerSecond", rate).load()
        .as[(java.sql.Timestamp, Long)]
        .map { case (ts, v) =>
          val base = vecFor(v - v % 10)
          val emb = if (v % 10 == 9) {
            val r = new scala.util.Random(v)
            base.map(_ + 0.05 * r.nextGaussian())
          } else vecFor(v)
          EmbedEvent(ts, v, emb)
        }
      val q = StreamEmbedDedup.nearDups(events, minCos = 0.9,
        delayMs = 10L * 60 * 1000)
        .writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.EmbedNearDup], _: Long) =>
          hits.addAndGet(df.select("anchor_id", "dup_id").distinct().count()): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .start()
      Thread.sleep(secs * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      val data = progress.drop(1).filter(_.numInputRows > 0)
      val rates = data.map(_.processedRowsPerSecond).filter(_ > 0)
      val batchMs = data.map(_.durationMs.get("triggerExecution").toDouble)
      val meanProc = if (rates.nonEmpty) rates.sum / rates.size else 0.0
      val maxBatch = if (batchMs.nonEmpty) batchMs.max else 0.0
      val st = progress.lastOption.flatMap(_.stateOperators.headOption)
      println(f"[streambench] embdedup rate=$rate%d ev/s: twinHits=${hits.get()}%d " +
        f"meanProcessed=$meanProc%.0f rows/s maxBatch=$maxBatch%.0f ms " +
        f"stateRows=${st.map(_.numRowsTotal).getOrElse(0L)}%d " +
        f"stateBytes=${st.map(_.memoryUsedBytes).getOrElse(0L)}%d")
    }
  }
}
