package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling windows over a stream equal the same aggregation in batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val q = EventStream.tumblingCounts(events, "10 minutes", "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), "click", 1.0),
        (ts("2024-01-01 00:05:00"), "click", 2.0),
        (ts("2024-01-01 00:11:00"), "view", 3.0),
        (ts("2024-01-01 00:19:00"), "click", 4.0))
      q.processAllAvailable()
      val got = spark.table("tumbling")
        .orderBy("window_start", "event_type")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getDouble(4)))
      val want = Array(
        (ts("2024-01-01 00:00:00"), "click", 2L, 3.0),
        (ts("2024-01-01 00:10:00"), "click", 1L, 4.0),
        (ts("2024-01-01 00:10:00"), "view", 1L, 3.0))
      assert(got === want)

      // same transformation applied in batch gives the same rows
      val batch = EventStream.tumblingCounts(
        Seq(
          (ts("2024-01-01 00:01:00"), "click", 1.0),
          (ts("2024-01-01 00:05:00"), "click", 2.0),
          (ts("2024-01-01 00:11:00"), "view", 3.0),
          (ts("2024-01-01 00:19:00"), "click", 4.0)).toDF("ts", "event_type", "value"))
        .orderBy("window_start", "event_type")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getDouble(4)))
      assert(batch === want)
    } finally q.stop()
  }

  test("watermark finalizes old windows in append mode and drops too-late events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val q = EventStream.tumblingCounts(events, "10 minutes", "5 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("wmark").start()
    try {
      input.addData((ts("2024-01-01 00:01:00"), "click", 1.0))
      q.processAllAvailable()
      // advance event time far past the first window + watermark
      input.addData((ts("2024-01-01 01:00:00"), "view", 2.0))
      q.processAllAvailable()
      // a very late event for the long-finalized first window
      input.addData((ts("2024-01-01 00:02:00"), "click", 99.0))
      q.processAllAvailable()

      val finalized = spark.table("wmark").collect()
        .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getDouble(4)))
      // first window emitted once, without the late 99.0 event
      assert(finalized.toSeq ===
        Seq((ts("2024-01-01 00:00:00"), "click", 1L, 1.0)))
    } finally q.stop()
  }

  test("gap sessionization closes sessions on event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val events = input.toDS().withWatermark("ts", "0 seconds").as[UserEvent]

    val q = Sessionize.sessions(events, gapMs = 10 * 60 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      // user 1: two events 5 min apart (one session), then silence
      input.addData(
        UserEvent(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        UserEvent(2, ts("2024-01-01 00:05:00"), 1, "click", 2.0))
      q.processAllAvailable()
      // event far in the future advances the watermark → session times out
      input.addData(UserEvent(3, ts("2024-01-01 02:00:00"), 2, "view", 5.0))
      q.processAllAvailable()
      input.addData(UserEvent(4, ts("2024-01-01 05:00:00"), 2, "view", 5.0))
      q.processAllAvailable()

      val sessions = spark.table("sessions").as[UserSession].collect()
      val u1 = sessions.filter(_.user_id == 1)
      assert(u1.length === 1)
      assert(u1.head.n_events === 2 && u1.head.total_value === 3.0)
      assert(u1.head.session_start === ts("2024-01-01 00:00:00"))
      assert(u1.head.session_end === ts("2024-01-01 00:05:00"))
    } finally q.stop()
  }

  test("streaming as-of join finalizes on watermark, breaks ties, handles no-match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val events = input.toDS().withWatermark("ts", "0 seconds").as[UserEvent]

    val q = StreamAsOf.asOfMatches(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("asof").start()
    try {
      def rows() = spark.table("asof").as[AsOfRow].collect()
      // batch 1 — user 1: clicks at 00:00/00:05 then an error at
      // 00:10; user 3: TWO clicks at the same ts before its error
      input.addData(
        UserEvent(1, ts("2024-01-01 00:00:00"), 1, "click", 0),
        UserEvent(3, ts("2024-01-01 00:05:00"), 1, "click", 0),
        UserEvent(2, ts("2024-01-01 00:10:00"), 1, "error", 0),
        UserEvent(6, ts("2024-01-01 00:07:00"), 3, "click", 0),
        UserEvent(7, ts("2024-01-01 00:07:00"), 3, "click", 0),
        UserEvent(8, ts("2024-01-01 00:08:00"), 3, "error", 0))
      q.processAllAvailable()
      // the trailing no-data batch runs with watermark 00:10: user
      // 3's error (00:08) times out and finalizes MID-STREAM with the
      // max-id tie click; user 1's error (ts == watermark, not <)
      // must stay pending
      assert(rows().map(_.error_id).toSet === Set(8L),
        "strictly-before errors finalize; the ts == watermark error waits")
      assert(rows().find(_.error_id == 8).get.click_id === 7L,
        "equal-ts clicks break to the highest id")
      // batch 2 — watermark advances to 02:00: user 1's error
      // finalizes against the latest prior click (00:05, id 3)
      input.addData(UserEvent(4, ts("2024-01-01 02:00:00"), 2, "click", 0))
      q.processAllAvailable()
      assert(rows().find(_.error_id == 2).exists(_.click_id == 3L))
      // batch 3 — new errors for user 2 (has a prior click) and user
      // 5 (has none); the view at 05:00 advances the watermark past
      // both, so the trailing no-data batch finalizes them
      input.addData(
        UserEvent(9, ts("2024-01-01 05:00:00"), 4, "view", 0),
        UserEvent(5, ts("2024-01-01 02:30:00"), 2, "error", 0),
        UserEvent(10, ts("2024-01-01 02:40:00"), 5, "error", 0))
      q.processAllAvailable()
      val byErr = rows().map(r => r.error_id -> r).toMap
      assert(byErr.keySet === Set(2L, 5L, 8L, 10L))
      assert(byErr(5L).click_id === 4L, "error after its user's click matches it")
      assert(byErr(10L).click_id === -1L && byErr(10L).click_ts.getTime === 0L,
        "no prior click emits the -1/epoch convention")
    } finally q.stop()
  }

  test("resilient scoring retries transient sink failures and delivers every row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val models = graft.ml.TestModels.fixtureModels(spark)
    val scorer = new graft.ml.Scorer(spark, models._1, models._2)
    val input = MemoryStream[(Int, Int, Int, Int, Int, Int, Int, String, String, String)]
    val plays = input.toDF().toDF("qtr", "down", "TimeSecs", "yrdline100",
      "ydstogo", "ydsnet", "month_day", "posteam", "DefensiveTeam", "PlayType_lag")

    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Int]
    val dead = scala.collection.mutable.ArrayBuffer.empty[Int]
    input.addData((3, 3, 60, 50, 8, 15, 920, "PIT", "NE", "Run"))
    val q = PlayStream.scoreStreamResilient(
      plays, scorer,
      sink = scored => {
        // first two delivery attempts fail transiently, third succeeds
        if (failures.getAndIncrement() < 2) throw new RuntimeException("transient sink outage")
        delivered ++= scored.select("qtr").collect().map(_.getInt(0))
      },
      deadLetter = (scored, _) => dead ++= scored.select("qtr").collect().map(_.getInt(0)),
      maxAttempts = 3,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try {
      q.awaitTermination(120000)
      assert(failures.get() === 3) // 2 failed attempts + the success
      assert(delivered.toSeq === Seq(3))
      assert(dead.isEmpty)
    } finally q.stop()
  }

  test("resilient scoring routes a poison batch to the dead letter and the stream survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val models = graft.ml.TestModels.fixtureModels(spark)
    val scorer = new graft.ml.Scorer(spark, models._1, models._2)
    val input = MemoryStream[(Int, Int, Int, Int, Int, Int, Int, String, String, String)]
    val plays = input.toDF().toDF("qtr", "down", "TimeSecs", "yrdline100",
      "ydstogo", "ydsnet", "month_day", "posteam", "DefensiveTeam", "PlayType_lag")

    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
    val dead = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = PlayStream.scoreStreamResilient(
      plays, scorer,
      sink = scored => {
        attempts.getAndIncrement()
        // the sink permanently rejects any batch containing team "BAD"
        if (scored.filter($"posteam" === "BAD").count() > 0)
          throw new RuntimeException("downstream rejects BAD")
        delivered ++= scored.select("posteam").collect().map(_.getString(0))
      },
      deadLetter = (scored, err) =>
        dead ++= scored.select("posteam").collect()
          .map(r => (r.getString(0), err.getMessage)),
      maxAttempts = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      input.addData((3, 3, 60, 50, 8, 15, 920, "BAD", "NE", "Run"))
      q.processAllAvailable()
      // poison batch: maxAttempts sink calls, then dead-lettered
      assert(attempts.get() === 2)
      assert(dead.toSeq === Seq(("BAD", "downstream rejects BAD")))
      assert(delivered.isEmpty)
      // the stream is still alive: the next batch delivers normally
      input.addData((1, 1, 500, 25, 10, 5, 1101, "GB", "CHI", "Pass"))
      q.processAllAvailable()
      assert(delivered.toSeq === Seq("GB"))
      assert(q.isActive)
    } finally q.stop()
  }

  test("streaming play scoring equals batch scoring of the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val models = graft.ml.TestModels.fixtureModels(spark)
    val scorer = new graft.ml.Scorer(spark, models._1, models._2)

    val input = MemoryStream[(Int, Int, Int, Int, Int, Int, Int, String, String, String)]
    val plays = input.toDF().toDF("qtr", "down", "TimeSecs", "yrdline100",
      "ydstogo", "ydsnet", "month_day", "posteam", "DefensiveTeam", "PlayType_lag")

    // AvailableNow snapshots the data present at query start — add first.
    input.addData(
      (3, 3, 60, 50, 8, 15, 920, "PIT", "NE", "Run"),
      (1, 1, 500, 25, 10, 5, 1101, "GB", "CHI", "Pass"))
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double, Double)]
    val q = PlayStream.scoreStream(plays, scorer, scored =>
      collected ++= scored.select("qtr", "best_play", "passing_yards", "running_yards")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getDouble(3))),
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try {
      q.awaitTermination(120000)

      val batchRows = Seq(
        (3, 3, 60, 50, 8, 15, 920, "PIT", "NE", "Run"),
        (1, 1, 500, 25, 10, 5, 1101, "GB", "CHI", "Pass"))
        .toDF("qtr", "down", "TimeSecs", "yrdline100",
          "ydstogo", "ydsnet", "month_day", "posteam", "DefensiveTeam", "PlayType_lag")
      val batch = scorer.scoreBatch(batchRows)
        .select("qtr", "best_play", "passing_yards", "running_yards")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      assert(collected.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq)
    } finally q.stop()
  }
}

/** Stream-stream interval join: errors pair with same-user clicks in
  * the preceding horizon; outside-horizon and other-user clicks don't
  * match. */
class StreamJoinSpec extends graft.SparkSpec {
  import java.sql.Timestamp
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("errors join same-user clicks within the interval only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val errIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Timestamp, Long, Long)]
    val clkIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Timestamp, Long, Long)]
    val errors = errIn.toDF().toDF("ts", "user_id", "event_id")
    val clicks = clkIn.toDF().toDF("ts", "user_id", "event_id")

    val q = EventStream.errorsWithRecentClicks(errors, clicks, "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("streamjoin").start()
    try {
      clkIn.addData(
        (ts("2024-01-01 00:00:00"), 1L, 100L), // in horizon for error@00:05
        (ts("2024-01-01 00:04:00"), 1L, 101L), // in horizon
        (ts("2024-01-01 00:04:30"), 2L, 102L), // other user
        (ts("2024-01-01 00:06:00"), 1L, 103L)) // after the error
      errIn.addData((ts("2024-01-01 00:05:00"), 1L, 500L))
      q.processAllAvailable()
      val got = spark.table("streamjoin")
        .select("error_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((500L, 100L), (500L, 101L)))
    } finally q.stop()
  }
}

/** Streaming exact dedup: duplicate content within the watermark
  * horizon is dropped, first occurrence is kept. */
class StreamDedupSpec extends graft.SparkSpec {
  import java.sql.Timestamp
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark keeps first occurrence per content fingerprint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")

    val q = StreamDedup.dedupedByContent(docs, "ts", "text", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("streamdedup").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), 1L, "alpha beta"),
        (ts("2024-01-01 00:02:00"), 2L, "alpha beta"), // dup within batch
        (ts("2024-01-01 00:03:00"), 3L, "gamma delta"))
      q.processAllAvailable()
      input.addData(
        (ts("2024-01-01 00:04:00"), 4L, "alpha beta"), // dup across batches
        (ts("2024-01-01 00:05:00"), 5L, "epsilon"))
      q.processAllAvailable()

      val kept = spark.table("streamdedup")
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(kept === Set((1L, "alpha beta"), (3L, "gamma delta"), (5L, "epsilon")))
    } finally q.stop()
  }
}

/** Streaming form of the training-data pipeline front half: the
  * stateless quality gate composes with watermarked content dedup on
  * an unbounded stream — same operators, same results as batch. */
class StreamPipelineSpec extends graft.SparkSpec {
  import java.sql.Timestamp
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("quality filter + content dedup on a stream keeps the batch-selected docs") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")

    def qualityGate(df: org.apache.spark.sql.DataFrame) =
      df.filter(TextFunctions.qualityScore(col("text"), satTokens = 10) >= 0.5)

    val rows = Seq(
      (ts("2024-01-01 00:01:00"), 1L, "the quick brown fox jumps over a lazy dog in town"),
      (ts("2024-01-01 00:02:00"), 2L, "spam spam spam"),  // low diversity+short → dropped
      (ts("2024-01-01 00:03:00"), 3L, "the quick brown fox jumps over a lazy dog in town"), // dup of 1
      (ts("2024-01-01 00:04:00"), 4L, "the data engine sorts and joins rows of a big table"))
    val q = StreamDedup.dedupedByContent(qualityGate(docs), "ts", "text", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("streampipe").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val kept = spark.table("streampipe").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 4L))
      // batch equivalent over the same rows selects the same documents
      val batch = qualityGate(rows.toDF("ts", "doc_id", "text"))
        .groupBy(md5(col("text"))).agg(min("doc_id").as("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batch === kept)
    } finally q.stop()
  }
}

/** File-source streaming: the events fixture parquet driven through
  * the same windowed aggregation as a stream, compared to batch. */
class FileStreamSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("parquet-dir stream of events equals batch windowed aggregation") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the fixture is a single file; the file stream source wants a dir
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet")
    val dirPath = java.nio.file.Files.createTempDirectory("graft-stream-src")
    java.nio.file.Files.copy(src, dirPath.resolve("events.parquet"))
    val dir = dirPath.toString
    val batchDf = graft.Tables(spark, "/root/testdata/sf0.001").events
    val schema = spark.read.parquet(dir).schema
    // same encoding normalization the batch Tables boundary applies —
    // works unchanged on a streaming frame (pure projection)
    val streamDf = graft.Tables.normalizeAllTs(
      spark.readStream.schema(schema).parquet(dir))

    val q = EventStream.tumblingCounts(streamDf, "1 day", "1 day")
      .writeStream.outputMode("complete")
      .format("memory").queryName("filestream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("filestream")
        .select("window_start", "event_type", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val want = EventStream.tumblingCounts(batchDf, "1 day", "1 day")
        .select("window_start", "event_type", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === want && got.nonEmpty)
    } finally q.stop()
  }
}
