package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ml.{PlayFeatures, PlayPipeline, PlayPrediction, PlayRequest, Scorer}
import graft.serve.ScoringServer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, desc}

import java.io.{BufferedInputStream, BufferedOutputStream, File}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One keep-alive HTTP/1.1 connection to the loopback server. */
final class Conn(port: Int) extends AutoCloseable {
  private var sock: Socket = _
  private var in: BufferedInputStream = _
  private var out: BufferedOutputStream = _

  private def open(): Unit = {
    sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    in = new BufferedInputStream(sock.getInputStream)
    out = new BufferedOutputStream(sock.getOutputStream)
  }

  private def line(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb += c.toChar
      c = in.read()
    }
    sb.result()
  }

  /** Sends one request; returns (status, body). */
  def apply(method: String, path: String, body: Array[Byte], ctype: String): (Int, String) = {
    if (sock == null) open()
    val head = s"$method $path HTTP/1.1\r\nHost: localhost\r\nContent-Type: $ctype\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    out.write(head.getBytes(UTF_8)); out.write(body); out.flush()
    val status = line().split(" ")(1).toInt
    var len = 0
    var close = false
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      val k = h.substring(0, i).trim.toLowerCase
      if (k == "content-length") len = h.substring(i + 1).trim.toInt
      if (k == "connection" && h.substring(i + 1).trim.equalsIgnoreCase("close")) close = true
      h = line()
    }
    val buf = in.readNBytes(len)
    if (close) this.close()
    (status, new String(buf, UTF_8))
  }

  def close(): Unit = if (sock != null) { sock.close(); sock = null }
}

object Api {
  def plays(spark: SparkSession, data: String): DataFrame =
    PlayFeatures.derive(PlayFeatures.readCsv(spark, new File(data, "plays.csv").getAbsolutePath)).cache()

  def model(data: String, name: String): String = new File(data, s"models/nfl_model_$name").getAbsolutePath

  /** Fits both models on the generated plays; saves them when `save`.
    * Returns the fit time in ms. */
  def train(spark: SparkSession, data: String, save: Boolean): Double = {
    val p = plays(spark, data)
    p.count()
    val t0 = System.nanoTime()
    val (pass, run) = PlayPipeline.train(p)
    val ms = (System.nanoTime() - t0) / 1e6
    if (save) { PlayPipeline.save(pass, model(data, "pass")); PlayPipeline.save(run, model(data, "run")) }
    p.unpersist()
    ms
  }
}

/** A loopback `ScoringServer` under a closed loop.
  *
  * The models are fitted once per checkout by `PlayPipeline.train` on
  * generated plays (`gen.py`) and saved, as the reference app ships
  * saved models; each set-up loads them, as the app does at start.
  * The request mix (drawn from the seed): 85% valid `POST /api`, 5%
  * `POST /` form scoring, 5% `GET /play/{n}`, 5% bodies with missing or
  * mistyped fields, which must get 400. Valid answers must equal the
  * ones `Scorer.scoreBatch` (the Spark ML transform path) computed in
  * set-up.
  *
  * The timed phase is a closed loop over `nproc` keep-alive
  * connections: `ops_per_s` is the server's capacity and the latencies
  * are send-to-answer. There is no open-loop phase: at any rate under
  * capacity a reused connection drifts between answering in ~1 ms and
  * waiting ~40 ms for a delayed ACK (see README) from run to run, while
  * back-to-back requests always wait.
  */
final class Api(val args: Main.Args) extends Workload {
  private val Pool = 256
  private val Warmup = 2000
  /** Epoch ms at nanoTime 0, for span times. */
  private val epochMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private val mapper = new ObjectMapper()
  private val cols = Seq("qtr", "down", "TimeSecs", "yrdline100", "ydstogo", "ydsnet",
    "month_day", "posteam", "DefensiveTeam", "PlayType_lag")

  private val pool: IndexedSeq[PlayRequest] = {
    val r = new scala.util.Random(args.seed)
    val teams = graft.ml.PlaySchema.teams
    val days = (for (m <- 9 to 12; d <- 1 to 30) yield m * 100 + d) ++ Seq(101, 102, 103)
    IndexedSeq.fill(Pool) {
      val pos = teams(r.nextInt(teams.length))
      PlayRequest(qtr = 1 + r.nextInt(4), down = 1 + r.nextInt(4), TimeSecs = r.nextInt(3600),
        yrdline100 = 1 + r.nextInt(99), ydstogo = 1 + r.nextInt(20), ydsnet = r.nextInt(90) - 10,
        month_day = days(r.nextInt(days.length)), posteam = pos,
        DefensiveTeam = teams.filterNot(_ == pos)(r.nextInt(teams.length - 1)),
        PlayType_lag = Seq("Pass", "Run", "FirstPlay")(r.nextInt(3)))
    }
  }

  private val badBodies = IndexedSeq("{}", "[1,2,3]", """{"qtr":"three","down":3}""",
    """{"qtr":3,"down":3,"TimeSecs":60,"yrdline100":50,"ydstogo":8,"ydsnet":15,"month_day":920,"posteam":"PIT","DefensiveTeam":7,"PlayType_lag":"Run"}""")

  /** Request `i` of the seeded mix: (kind, index into its input set). */
  private def mix(i: Long): (Int, Int) = {
    // SplittableRandom mixes its seed; java.util.Random's first draws
    // from consecutive seeds are nearly equal
    val r = new java.util.SplittableRandom(args.seed * 1000003L + i)
    val u = r.nextDouble()
    val kind = if (u < 0.85) 0 else if (u < 0.90) 1 else if (u < 0.95) 2 else 3
    (kind, r.nextInt(Int.MaxValue))
  }

  private def apiBody(p: PlayRequest): String =
    s"""{"qtr":${p.qtr},"down":${p.down},"TimeSecs":${p.TimeSecs},"yrdline100":${p.yrdline100},""" +
      s""""ydstogo":${p.ydstogo},"ydsnet":${p.ydsnet},"month_day":${p.month_day},""" +
      s""""posteam":"${p.posteam}","DefensiveTeam":"${p.DefensiveTeam}","PlayType_lag":"${p.PlayType_lag}"}"""

  private def formBody(p: PlayRequest): String =
    cols.zip(p.productIterator.toSeq).map { case (k, v) => s"$k=$v" }.mkString("&")

  // set-up state, replaced by every set-up rep
  private var scorer: Scorer = _
  private var server: ScoringServer = _
  private var expected: IndexedSeq[PlayPrediction] = _
  private var replay: IndexedSeq[Map[String, String]] = _
  private var startMsByRep = Seq.empty[Double]

  /** Sends request `i` on `c`; returns (status, correct). */
  private def send(c: Conn, i: Long): (Int, Boolean) = {
    val (kind, x) = mix(i)
    kind match {
      case 0 =>
        val k = x % Pool
        val (st, b) = c("POST", "/api", apiBody(pool(k)).getBytes(UTF_8), "application/json")
        val e = expected(k)
        (st, st == 200 && {
          val j = mapper.readTree(b)
          j.get("best_play").asText() == e.bestPlay &&
            j.get("passing_yards").asDouble() == e.passingYards &&
            j.get("running_yards").asDouble() == e.runningYards
        })
      case 1 =>
        val k = x % Pool
        val n = x % replay.length
        val (st, b) = c("POST", s"/?n=$n", formBody(pool(k)).getBytes(UTF_8), "application/x-www-form-urlencoded")
        val e = expected(k)
        (st, st == 200 && b.contains(s"<b>${e.bestPlay}</b>") &&
          b.contains(f"""<span id="passing_yards">${e.passingYards}%.2f</span>""") &&
          b.contains(f"""<span id="running_yards">${e.runningYards}%.2f</span>"""))
      case 2 =>
        val n = x % replay.length
        val (st, b) = c("GET", s"/play/$n", Array.emptyByteArray, "text/plain")
        (st, st == 200 && {
          val j = mapper.readTree(b)
          replay(n).forall { case (k, v) => j.has(k) && j.get(k).asText() == v }
        })
      case _ =>
        val (st, _) = c("POST", "/api", badBodies(x % badBodies.length).getBytes(UTF_8), "application/json")
        (st, st == 400)
    }
  }

  /** A serving process's start: load both saved models, compute the
    * expected answers, start the server and warm it up. */
  private def setUpOnce(spark: SparkSession, k: Int): Unit = {
    if (server != null) server.stop()
    val plays = Api.plays(spark, args.data)
    scorer = new Scorer(spark, PlayPipeline.load(Api.model(args.data, "pass")),
      PlayPipeline.load(Api.model(args.data, "run")))
    val reqs = spark.createDataFrame(pool.zipWithIndex.map { case (p, i) =>
      Row(i, p.qtr, p.down, p.TimeSecs, p.yrdline100, p.ydstogo, p.ydsnet, p.month_day,
        p.posteam, p.DefensiveTeam, p.PlayType_lag)
    }.asJava, org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("rid", org.apache.spark.sql.types.IntegerType) +:
        graft.ml.PlaySchema.schema.fields.filter(f => cols.contains(f.name))
          .sortBy(f => cols.indexOf(f.name)).toSeq))
    val byId = scorer.scoreBatch(reqs).select("rid", "best_play", "passing_yards", "running_yards")
      .collect().map(r => r.getInt(0) -> PlayPrediction(r.getString(1), r.getDouble(2), r.getDouble(3))).toMap
    expected = (0 until Pool).map(byId)
    val table = plays.orderBy(col("GameID"), col("Drive"), desc("TimeSecs")).cache()
    replay = table.selectExpr(cols: _*).collect().map(r => cols.zipWithIndex.map { case (c, i) =>
      c -> String.valueOf(r.get(i)) }.toMap).toIndexedSeq
    val s0 = System.nanoTime()
    server = new ScoringServer(scorer, table, 0)
    server.start()
    val startMs = (System.nanoTime() - s0) / 1e6
    // first touch: the server, Jackson and both scorers compiled before
    // timing; each request on its own connection, which never waits on
    // a delayed ACK
    val failed = new AtomicLong()
    threads(Main.cpus) { j =>
      for (i <- j until Warmup by Main.cpus) {
        val c = new Conn(server.boundPort)
        try if (!send(c, (1L << 40) + i)._2) failed.incrementAndGet() finally c.close()
      }
    }
    if (failed.get > 0) throw new IllegalStateException(s"set-up: ${failed.get} warm-up requests failed")
    startMsByRep :+= startMs
  }

  private case class Result(n: Long, failed: Long, latMs: Seq[Double], apiUs: Seq[Double],
      status: Map[Int, Long], refused: Long, elapsed: Double, spans: Seq[Span])

  private case class Rec(ok: Boolean, status: Int, ms: Double, api: Boolean)

  private final class Recorder(port: Int, traced: Boolean) {
    val recs = new java.util.ArrayList[Rec]()
    val spans = new java.util.ArrayList[Span]()
    val refused = new AtomicLong()
    private var conn = new Conn(port)
    def one(i: Long): Unit = {
      val t0 = System.nanoTime()
      val (st, ok) =
        try send(conn, i)
        catch {
          case _: java.io.IOException =>
            refused.incrementAndGet(); conn.close(); conn = new Conn(port); (0, false)
        }
      val t1 = System.nanoTime()
      recs.add(Rec(ok, st, (t1 - t0) / 1e6, mix(i)._1 == 0))
      if (traced) spans.add(Span(s"req-$i", "", "request", epochMs + t0 / 1e6, epochMs + t1 / 1e6,
        Map("kind" -> mix(i)._1, "status" -> st)))
    }
    def close(): Unit = conn.close()
  }

  private def threads(n: Int)(body: Int => Unit): Unit = {
    val ts = (0 until n).map(j => new Thread(() => body(j)))
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  /** The timed phase: `nproc` keep-alive connections, each sending its
    * next request when the last one is answered, for `seconds`. */
  private def closedLoop(first: Long, traced: Boolean): Result = {
    val n = Main.cpus
    val recs = (0 until n).map(_ => new Recorder(server.boundPort, traced))
    val t0 = System.nanoTime()
    threads(n) { j =>
      var i = j.toLong
      while (System.nanoTime() - t0 < args.seconds * 1000000000L) { recs(j).one(first + i); i += n }
      recs(j).close()
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val all = recs.flatMap(_.recs.asScala)
    Result(all.length, all.count(!_.ok), all.map(_.ms), all.filter(_.api).map(_.ms * 1000),
      all.groupBy(_.status / 100).map { case (k, v) => k -> v.length.toLong },
      recs.map(_.refused.get).sum, elapsed, recs.flatMap(_.spans.asScala))
  }

  private def phase(traced: Boolean): (Main.Phase, Result, Long) = {
    val gc0 = Main.gcMillis()
    val r = closedLoop(1L << 42, traced)
    val gc = Main.gcMillis() - gc0
    (Main.Phase(r.n.toInt, r.failed.toInt, (r.n - r.failed) / r.elapsed, r.latMs, Main.liveHeapMb()), r, gc)
  }

  def run(): Int = {
    val (reps, spark, setupLayer) = setups(2)(setUpOnce)
    val setupS = Main.median(reps)
    try {
      val (untraced, _, _) = phase(traced = false)
      val e2e = Main.e2e(setupS, untraced)
      if (!args.trace) return report(untraced.ops, untraced.failed, e2e)

      val scoreUs = {
        val t = (0 until 20 * Pool).map { i =>
          val p = pool(i % Pool)
          val t0 = System.nanoTime(); scorer.scoreOneFast(p); (System.nanoTime() - t0) / 1e3
        }
        Main.median(t.drop(Pool))
      }
      val (traced, r, gc) = phase(traced = true)
      val rtt = Main.median(r.apiUs)
      val layers = setupLayer ++ Map(
        "ml.train_ms" -> Api.train(spark, args.data, save = false),
        "serve.start_ms" -> Main.median(startMsByRep),
        "ml.score_fast_us" -> scoreUs,
        "serve.round_trip_us" -> rtt,
        "serve.overhead_us" -> (rtt - scoreUs),
        "serve.status_2xx" -> r.status.getOrElse(2, 0L).toDouble,
        "serve.status_4xx" -> r.status.getOrElse(4, 0L).toDouble,
        "serve.status_5xx" -> r.status.getOrElse(5, 0L).toDouble,
        "serve.refused" -> r.refused.toDouble,
        "jvm.gc_ms" -> gc.toDouble)
      val e2eTraced = Main.e2e(setupS, traced)
      Trace.write(args, layers, e2e, e2eTraced, r.spans, Map.empty,
        Map("round_trip_us" -> rtt, "score_fast_us" -> scoreUs, "overhead_us" -> (rtt - scoreUs)))
      report(untraced.ops + traced.ops, untraced.failed + traced.failed, Trace.perLayer(layers, e2e, e2eTraced))
    } finally server.stop()
  }
}
