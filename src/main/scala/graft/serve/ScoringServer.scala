package graft.serve

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.ml.{PlayRequest, Scorer}
import org.apache.spark.sql.DataFrame

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** JSON scoring service — the Spark-native rebuild of the reference's
  * Flask app (`assets/app_nfl.py:282-316`): same `/api` request and
  * response fields, no Py4J boundaries, models preloaded once.
  *
  * Endpoints:
  *  - POST /api  {qtr,down,TimeSecs,yrdline100,ydstogo,ydsnet,
  *                month_day,posteam,DefensiveTeam,PlayType_lag}
  *           →  {best_play, passing_yards, running_yards}
  *  - GET/POST /  the reference's browser form flow (prefill from
  *    replay row ?n=, score, advance; `assets/templates/index.html:
  *    121-261`, `assets/app_nfl.py:242-273`).
  *  - GET  /play/{n}  replay cursor over the historical table (the
  *    reference's form pre-fill semantics as JSON;
  *    `assets/app_nfl.py:68-71,247-248`).
  *  - GET  /health
  *
  * A POST body over [[ScoringServer.MaxBody]] bytes gets 413.
  *
  * Uses the JDK's HttpServer (build.sbt is offline; SURVEY.md §7) and
  * Jackson from Spark's own classpath for JSON.
  */
final class ScoringServer(scorer: Scorer, replayTable: DataFrame, port: Int = 0) {

  private val mapper = new ObjectMapper()

  /** Replay rows cached driver-side once — the reference holds the full
    * 29k-row table in memory the same way (`assets/app_nfl.py:42-65`). */
  private lazy val replayRows: Array[Map[String, Any]] = {
    val cols = Seq("qtr", "down", "TimeSecs", "yrdline100", "ydstogo",
      "ydsnet", "month_day", "posteam", "DefensiveTeam", "PlayType_lag")
    replayTable.selectExpr(cols: _*).collect()
      .map(r => cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def err(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, s"""{"error":${mapper.writeValueAsString(msg)}}""")

  /** The request body, read up to one byte past [[ScoringServer.MaxBody]]
    * whether its length is declared or chunked, so an oversized body is
    * never buffered; past the limit it is a 413 naming the limit. */
  private def body(ex: HttpExchange): Array[Byte] = {
    val b = ex.getRequestBody.readNBytes(ScoringServer.MaxBody + 1)
    if (b.length > ScoringServer.MaxBody) throw new ScoringServer.BodyTooLarge
    b
  }

  /** The scoring request from a field lookup: `int` and `str` give a
    * field's value, or None when it is missing or mistyped, which is a
    * 400 naming the field. `/api` and the form share it. */
  private def decode(int: String => Option[Int], str: String => Option[String]): PlayRequest = {
    def i(n: String): Int = int(n)
      .getOrElse(throw new IllegalArgumentException(s"missing/invalid int field: $n"))
    def s(n: String): String = str(n)
      .getOrElse(throw new IllegalArgumentException(s"missing/invalid string field: $n"))
    PlayRequest(
      qtr = i("qtr"), down = i("down"), TimeSecs = i("TimeSecs"),
      yrdline100 = i("yrdline100"), ydstogo = i("ydstogo"), ydsnet = i("ydsnet"),
      month_day = i("month_day"), posteam = s("posteam"),
      DefensiveTeam = s("DefensiveTeam"), PlayType_lag = s("PlayType_lag"))
  }

  private object ApiHandler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        if (ex.getRequestMethod != "POST") { err(ex, 405, "POST required"); return }
        val json: JsonNode = mapper.readTree(body(ex))
        def field(n: String): Option[JsonNode] = Option(json.get(n))
        val req = decode(field(_).filter(_.canConvertToInt).map(_.asInt()),
          field(_).filter(_.isTextual).map(_.asText()))
        // local fast path: no Spark job per request (same doubles as
        // the transform path, asserted in PlayPipelineSpec)
        val p = scorer.scoreOneFast(req)
        respond(ex, 200,
          s"""{"best_play":${mapper.writeValueAsString(p.bestPlay)},""" +
            s""""passing_yards":${p.passingYards},"running_yards":${p.runningYards}}""")
      } catch {
        case e: JsonProcessingException =>
          err(ex, 400, s"request body is not valid JSON: ${e.getOriginalMessage}")
        case e: ScoringServer.BodyTooLarge => err(ex, 413, e.getMessage)
        case e: IllegalArgumentException => err(ex, 400, e.getMessage)
        case e: Exception => err(ex, 500, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
  }

  /** The reference's browser form flow (`assets/templates/index.html:
    * 121-261`, `assets/app_nfl.py:242-273`): GET renders the form
    * prefilled from replay row `n`; POST scores the submitted fields
    * and re-renders with both rounded yardages and the recommended
    * play, linking to the next historical play. The replay cursor is
    * carried in the URL (`/?n=3`) instead of server-side mutable
    * state — same semantics, restart-safe. */
  private object IndexHandler extends HttpHandler {
    private val FormFields = Seq("qtr", "down", "TimeSecs", "yrdline100",
      "ydstogo", "ydsnet", "month_day", "posteam", "DefensiveTeam", "PlayType_lag")

    // the reference's 32-team dropdown list (`assets/app_nfl.py:34`)
    // and play types (`index.html:237-241`); selects render for these
    // fields, free-text inputs for the numeric ones
    private val Teams = Seq("NYJ", "CAR", "TB", "OAK", "DET", "TEN", "BUF",
      "BAL", "NE", "GB", "JAC", "DEN", "ARI", "SF", "KC", "SEA", "CIN",
      "DAL", "CLE", "MIA", "SD", "STL", "MIN", "ATL", "PHI", "WAS", "NYG",
      "PIT", "NO", "IND", "HOU", "CHI")
    private val SelectOptions: Map[String, Seq[String]] = Map(
      "posteam" -> Teams, "DefensiveTeam" -> Teams,
      "PlayType_lag" -> Seq("Run", "Pass"))

    private def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;")
        .replace(">", "&gt;").replace("\"", "&quot;")

    private def page(n: Int, fields: Map[String, String],
        result: Option[(String, Double, Double)]): String = {
      val inputs = FormFields.map { f =>
        val cur = fields.getOrElse(f, "")
        SelectOptions.get(f) match {
          case Some(opts) =>
            // the current value always renders (selected), even if it
            // is outside the canonical list — replay rows drive this
            val all = if (cur.nonEmpty && !opts.contains(cur)) cur +: opts else opts
            val options = all.map { o =>
              s"""<option value="${esc(o)}"${if (o == cur) " selected" else ""}>${esc(o)}</option>"""
            }.mkString
            s"""<label>$f <select name="$f">$options</select></label><br/>"""
          case None =>
            s"""<label>$f <input type="text" name="$f" value="${esc(cur)}"/></label><br/>"""
        }
      }.mkString("\n")
      val verdict = result.map { case (best, pass, run) =>
        f"""<div id="result"><b>$best%s</b>
           |<span id="passing_yards">$pass%.2f</span> passing yards vs
           |<span id="running_yards">$run%.2f</span> running yards</div>""".stripMargin
      }.getOrElse("")
      s"""<!DOCTYPE html>
         |<html><head><title>Play Predictions</title></head><body>
         |<h1>Run vs Pass</h1>
         |$verdict
         |<form method="POST" action="/?n=$n">
         |$inputs
         |<button type="submit">Predict</button>
         |</form>
         |<a href="/?n=${n + 1}">Next play</a>
         |</body></html>""".stripMargin
    }

    override def handle(ex: HttpExchange): Unit =
      try {
        val path = ex.getRequestURI.getPath
        if (path != "/" && path != "/index") { err(ex, 404, s"no route: $path"); return }
        val n = Option(ex.getRequestURI.getQuery).toSeq
          .flatMap(_.split("&")).collectFirst {
            case kv if kv.startsWith("n=") => kv.drop(2).toInt
          }.getOrElse(0)
        if (n < 0 || n >= replayRows.length) { err(ex, 404, s"row $n out of range"); return }
        if (ex.getRequestMethod == "POST") {
          val form = new String(body(ex), StandardCharsets.UTF_8)
            .split("&").filter(_.contains("=")).map { kv =>
              val Array(k, v) = kv.split("=", 2)
              k -> java.net.URLDecoder.decode(v, "UTF-8")
            }.toMap
          val p = scorer.scoreOneFast(decode(form.get(_).flatMap(_.toIntOption), form.get))
          // re-render prefilled with the submitted values + the
          // verdict; the page's "next play" anchor (n+1) is the
          // reference's advancing replay cursor (app_nfl.py:269)
          respond(ex, 200, page(n, form,
            Some((p.bestPlay, p.passingYards, p.runningYards))), ScoringServer.Html)
        } else {
          val prefill = replayRows(n).map { case (k, v) => k -> String.valueOf(v) }
          respond(ex, 200, page(n, prefill, None), ScoringServer.Html)
        }
      } catch {
        case _: NumberFormatException => err(ex, 400, "bad row number")
        case e: ScoringServer.BodyTooLarge => err(ex, 413, e.getMessage)
        case e: IllegalArgumentException => err(ex, 400, e.getMessage)
        case e: Exception => err(ex, 500, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
  }

  private object PlayHandler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val n = ex.getRequestURI.getPath.stripPrefix("/play/").toInt
        if (n < 0 || n >= replayRows.length) { err(ex, 404, s"row $n out of range"); return }
        respond(ex, 200, mapper.writeValueAsString(
          replayRows(n).map { case (k, v) => k -> String.valueOf(v) }
            .foldLeft(mapper.createObjectNode()) { case (o, (k, v)) => o.put(k, v); o }))
      } catch {
        case _: NumberFormatException => err(ex, 400, "bad row number")
        case e: Exception => err(ex, 500, e.getMessage)
      }
  }

  def start(): Unit = {
    server.createContext("/", IndexHandler)
    server.createContext("/api", ApiHandler)
    server.createContext("/play/", PlayHandler)
    server.createContext("/health",
      (ex: HttpExchange) => respond(ex, 200, """{"status":"ok"}"""))
    server.setExecutor(null) // serial, like the reference's threaded=False
    server.start()
  }

  def stop(): Unit = server.stop(0)
}

object ScoringServer {

  /** The largest request body `/api` or the form accepts, in bytes. */
  val MaxBody: Int = 64 * 1024

  private val Html = "text/html; charset=utf-8"

  final class BodyTooLarge extends Exception(s"request body exceeds the $MaxBody-byte limit")
}
