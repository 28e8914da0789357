package graft.serve

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.ml.{PlayRequest, Scorer, TestModels}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The HTTP surface over models fitted on the seeded in-repo plays.
  * The recommended play is whatever the fitted models' argmax is, so
  * responses are checked against `Scorer.scoreOne` (the transform
  * path) on the same models; the reference's own argmax for the golden
  * request is pinned in PlayPipelineSpec and RefModelLoadSpec. */
class ScoringServerSpec extends SparkSpec {

  private lazy val scorer = {
    val models = TestModels.fixtureModels(spark)
    new Scorer(spark, models._1, models._2)
  }
  private lazy val server = {
    val s = new ScoringServer(scorer, TestModels.fixturePlays(spark), port = 0)
    s.start()
    s
  }
  private lazy val base = s"http://localhost:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private val goldenJson =
    """{"qtr":3,"down":3,"TimeSecs":60,"yrdline100":50,"ydstogo":8,"ydsnet":15,
      |"month_day":920,"posteam":"PIT","DefensiveTeam":"NE","PlayType_lag":"Run"}""".stripMargin
  private val golden = PlayRequest(qtr = 3, down = 3, TimeSecs = 60,
    yrdline100 = 50, ydstogo = 8, ydsnet = 15, month_day = 920,
    posteam = "PIT", DefensiveTeam = "NE", PlayType_lag = "Run")

  test("golden request returns the reference response shape with both yardages") {
    val r = post("/api", goldenJson)
    assert(r.statusCode() === 200)
    val want = scorer.scoreOne(golden)
    val got = new ObjectMapper().readTree(r.body())
    assert(got.get("best_play").asText() === want.bestPlay)
    assert(got.get("passing_yards").asDouble() === want.passingYards)
    assert(got.get("running_yards").asDouble() === want.runningYards)
    assert(r.body().contains("passing_yards") && r.body().contains("running_yards"))
  }

  test("missing field → 400 naming the field") {
    val r = post("/api", """{"qtr":1}""")
    assert(r.statusCode() === 400 && r.body().contains("down"))
  }

  test("syntactically broken JSON → 400 naming the body") {
    val r = post("/api", """{"qtr":3,"down":""")
    assert(r.statusCode() === 400, r.body())
    assert(r.body().contains("request body is not valid JSON"), r.body())
  }

  test("unseen PlayType_lag → 400 naming the field and the label, on /api and the form") {
    val r = post("/api", goldenJson.replace("\"Run\"", "\"Punt\""))
    assert(r.statusCode() === 400, r.body())
    assert(r.body().contains("PlayType_lag") && r.body().contains("Punt"), r.body())
    val form = post("/?n=0", "qtr=3&down=3&TimeSecs=60&yrdline100=50&ydstogo=8" +
      "&ydsnet=15&month_day=920&posteam=PIT&DefensiveTeam=NE&PlayType_lag=Punt")
    assert(form.statusCode() === 400, form.body())
    assert(form.body().contains("PlayType_lag") && form.body().contains("Punt"), form.body())
  }

  test("non-POST → 405; bad replay row → 404; health → ok") {
    assert(get("/api").statusCode() === 405)
    assert(get("/play/99999999").statusCode() === 404)
    assert(get("/health").body() === """{"status":"ok"}""")
  }

  test("replay cursor returns the first historical play") {
    val r = get("/play/0")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"PlayType_lag\":\"FirstPlay\""))
  }

  test("HTML form page prefills from the replay row and scores a submission") {
    // GET /: form prefilled from historical row 0
    val pageR = get("/?n=0")
    assert(pageR.statusCode() === 200)
    assert(pageR.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
    val page = pageR.body()
    assert(page.contains("<form method=\"POST\""))
    // categorical fields render as the reference's dropdowns: 32 teams
    // for posteam/DefensiveTeam, Run/Pass (+ the out-of-list replay
    // value, still selectable) for PlayType_lag
    assert(page.contains("<select name=\"posteam\">") &&
      page.contains("<select name=\"DefensiveTeam\">"))
    assert("<option value=\"[A-Z]{2,3}\"".r.findAllIn(page).size >= 64)
    assert(page.contains("<option value=\"FirstPlay\" selected>"))
    // POST /: the golden request as a form submission → rendered
    // verdict with both rounded yardages + the advance link
    val form = "qtr=3&down=3&TimeSecs=60&yrdline100=50&ydstogo=8&ydsnet=15" +
      "&month_day=920&posteam=PIT&DefensiveTeam=NE&PlayType_lag=Run"
    val scored = post("/?n=0", form)
    assert(scored.statusCode() === 200)
    val want = scorer.scoreOne(golden)
    assert(scored.body().contains(s"<b>${want.bestPlay}</b>"))
    assert(scored.body().contains(f"""<span id="passing_yards">${want.passingYards}%.2f</span>""") &&
      scored.body().contains(f"""<span id="running_yards">${want.runningYards}%.2f</span>"""))
    assert(scored.body().contains("id=\"passing_yards\"") &&
      scored.body().contains("id=\"running_yards\""))
    assert(scored.body().contains("href=\"/?n=1\"")) // cursor advanced
    // unknown paths under the root context still 404
    assert(get("/nope").statusCode() === 404)
    // malformed submission → 400 naming the field
    val bad = post("/?n=0", "qtr=notanint")
    assert(bad.statusCode() === 400 && bad.body().contains("qtr"))
  }
}
