package graft.tools

import graft.{SparkEntry, SparkSpec}
import graft.tools.ScaleEvidence.{Check, Outcome}

/** The scale-evidence runner on the sf0.001 fixture: the checks
  * `SparkEntry.scaleEvidence` cites exist, the fixture-scale checks
  * pass, and one failing result fails the run. `dedup_planted` needs a
  * `ScaleUp … withDocs` corpus, so it is not run here. */
class ScaleEvidenceSpec extends SparkSpec {

  private lazy val sf = sf001.dir

  test("every scaleEvidence entry names a runner check") {
    assert(SparkEntry.scaleEvidence.nonEmpty)
    SparkEntry.scaleEvidence.foreach { case (q, (tool, _)) =>
      val Array(main, check) = tool.split(" ")
      assert(main === "tools.ScaleEvidence", q)
      assert(ScaleEvidence.checks.contains(check), s"$q cites unknown check $check")
    }
  }

  test("a check's own arguments are split from the sf dirs") {
    val cdc = ScaleEvidence.checks("cdc_closure")
    assert(cdc.params(Seq("2024-02-01", sf)) === 1)
    assert(cdc.params(Seq(sf)) === 0)
    assert(ScaleEvidence.checks("dedup_planted").params(Seq("2", sf)) === 1)
    assert(ScaleEvidence.checks("cc_retract").params(Seq(sf)) === 0)
  }

  for (name <- Seq("cc_retract", "dedup_delete", "er_delete", "cdc_closure"))
    test(s"$name passes with rows on the fixture") {
      val results = ScaleEvidence.run(spark, name, ScaleEvidence.checks(name), Nil, Seq(sf))
      assert(results.map(r => (r.check, r.sf, r.verdict)) === Seq((name, sf, "PASS")))
      assert(results.head.outcome.rows > 0 && results.head.outcome.diff === 0)
      assert(results.head.json.startsWith(s"""{"check":"$name","sf":"$sf","verdict":"PASS","""))
    }

  test("a result with diff > 0 is FAIL and makes the exit status 1") {
    def outcome(diff: Long) = Outcome(rows = 5, diff = diff, pass = diff == 0)
    val fake = Check(_ => 0, (_, _) => Seq("ok" -> (() => outcome(0)), "bad" -> (() => outcome(1))))
    val results = ScaleEvidence.run(spark, "fake", fake, Nil, Seq(sf))
    assert(results.map(r => (r.check, r.verdict)) === Seq(("fake.ok", "PASS"), ("fake.bad", "FAIL")))
    assert(ScaleEvidence.status(results) === 1)
    assert(ScaleEvidence.status(results.take(1)) === 0)
  }
}
