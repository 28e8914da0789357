package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.{Cdc, Dedup, Graph, Relational}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine-side equality checks at generated SFs where the DuckDB
  * oracles are intractable (recursive closures, O(n²) pair predicates:
  * q202's documented class). Each check compares an engine side with a
  * truth side the engine computes another way, and passes on diff 0.
  * These are the sf1+ evidence rows `SparkEntry.scaleEvidence` cites.
  *
  *  - `dedup_planted <factor>`: over a `ScaleUp … withDocs` corpus every
  *    original's `factor` replicas are near-duplicates, so the
  *    within-replica-group pairs at EXACT shingle distance <= 0.4 are a
  *    planted truth, linear in the corpus. q51's banding must emit all
  *    of them (recall) and q103's clustering must co-label every one.
  *  - `cdc_closure [cutoff-date]`: q166's
  *    `apply(old, diffToLog(tableDiff(old, new))) ≡ new` on (key,
  *    payload), over snapshots of the event log before the cutoff and
  *    at its end. Metadata is excluded by design: a payload-identical
  *    key keeps its old (us, seq) through the round trip, which is what
  *    makes the diff minimal.
  *  - `cc_retract`: q208's ccApplyChanges over the persisted state
  *    equals the from-scratch closure over (base \ D) ∪ I.
  *  - `dedup_delete`, `er_delete`: q215's dedupApplyDeletes and q216's
  *    erApplyDeletes over the persisted full states equal the
  *    from-scratch clustering / resolution of the surviving corpus.
  *
  * Prints one JSON line per result and sf dir; exits 1 if any is FAIL.
  *
  * Usage: runMain graft.tools.ScaleEvidence <check> [check args] <sfDir>...
  */
object ScaleEvidence {

  /** What one comparison found: `rows` rows compared, `diff` of them
    * disagreeing between the engine side and the truth side; `pass` is
    * the check's diff-0 criterion; `extra` adds check-specific JSON
    * fields. */
  final case class Outcome(rows: Long, diff: Long, pass: Boolean,
      extra: Seq[(String, String)] = Nil)

  /** A named check. `params` counts how many leading arguments are its
    * own (the rest are sf dirs); `results` gives, for those arguments
    * and one fixture, each result's part name ("" for a check with one
    * result) with the comparison that yields it, in order. */
  final case class Check(params: Seq[String] => Int,
      results: (Seq[String], Tables) => Seq[(String, () => Outcome)])

  /** One result at one sf dir, with its wall time; printed as one JSON line. */
  final case class Result(check: String, sf: String, outcome: Outcome, sec: Double) {
    def verdict: String = if (outcome.pass) "PASS" else "FAIL"
    def json: String = {
      val fields = Seq("check" -> s""""$check"""", "sf" -> s""""$sf"""",
        "verdict" -> s""""$verdict"""", "rows" -> outcome.rows.toString,
        "diff" -> outcome.diff.toString, "sec" -> f"$sec%.1f") ++ outcome.extra
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
  }

  /** Rows in exactly one of the two frames, duplicates counted. */
  private def symDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  /** A one-result check comparing an engine frame with a truth frame:
    * diff is their symmetric difference, and it passes on diff 0 over
    * a non-empty engine side. */
  private def equality(engine: Tables => DataFrame)(truth: Tables => DataFrame): Check =
    Check(_ => 0, (_, t) => Seq("" -> { () =>
      val got = engine(t)
      val diff = symDiff(got, truth(t))
      val n = got.count()
      Outcome(n, diff, diff == 0 && n > 0)
    }))

  private val Date = """\d{4}-\d{2}-\d{2}""".r

  val checks: Map[String, Check] = Map(
    "dedup_planted" -> Check(_ => 1, (params, t) => {
      import graft.functions.TextFunctions.{jaccardSorted, shingles}
      val factor = params.head.toInt
      val maxDist = 0.4
      lazy val truth = {
        // replica group = original doc id (ScaleUp: new id = orig + rep·stride)
        val stride = (t.documents.agg(max(col("doc_id"))).head().getLong(0) + 1) / factor
        val docs = t.documents
          .select(col("doc_id"), pmod(col("doc_id"), lit(stride)).as("grp"),
            array_sort(shingles(col("text"), 3)).as("sh"))
          .filter(size(col("sh")) > 0)
          .localCheckpoint(true)
        // group sizes are `factor`, so this is factor²/2 · originals
        // pairs, linear in the corpus, no banding involved
        docs.select(col("grp"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
          .join(docs.select(col("grp"), col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("grp"))
          .filter(col("id_a") < col("id_b"))
          .filter(lit(1.0) - jaccardSorted(col("sh_a"), col("sh_b")) <= maxDist)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint(true)
      }
      lazy val nTruth = truth.count()
      Seq(
        "q51_recall" -> { () =>
          val banded = Dedup.minhashPairsFast(t, maxDist).select(col("id_a"), col("id_b"))
          val missed = truth.join(banded, Seq("id_a", "id_b"), "left_anti").count()
          Outcome(nTruth, missed, missed == 0)
        },
        "q103_colabel" -> { () =>
          val labels = Dedup.dedupClustersFast(t, maxDist)
            .select(col("doc_id"), col("cluster_id"))
          val split = truth
            .join(labels.select(col("doc_id").as("id_a"), col("cluster_id").as("c_a")), Seq("id_a"))
            .join(labels.select(col("doc_id").as("id_b"), col("cluster_id").as("c_b")), Seq("id_b"))
            .filter(col("c_a") =!= col("c_b")).count()
          Outcome(nTruth, split, split == 0)
        })
    }),

    "cdc_closure" -> Check(_.headOption.count(Date.matches), (params, t) => {
      val cutoff = params.headOption.getOrElse("2024-01-15")
      Seq("" -> { () =>
        val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
        val log = Cdc.eventChangeLog(t)
        val cutUs = lit(java.time.Instant.parse(s"${cutoff}T00:00:00Z")
          .getEpochSecond * 1000000L)
        val t0 = System.nanoTime()
        // snapshots are node-scale (one row per user); the heavy work is
        // the two latest-wins folds over the event-scale log
        val oldSnap = Cdc.mergeApply(None, log.filter(col("us") < cutUs))
          .localCheckpoint(false, ser)
        val newSnap = Cdc.mergeApply(None, log).localCheckpoint(false, ser)
        val tSnap = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val diff = Cdc.tableDiff(oldSnap, newSnap).localCheckpoint(false, ser)
        val nDiff = diff.count()
        val byKind = diff.groupBy(col("change")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val applied = Cdc.mergeApply(Some(oldSnap), Cdc.diffToLog(diff))
        // closure on (key, payload): exact, both directions
        val mismatch = symDiff(applied.select(col("key"), col("value"), col("etype")),
          newSnap.select(col("key"), col("value"), col("etype")))
        val tRound = (System.nanoTime() - t1) / 1e9
        Outcome(newSnap.count(), mismatch, mismatch == 0, Seq(
          "old_rows" -> oldSnap.count().toString, "diff_rows" -> nDiff.toString,
          "diff_i" -> byKind.getOrElse("I", 0L).toString,
          "diff_d" -> byKind.getOrElse("D", 0L).toString,
          "diff_u" -> byKind.getOrElse("U", 0L).toString,
          "snapshot_sec" -> f"$tSnap%.1f", "roundtrip_sec" -> f"$tRound%.1f"))
      })
    }),

    "cc_retract" -> equality(Graph.ccCoPurchaseRetract) { t =>
      import t.spark.implicits._
      Dedup.connectedComponents(
          t.customer.select($"c_custkey"),
          Graph.customerCoEdges(t).filter(($"a" + $"b") % 7 =!= 0))
        .select($"id".as("c_custkey"), $"component")
    },

    "dedup_delete" -> equality(Dedup.dedupDeleteClusters(_)) { t =>
      import t.spark.implicits._
      val surv = t.documents.filter($"doc_id" % 13 =!= 5)
      val pairs = Dedup
        .minhashPairsOver(surv, $"doc_id", $"text", 0.4, 16, 2)
        .select($"id_a", $"id_b")
      Dedup.connectedComponents(surv.select($"doc_id"),
          pairs, edgesWithinNodes = true)
        .select($"id".as("doc_id"), $"component".as("cluster_id"),
          ($"id" === $"component").as("is_keeper"))
    },

    "er_delete" -> equality(Relational.partGoldenRecordsDelete(_)) { t =>
      import t.spark.implicits._
      val surv = t.part.filter($"p_partkey" % 17 =!= 3)
      Relational.goldenRecordsOver(surv, $"p_partkey",
          $"p_brand", $"p_name", 2)
        .select($"cluster_id", $"golden_id", $"golden_name", $"n_members")
    })

  /** Runs `check` over every sf dir, printing each result as it lands. */
  def run(spark: SparkSession, name: String, check: Check, params: Seq[String],
      dirs: Seq[String]): Seq[Result] =
    dirs.flatMap { dir =>
      Tables.warmLayout(spark, dir)
      val t = Tables(spark, dir)
      check.results(params, t).map { case (part, outcome) =>
        val t0 = System.nanoTime()
        val o = outcome()
        val label = if (part.isEmpty) name else s"$name.$part"
        val r = Result(label, dir, o, (System.nanoTime() - t0) / 1e9)
        println(r.json)
        r
      }
    }

  /** The process exit status: 1 if any result failed. */
  def status(results: Seq[Result]): Int = if (results.forall(_.outcome.pass)) 0 else 1

  def main(args: Array[String]): Unit = {
    val usage = s"usage: ScaleEvidence <${checks.keys.toSeq.sorted.mkString("|")}> [check args] <sfDir>..."
    require(args.nonEmpty && checks.contains(args(0)), usage)
    val check = checks(args(0))
    val rest = args.toSeq.tail
    val (params, dirs) = rest.splitAt(check.params(rest))
    require(dirs.nonEmpty, usage)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.register(spark)
    val results = try run(spark, args(0), check, params, dirs) finally spark.stop()
    sys.exit(status(results))
  }
}
