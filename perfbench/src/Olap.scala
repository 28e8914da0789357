package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

object Olap {

  /** One-shot relational, SQL, text and similarity queries: Catalyst
    * planning, scans, shuffles and native expressions (fingerprint
    * hashes, cosine_sim, minhash_sigs, winnow_fps), no driver loops.
    * At sf0.02. */
  val ScanQueries = Seq("q01_pricing_summary", "q94_sql_tpch5", "q21_fingerprints",
    "q28_cosine_pairs", "q31_minhash_pairs", "q53_winnow_fp")

  /** The ROADMAP's carried targets: iterative and stateful queries with
    * many small sequential jobs, local checkpoints and persisted state
    * (SCD2 increment, column profile, warm PageRank, resampling, SCC,
    * Damerau matching). At sf0.01: they are bound by driver latency,
    * not data, and cost several times a one-shot query. */
  val CarriedTargets = Seq("q193_scd2_increment", "q95_column_profile", "q203_pagerank_warm",
    "q169_interp_resample", "q181_scc", "q171_damerau_match")

  /** Every operation's query and the fixture scale it reads. */
  val Queries: Seq[(String, String)] = ScanQueries.map(_ -> "sf0.02") ++ CarriedTargets.map(_ -> "sf0.01")

  /** Every query, most expensive first (as measured at these scales):
    * the order a set-up pass hands them out in, so that no client is
    * left running a long query alone at the pass's end. */
  val ByCost: Seq[String] = Seq("q181_scc", "q171_damerau_match", "q193_scd2_increment", "q169_interp_resample",
    "q203_pagerank_warm", "q95_column_profile", "q94_sql_tpch5", "q31_minhash_pairs",
    "q01_pricing_summary", "q28_cosine_pairs", "q21_fingerprints", "q53_winnow_fp")

  /** A timed round's order: [[ByCost]] with its four cheapest queries,
    * which start last, in an order drawn from `r`. Reordering the rest
    * changes which long queries overlap, and with it their latencies:
    * the pooled median then moved by up to 18% from seed to seed. */
  def roundOrder(r: scala.util.Random): Seq[String] = ByCost.dropRight(4) ++ r.shuffle(ByCost.takeRight(4))

  /** Order-independent result fingerprint: SHA-256 over the sorted
    * canonical rows (doubles by their bits), plus the row count. */
  def fingerprint(df: DataFrame): String = {
    val rows = df.collect().map(r => canon(r)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fieldNames.mkString(",").getBytes("UTF-8"))
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString + s":${rows.length}"
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
    case f: Float => java.lang.Integer.toHexString(
      java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f))
    case t: java.sql.Timestamp => (t.getTime / 1000 * 1000000 + t.getNanos / 1000 % 1000000).toString
    case i: java.time.Instant => (i.getEpochSecond * 1000000 + i.getNano / 1000).toString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }
}

/** [[Olap.Queries]] into the `noop` sink, closed loop, `nproc` clients.
  *
  * A pass runs every query once: each client takes the next query when
  * its last one is done, most expensive first ([[Olap.ByCost]]), so no
  * client is left running a long query alone at the pass's end. Set-up
  * runs one pass; the timed phase runs whole passes (rounds, ordered by
  * [[Olap.roundOrder]]) until `--seconds` have passed and at least
  * `MinRounds` ran, so every run times the same multiset of operations
  * and pooled percentiles compare like with like. An operation is timed
  * from its submission to the end of its `noop` write; it fails if it
  * throws or its query's result fingerprint (taken in the first set-up,
  * outside the timed window) differs from the pinned value.
  */
final class Olap(val args: Main.Args) extends Workload {
  /** A traced run times an untraced and a traced phase, two rounds
    * each, to stay within a run's time limit. */
  private val MinRounds = if (args.trace) 2 else 3
  private val dirOf: Map[String, String] = Olap.Queries.map { case (q, sf) =>
    q -> new File(args.data, if (args.sf == "-") sf else args.sf).getAbsolutePath
  }.toMap

  private def build(spark: SparkSession)(q: String): DataFrame = SparkEntry.queries(q)(spark, dirOf(q))

  private def expected: Map[String, String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(args.expected))
    val m = Olap.Queries.map { case (q, sf) =>
      val at = if (args.sf == "-") sf else args.sf
      val v = Option(root.get(at)).flatMap(n => Option(n.get(q))).getOrElse(
        throw new IllegalArgumentException(s"no pinned fingerprint for $q at $at in ${args.expected}"))
      q -> v.asText()
    }.toMap
    // the self-test's deliberately wrong value: one pinned fingerprint altered
    if (args.corrupt) m.updated(Olap.Queries.head._1, "0" + m(Olap.Queries.head._1).drop(1)) else m
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private case class Done(query: String, start: Long, end: Long, ms: Double)

  /** Runs `queries` in order on `nproc` client threads, each taking the
    * next one when its last is done. `op` runs one query and returns its
    * latency in ms; an exception makes it NaN. */
  private def pass(queries: Seq[String])(op: String => Double): Seq[Done] = {
    val todo = new ConcurrentLinkedQueue[String](queries.asJava)
    val done = new ConcurrentLinkedQueue[Done]()
    val threads = (1 to Main.cpus).map { _ =>
      val t = new Thread(() => {
        var q = todo.poll()
        while (q != null) {
          val t0 = System.nanoTime()
          val ms = try op(q) catch {
            case e: Exception =>
              System.err.println(s"[perfbench] $q failed: $e"); Double.NaN
          }
          done.add(Done(q, t0, System.nanoTime(), ms))
          q = todo.poll()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    done.asScala.toSeq
  }

  private def timedNoop(spark: SparkSession)(q: String): Double = {
    val t0 = System.nanoTime()
    noop(build(spark)(q))
    (System.nanoTime() - t0) / 1e6
  }

  /** The timed phase. Throughput is correct operations per second of
    * the phase's wall time. */
  private def timed(seed: Long, bad: Set[String], op: String => Double): Main.Phase = {
    val r = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    val all = Seq.newBuilder[Done]
    var rounds = 0
    while (rounds < MinRounds || System.nanoTime() < deadline) {
      val r0 = System.nanoTime()
      all ++= pass(Olap.roundOrder(r))(op)
      System.err.println(f"[perfbench] round $rounds: ${(System.nanoTime() - r0) / 1e9}%.2f s")
      rounds += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val ops = all.result()
    val ok = ops.filter(d => !d.ms.isNaN && !bad(d.query))
    System.err.println(f"[perfbench] timed phase: ${ops.length} operations in $rounds rounds, $wall%.2f s: " +
      ops.map(d => f"${d.query.takeWhile(_ != '_')}=${d.ms}%.0f").mkString(" "))
    Main.Phase(ops.length, ops.length - ok.length, ok.length / wall, ok.map(_.ms), Main.liveHeapMb())
  }

  /** First set-up computes and checks every fingerprint; later ones run
    * the same round into the `noop` sink. Returns the mismatched queries. */
  private def setUp(): (Seq[Double], SparkSession, Map[String, Double], Set[String]) = {
    val want = expected
    var bad = Set.empty[String]
    // two set-ups, not three: a run's time budget holds a third set-up
    // or a third timed round, and the timed round steadies more
    val (reps, spark, layer) = setups(2) { (s, k) =>
      if (k == 1) {
        val fps = pass(Olap.ByCost)(q => {
          val got = Olap.fingerprint(build(s)(q))
          if (got != want(q)) {
            System.err.println(s"[perfbench] $q: fingerprint $got, pinned ${want(q)}")
            throw new IllegalStateException(s"$q output mismatch")
          }
          0.0
        })
        bad = fps.filter(_.ms.isNaN).map(_.query).toSet
      } else pass(Olap.ByCost)(timedNoop(s)).foreach { d =>
        if (d.ms.isNaN) throw new IllegalStateException(s"set-up failed: ${d.query} threw")
      }
    }
    (reps, spark, layer, bad)
  }

  def run(): Int = {
    val (reps, spark, setupLayer, bad) = setUp()
    val setupS = Main.median(reps)
    val untraced = timed(args.seed * 104729, bad, timedNoop(spark))
    val e2e = Main.e2e(setupS, untraced)
    if (!args.trace) return report(untraced.ops, untraced.failed, e2e)

    val tracer = new Tracer(spark)
    val traced = timed(args.seed * 104729, bad, tracer.op(_, build(spark), noop))
    val layers = tracer.finish() ++ setupLayer ++ ExprLane.run(spark, dirOf(Olap.ScanQueries.head)) ++
      layoutLayer(spark)
    val targets = Olap.CarriedTargets.map(q => q -> tracer.queryRow(q)).toMap
    val e2eTraced = Main.e2e(setupS, traced)
    Trace.write(args, layers, e2e, e2eTraced, tracer.spans, targets, tracer.coverage)
    report(untraced.ops + traced.ops, untraced.failed + traced.failed, Trace.perLayer(layers, e2e, e2eTraced))
  }

  /** `Tables.layout_ms`: a cold `Tables.warmLayout` of the one-file
    * copies of the scan fixtures, into this run's own working directory. */
  private def layoutLayer(spark: SparkSession): Map[String, Double] = {
    val t0 = System.nanoTime()
    graft.Tables.warmLayout(spark, new File(dirOf(Olap.ScanQueries.head), "single").getAbsolutePath)
    Map("Tables.layout_ms" -> (System.nanoTime() - t0) / 1e6)
  }

  /** Pin mode: per fixture scale, the fingerprint of every query that
    * reads it, and each result as parquet next to its
    * `SparkEntry.oracleSql` text (the layout `tools/parity_check.py`
    * compares against DuckDB), under `out/<sf>`. */
  def pin(out: String): Unit = {
    val spark = Main.session(new File(args.work, "pin"))
    Olap.Queries.groupBy { case (q, _) => new File(dirOf(q)).getName }.foreach { case (sf, qs) =>
      val fps = qs.map { case (q, _) =>
        val df = build(spark)(q)
        df.write.mode("overwrite").parquet(s"$out/$sf/$q")
        q -> Olap.fingerprint(df)
      }
      val oracle = qs.flatMap { case (q, _) => SparkEntry.oracleSql.get(q).map(q -> _) }.toMap
      java.nio.file.Files.writeString(new File(s"$out/$sf", "oracle_sql.json").toPath, Main.json(oracle))
      java.nio.file.Files.writeString(new File(s"$out/$sf", "fingerprints.json").toPath, Main.json(fps.toMap))
    }
  }
}
