package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark entry point, launched by `run.py` after the build.
  *
  * One JVM runs one workload: a few timed set-ups (each a fresh
  * SparkContext plus the workload's first-touch pass), then the timed
  * phase on the last set-up. With `--trace 1` the untraced phase is
  * followed by a traced one, and the per-layer metrics, spans and
  * tracing overhead are written out. The last stdout line is the
  * result JSON.
  */
object Main {

  /** `pinOut` selects the preparation mode instead of a run: `olap`
    * writes its pinned fingerprints and results there (`pin.py`), `api`
    * fits and saves its models (`run.py`, once per checkout). */
  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, sf: String,
      data: String, work: String, traces: String, expected: String, corrupt: Boolean,
      pinOut: Option[String])

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("sf"), need("data"), need("work"), need("traces"), need("expected"),
      m.get("corrupt").contains("1"), m.get("pin"))
  }

  /** The session every workload measures: Bench's engine settings
    * (adaptive execution, graft's SQL extensions, UTC, nanos-as-long
    * parquet timestamps), with every path it writes inside `dir`. */
  def session(dir: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cpus / 2, 4).toString)
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      // the status store's job, stage and SQL history is trimmed in
      // batches once past these caps; small caps keep that history from
      // swinging `live_heap_mb` by tens of MB with the timing of the last trim
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(dir, "checkpoint").getAbsolutePath)
    s
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after a full collection, in MB. The pause between the
    * two collections lets Spark's ContextCleaner drop the shuffle and
    * broadcast state the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (the
    * value at rank n-11 of the sorted samples) and that percentile. Up
    * to 22 samples that rank is not above the median, so the median is
    * reported instead. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 12, s"a timed phase needs at least 12 samples, got ${xs.length}")
    val s = xs.sorted
    if (s.length - 11 <= s.length / 2) (median(s), 50.0)
    else (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
  }

  /** The five end-to-end metrics of a timed phase. */
  final case class Phase(ops: Int, failed: Int, opsPerS: Double, latMs: Seq[Double], heapMb: Double)

  def e2e(setupS: Double, p: Phase): Map[String, (Double, String)] = {
    val (t, pct) = tail(p.latMs)
    System.err.println(f"[perfbench] latency_tail_ms is p$pct%.1f over ${p.latMs.length} samples")
    Map("setup_s" -> (setupS, "s"), "ops_per_s" -> (p.opsPerS, "1/s"),
      "latency_p50_ms" -> (median(p.latMs), "ms"), "latency_tail_ms" -> (t, "ms"),
      "live_heap_mb" -> (p.heapMb, "MB"))
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case null => "null"
    case o => json(o.toString)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      try {
        val w: Workload = a.workload match {
          case "olap" => new Olap(a)
          case "api" => new Api(a)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        (a.pinOut, w) match {
          case (Some(out), o: Olap) => o.pin(out); 0
          case (Some(_), _) => Api.train(session(new File(a.work, "train")), a.data, save = true); 0
          case (None, _) => w.run()
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          2
      } finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    System.exit(code)
  }
}

/** A workload: `run()` prints the result line and returns the exit code. */
trait Workload {
  def args: Main.Args

  /** Runs `reps` set-ups; each starts a fresh SparkContext whose
    * warehouse, checkpoint and scratch directories are new, so no set-up
    * inherits another's persisted state. Returns the per-rep seconds and
    * the session of the last one, which the timed phase uses. */
  def setups(reps: Int)(each: (SparkSession, Int) => Unit): (Seq[Double], SparkSession, Map[String, Double]) = {
    var spark: SparkSession = null
    val session = Seq.newBuilder[Double]
    val total = (1 to reps).map { k =>
      if (spark != null) spark.stop()
      val dir = new File(args.work, s"rep$k")
      val t0 = System.nanoTime()
      spark = Main.session(dir)
      session += (System.nanoTime() - t0) / 1e6
      each(spark, k)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $k: $secs%.2f s")
      secs
    }
    val s = session.result()
    (total, spark, Map("setup.session_ms" -> Main.median(s),
      "setup.first_touch_ms" -> Main.median(total.zip(s).map { case (t, ss) => t * 1000 - ss })))
  }

  /** Prints the result line; a failed operation or check makes the exit code 1. */
  def report(attempted: Int, failed: Int, metrics: Map[String, (Double, String)]): Int = {
    val correct = failed == 0
    println(Main.json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    if (correct) 0 else 1
  }

  def run(): Int
}
