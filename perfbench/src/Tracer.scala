package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A span: one timed interval at a layer boundary, times in epoch ms. */
final case class Span(id: String, parent: String, name: String, start: Double, end: Double,
    attrs: Map[String, Any] = Map.empty)

/** Traced OLAP operations. Each operation tags its jobs with its own job
  * tag (set on the client thread), so Spark's job and stage events are
  * parented to its `op` span; `SparkEntry.build`, `catalyst.plan` and
  * `exec.run` are timed around the calls on the client thread, and the
  * Catalyst phases come from the write's `QueryPlanningTracker`. Jobs
  * without a tag that start inside an operation (submitted from pool
  * threads, which do not inherit the tag) mark it `attribution: partial`.
  * Everything stays in memory until [[finish]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private final class Op(val id: Int, val query: String, val start: Long) {
    @volatile var built = 0L
    @volatile var end = 0L
    @volatile var phases: Map[String, Double] = Map.empty
  }
  private final class Job(val id: Int, val tag: Option[String], val submit: Long, val stages: Seq[Int]) {
    var end = 0L
    var firstLaunch = 0L
  }
  private final class Stage(val id: Int, val job: Int) {
    var submit = 0L
    var complete = 0L
    var tasks = 0
    var m: Map[String, Double] = Map.empty
  }

  private val ops = new ConcurrentHashMap[Int, Op]()
  private val nextId = new AtomicInteger()
  private val pending = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[AnyRef, Op]())
  // written by the listener-bus thread only; read after it has drained
  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[Int, Stage]()
  private val events = new AtomicInteger()
  private var blocks = 0L
  private var blockBytes = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .flatMap(_.split(",").find(_.startsWith("perfbench-op-")))
      jobs(e.jobId) = new Job(e.jobId, tag, e.time, e.stageIds)
      e.stageIds.foreach(s => stages(s) = new Stage(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet(); jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      stages.get(e.stageInfo.stageId).foreach(_.submit = e.stageInfo.submissionTime.getOrElse(0L))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      for (s <- stages.get(e.stageId); j <- jobs.get(s.job) if j.firstLaunch == 0L)
        j.firstLaunch = e.taskInfo.launchTime
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val i = e.stageInfo
      stages.get(i.stageId).foreach { s =>
        s.submit = i.submissionTime.getOrElse(s.submit)
        s.complete = i.completionTime.getOrElse(0L)
        s.tasks = i.numTasks
        val t = i.taskMetrics
        if (t != null) s.m = Map(
          "spark.executor_run_ms" -> t.executorRunTime.toDouble,
          "spark.executor_cpu_ms" -> t.executorCpuTime / 1e6,
          "spark.gc_ms" -> t.jvmGCTime.toDouble,
          "spark.input_bytes" -> t.inputMetrics.bytesRead.toDouble,
          "spark.shuffle_read_bytes" -> t.shuffleReadMetrics.totalBytesRead.toDouble,
          "spark.shuffle_write_bytes" -> t.shuffleWriteMetrics.bytesWritten.toDouble,
          "spark.spill_bytes" -> (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        blocks += 1; blockBytes += b.memSize + b.diskSize
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = pending.synchronized {
        qe.logical.collectFirst { case p if pending.containsKey(p) => pending.get(p) }
      }
      op.foreach { o =>
        o.phases = o.phases ++ qe.tracker.phases.map { case (k, v) => s"catalyst.${k}_ms" -> v.durationMs.toDouble }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs one traced operation on the calling client thread; returns its latency in ms. */
  def op(query: String, build: String => DataFrame, write: DataFrame => Unit): Double = {
    val o = new Op(nextId.incrementAndGet(), query, System.nanoTime())
    ops.put(o.id, o)
    val tag = s"perfbench-op-${o.id}"
    sc.addJobTag(tag)
    try {
      val df = build(query)
      o.built = System.nanoTime()
      val plan = df.queryExecution.analyzed
      pending.put(plan, o)
      write(df)
      o.end = System.nanoTime()
      (o.end - o.start) / 1e6
    } finally sc.removeJobTag(tag)
  }

  /** Waits until the listener bus has delivered every event of the
    * finished operations (the bus is asynchronous). */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    var last = -1
    while (System.nanoTime() < deadline && last != events.get()) {
      last = events.get()
      Thread.sleep(400)
    }
  }

  private case class OpView(op: Op, jobs: Seq[Job], stages: Seq[Stage], partial: Boolean) {
    def wallMs: Double = (op.end - op.start) / 1e6
    def buildMs: Double = (op.built - op.start) / 1e6
    def writeMs: Double = (op.end - op.built) / 1e6
    def catalystMs: Double = Seq("analysis", "optimization", "planning")
      .map(p => op.phases.getOrElse(s"catalyst.${p}_ms", 0.0)).sum
    def execMs: Double = math.max(0.0, writeMs - catalystMs)
    /** Op wall minus the union of its stages' active intervals. */
    def driverGapMs: Double = {
      val (lo, hi) = (epochMs(op.start), epochMs(op.end))
      val iv = stages.filter(s => s.submit > 0 && s.complete > 0)
        .map(s => (math.max(lo, s.submit.toDouble), math.min(hi, s.complete.toDouble)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var cur = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cur._1.isNaN) cur = (a, b)
        else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
        else { covered += cur._2 - cur._1; cur = (a, b) }
      }
      if (!cur._1.isNaN) covered += cur._2 - cur._1
      math.max(0.0, wallMs - covered)
    }
    def slotWaitMs: Double = jobs.filter(_.firstLaunch > 0).map(j => (j.firstLaunch - j.submit).toDouble).sum
    def metric(k: String): Double = stages.map(_.m.getOrElse(k, 0.0)).sum
  }

  private lazy val views: Seq[OpView] = {
    drain()
    val done = ops.values().asScala.filter(_.end > 0).toSeq.sortBy(_.id)
    val byTag = jobs.values.groupBy(_.tag)
    val untagged = byTag.getOrElse(None, Nil).toSeq
    done.map { o =>
      val js = byTag.getOrElse(Some(s"perfbench-op-${o.id}"), Nil).toSeq.sortBy(_.id)
      val (lo, hi) = (epochMs(o.start), epochMs(o.end))
      OpView(o, js, js.flatMap(_.stages).flatMap(stages.get),
        untagged.exists(j => j.submit >= lo && j.submit <= hi))
    }
  }

  /** Per-operation means of every layer metric of the traced phase. */
  def finish(): Map[String, Double] = {
    val v = views
    val n = math.max(1, v.length).toDouble
    def mean(f: OpView => Double) = v.map(f).sum / n
    val warehouse = Option(new File(spark.conf.get("spark.sql.warehouse.dir")).listFiles()).getOrElse(Array.empty)
    def bytes(f: File): Long = if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    Map(
      "SparkEntry.build_ms" -> mean(_.buildMs),
      "catalyst.analysis_ms" -> mean(_.op.phases.getOrElse("catalyst.analysis_ms", 0.0)),
      "catalyst.optimization_ms" -> mean(_.op.phases.getOrElse("catalyst.optimization_ms", 0.0)),
      "catalyst.planning_ms" -> mean(_.op.phases.getOrElse("catalyst.planning_ms", 0.0)),
      "exec.run_ms" -> mean(_.execMs),
      "spark.jobs" -> mean(_.jobs.length.toDouble),
      "spark.stages" -> mean(_.stages.length.toDouble),
      "spark.tasks" -> mean(_.stages.map(_.tasks).sum.toDouble),
      "spark.driver_gap_ms" -> mean(_.driverGapMs),
      "spark.slot_wait_ms" -> mean(_.slotWaitMs),
      "state.checkpoint_blocks" -> blocks / n,
      "state.checkpoint_bytes" -> blockBytes / n,
      "state.warehouse_bytes" -> warehouse.map(bytes).sum.toDouble,
      "state.warehouse_dirs" -> warehouse.count(_.isDirectory).toDouble,
      "trace.partial_ops" -> v.count(_.partial).toDouble,
      "trace.coverage_pct" -> coverage("coverage_pct")
    ) ++ Seq("spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms", "spark.input_bytes",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes")
      .map(k => k -> mean(_.metric(k)))
  }

  /** How much of each operation's latency the layer spans account for:
    * build + Catalyst + execution over the latency, in percent. The
    * spans are contiguous on the client thread, so the stated
    * tolerance is what falls between them: within 2% of the latency. */
  lazy val coverage: Map[String, Double] = {
    val v = views
    val cov = v.map(x => 100.0 * (x.buildMs + x.catalystMs + x.execMs) / x.wallMs)
    Map("coverage_pct" -> Main.median(cov), "coverage_min_pct" -> (if (cov.isEmpty) 0.0 else cov.min),
      "tolerance_pct" -> 2.0, "catalyst_matched_ops" -> v.count(_.op.phases.nonEmpty).toDouble,
      "ops" -> v.length.toDouble)
  }

  /** Latency, jobs, driver gap and slot wait of one query, medians over its traced runs. */
  def queryRow(q: String): Map[String, Double] = {
    val v = views.filter(_.op.query == q)
    Map("latency_ms" -> Main.median(v.map(_.wallMs)), "jobs" -> Main.median(v.map(_.jobs.length.toDouble)),
      "driver_gap_ms" -> Main.median(v.map(_.driverGapMs)), "slot_wait_ms" -> Main.median(v.map(_.slotWaitMs)),
      "runs" -> v.length.toDouble)
  }

  def spans: Seq[Span] = views.flatMap { x =>
    val o = x.op
    val id = s"op-${o.id}"
    val plan = o.built + (x.catalystMs * 1e6).toLong
    Seq(
      Span(id, "", "op", epochMs(o.start), epochMs(o.end),
        Map("query" -> o.query, "attribution" -> (if (x.partial) "partial" else "full"))),
      Span(s"$id.build", id, "SparkEntry.build", epochMs(o.start), epochMs(o.built)),
      Span(s"$id.plan", id, "catalyst.plan", epochMs(o.built), epochMs(plan), o.phases),
      Span(s"$id.exec", id, "exec.run", epochMs(plan), epochMs(o.end))) ++
      x.jobs.map(j => Span(s"job-${j.id}", id, "spark.job", j.submit.toDouble, j.end.toDouble,
        Map("slot_wait_ms" -> (if (j.firstLaunch > 0) (j.firstLaunch - j.submit).toDouble else 0.0)))) ++
      x.stages.map(s => Span(s"stage-${s.id}", s"job-${s.job}", "spark.stage", s.submit.toDouble,
        s.complete.toDouble, s.m + ("tasks" -> s.tasks)))
  }
}
