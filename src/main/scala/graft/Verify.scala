package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    Tables.warmLayout(spark, sfDir) // one-time multi-file layout rewrite
    // optional subset (comma-separated names), same contract as Bench:
    // targeted re-verification at generated scale factors without
    // paying for the full suite. Resolved BEFORE the thread pool
    // exists so a typo fails the JVM fast instead of leaving
    // non-daemon pool threads holding it open; an empty/blank value
    // (unset shell var interpolated into the env) means the FULL
    // suite — a silently empty sweep would read as a green gate with
    // zero coverage.
    val selected = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) match {
      case Some(want) =>
        val unknown = want -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown queries in SPARK_GRAFT_QUERIES: $unknown")
        SparkEntry.queries.view.filterKeys(want).toMap
      case None => SparkEntry.queries
    }
    // a few concurrent streams: per-query planning is driver-serial,
    // so overlapping queries keeps the executor pool busy (same
    // rationale as Bench); each query writes its own directory.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    // Failures must be LOUD in the artifacts, not just stderr: round 5
    // lost five regressed queries from CORRECTNESS entirely because a
    // throwing query wrote nothing — absent read as "not declared",
    // not "broken", and the regression cost a full round. A failed
    // query now (a) leaves an _ERROR.json marker in its own output
    // dir (any parquet read of that dir fails with the marker in
    // view), (b) lands in the errors.json sidecar, and (c) fails the
    // JVM's exit code.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = selected.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[verify] $name failed: $msg")
          errors.put(name, msg)
          val d = new java.io.File(s"$outDir/$name")
          Tables.deleteRec(d) // partial parquet output would mask the failure
          d.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_ERROR.json"),
            s"""{"query": ${jq(name)}, "err": ${jq(msg)}}""")
        }
      }
    }
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(60, "min"))
    finally pool.shutdown() // non-daemon threads would otherwise keep a failed JVM alive
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable coverage story for the rows-only queries: which
    // hash-checked twin/gate pins each one and why, so the artifact
    // itself shows a `no_oracle` row is still covered
    val twinsJson = SparkEntry.twins.toSeq.sortBy(_._1)
      .map { case (k, (twin, why)) =>
        s"${jq(k)}: {${jq("twin")}: ${jq(twin)}, ${jq("why")}: ${jq(why)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/twins.json"), twinsJson)
    // sidecar: which hash-checked queries' oracles stop at the driver
    // SFs and which engine-side tool pins them at sf1+ — the artifact
    // carries the generated-SF coverage story directly
    val scaleJson = SparkEntry.scaleEvidence.toSeq.sortBy(_._1)
      .map { case (k, (tool, why)) =>
        s"${jq(k)}: {${jq("tool")}: ${jq(tool)}, ${jq("why")}: ${jq(why)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/scale_evidence.json"), scaleJson)
    // sidecar: every failed query with its message, always written
    // (empty object on a clean run) so its absence vs emptiness is
    // itself a signal
    import scala.jdk.CollectionConverters._
    val errJson = errors.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (!errors.isEmpty) {
      System.err.println(s"[verify] ${errors.size} of ${selected.size} queries FAILED")
      sys.exit(1)
    }
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
