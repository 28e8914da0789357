package graft

/** Plan-inspection main: prints `explain("formatted")` for the named
  * queries (or all) against a fixture dir — the loop used to keep
  * physical plans honest (pushed filters, broadcast joins, no stray
  * shuffles) as operators evolve.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // fixed at 4 slots, not the host's: the printed plans must not
    // depend on the machine they were dumped on
    val spark = GraftSession.builder(4, cpus = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n━━━ $n ━━━")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
