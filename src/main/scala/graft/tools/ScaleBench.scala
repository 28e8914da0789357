package graft.tools

import graft.{GraftSession, SparkEntry, Tables}

/** Sequential solo-latency bench for cross-SF scaling sweeps.
  *
  * `Bench` measures throughput under 16 concurrent streams — the right
  * number for "how fast does the whole suite run", but its per-query
  * walls include queue time, which polluted earlier per-query scaling
  * ratios (round-6 notes: "queue-tail artifacts"). For the second-
  * decade evidence (sf1 → sf3 → sf10) each query runs ALONE, warm,
  * median of `passes`: the measured wall is the query's own plan cost,
  * so sf-to-sf ratios read directly as algorithmic scaling.
  *
  * Output: one JSON line per sfDir —
  *   {"sf":"<dir>","queries":{name:sec,…},"total":sec,"passes":N}
  *
  * Usage: runMain graft.tools.ScaleBench <sfDir> <q1,q2,…> [passes]
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleBench <sfDir> <q1,q2,…> [passes]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val passes = if (args.length > 2) args(2).toInt else 3
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val spark = GraftSession.builder(GraftSession.cpus)
      // solo runs want the CPU-dense byte-light stages (jaccard
      // verify) spread across cores, not AQE-coalesced to a few
      // tasks — the single-query deployment setting (see Bench's
      // note on why the 16-stream lane keeps the default)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.warmLayout(spark, sfDir)

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val results = names.map { name =>
      once(name) // warm: codegen + footer caches outside the measurement
      val times = (1 to passes).map(_ => once(name)).sorted
      val med = times(times.size / 2)
      println(f"[scalebench] $name%-22s median=$med%.2fs  (${times.map(t => f"$t%.2f").mkString(", ")})")
      name -> med
    }
    val qjson = results
      .map { case (n, s) => s""""$n":${f"$s%.3f"}""" }.mkString(",")
    println(s"""{"sf":"$sfDir","queries":{$qjson},"total":${f"${results.map(_._2).sum}%.3f"},"passes":$passes}""")
    spark.stop()
  }
}
