package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Single-query profiler: runs one named query `reps` times against a
  * fixture dir and prints per-run wall time plus a per-stage duration
  * breakdown — the loop used to find WHERE a slow query spends time
  * (scan vs shuffle vs window) rather than guessing from the plan.
  *
  * Usage: runMain graft.Profile <sfDir> <queryName> [reps]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.builder(math.max(GraftSession.cpus / 2, 4))
      // AQE's size-based partition coalescing squashes byte-light but
      // CPU-heavy stages (merge-walk jaccard / cosine / levenshtein
      // verification over narrow candidate pairs) down to a handful of
      // tasks — 225k pairs are ~3.6 MB but ~4 s of CPU. A small
      // minPartitionSize with parallelismFirst keeps such stages at
      // full parallelism while still coalescing genuinely tiny reads.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        val dur = (for {s <- info.submissionTime; c <- info.completionTime} yield c - s).getOrElse(-1L)
        stages.add((info.stageId, info.name.takeWhile(_ != '\n').take(90), dur, info.numTasks))
      }
    })

    for (r <- 1 to reps) {
      stages.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"run $r: $wall%.2f s")
      import scala.jdk.CollectionConverters._
      val sorted = stages.asScala.toSeq.sortBy(-_._3)
      sorted.take(12).foreach { case (id, n, d, tasks) =>
        println(f"  stage $id%4d ${d}%6d ms  $tasks%3d tasks  $n")
      }
      println(f"  [${sorted.size} stages, ${sorted.map(_._3).sum} ms total stage time]")
    }
    spark.stop()
  }
}
