package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds its local SparkSession: every main, tool
  * and test session starts from [[builder]] and chains only the
  * settings that differ for it, next to the reason they differ.
  */
object GraftSession {

  /** Task slots: `SPARK_GRAFT_CPUS` if set, else every core of the host. */
  val cpus: Int = cpusOf(sys.env)

  private[graft] def cpusOf(env: collection.Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** The settings every session shares. The extension conf is static
    * (read once, when the first session of the JVM starts), so it
    * belongs here rather than in a later `spark.conf.set`. */
  def settings(shufflePartitions: Int, cpus: Int = GraftSession.cpus): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet stores TIMESTAMP(NANOS); Spark reads that type only
    // under this flag, as longs
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.expr.GraftExtensions")

  /** A builder holding [[settings]]: callers chain what differs for
    * them, then `getOrCreate()`. */
  def builder(shufflePartitions: Int, cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder().config(settings(shufflePartitions, cpus))
}
