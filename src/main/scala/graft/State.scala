package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession, functions}
import org.apache.spark.storage.StorageLevel

/** Persisted operator state, decided in one place. An incremental
  * operator builds its state (bucketed warehouse tables, checkpointed
  * frames) once per fixture and serves every later call from it, as a
  * saved model is built once and then served. The state is keyed by
  * (context, name); the name carries a fingerprint of the fixture
  * files it was built from, so a regenerated fixture builds new state
  * instead of serving stale rows.
  */
object State {

  /** One registry entry. The map stores only this empty holder; the
    * build runs under the holder's own lock, outside the map's. So a
    * build may reach other keys (a nested [[memo]]), a slow build
    * blocks only the callers of its own key, and a build that throws
    * leaves the holder empty for the next call to build again. */
  private final class Cell {
    private[this] var value: Option[Any] = None
    def apply(build: => Any): Any = synchronized {
      if (value.isEmpty) value = Some(build)
      value.get
    }
  }
  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(SparkContext, String), Cell]()

  /** `build`'s value for `(sc, key)`, built once per key however many
    * callers ask at once. */
  def memo[T](sc: SparkContext, key: String)(build: => T): T =
    cells.computeIfAbsent((sc, key), _ => new Cell)(build).asInstanceOf[T]

  /** `graft_<family>_<fp>`: `fp` is 64 bits of SHA-256 over the layout
    * paths of the named fixture tables, which embed each source file's
    * own fingerprint ([[Tables.parallelLayout]]). */
  def name(t: Tables, family: String, tables: String*): String = {
    val paths = tables.map(Tables.parallelLayout(t.spark, t.dir, _)).mkString("|")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(paths.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"graft_${family}_" + digest.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** The state named by [[name]], built by `build(name)` on first use
    * in this context. Returns the name. */
  def ensure(t: Tables, family: String, tables: String*)(build: String => Unit): String = {
    val n = name(t, family, tables: _*)
    memo(t.spark.sparkContext, n) { build(n); n }
  }

  /** The managed warehouse directory of `table`. */
  def tableDir(spark: SparkSession, table: String): java.io.File =
    new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)

  /** Drop each table's catalog entry and delete its managed directory:
    * a previous JVM's directory outlives its in-memory catalog, and
    * `saveAsTable` refuses a name whose location already exists. */
  def dropTables(spark: SparkSession, names: String*): Unit = names.foreach { n =>
    spark.sql(s"DROP TABLE IF EXISTS $n")
    Tables.deleteRec(tableDir(spark, n))
  }

  /** Eagerly checkpoint `df` and read one long `metric` off the same
    * job via `observe` (no separate count job). `ifNone` is the value
    * when the metric is null, e.g. `sum` over no rows. `keep`, when
    * given, projects the frame after the metric is observed. */
  def checkpointCounted(df: DataFrame, metric: Column, ifNone: Long = 0L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      keep: Seq[String] = Nil): (DataFrame, Long) = {
    val obs = Observation()
    val observed = df.observe(obs, metric.as("m"))
    val out = (if (keep.isEmpty) observed else observed.select(keep.map(functions.col): _*))
      .localCheckpoint(true, storage)
    (out, Option(obs.get("m")).collect { case n: java.lang.Long => n.longValue() }
      .getOrElse(ifNone))
  }
}
