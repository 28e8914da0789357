package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.{col, count, lit, sum}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The persisted-state registry: one build per key, builds that run
  * outside the registry's lock (nested keys, slow neighbours), retry
  * after a failure, fingerprinted names and table drops. */
class StateSpec extends SparkSpec {

  private def key(tag: String) = s"statespec_${tag}_${java.util.UUID.randomUUID()}"

  /** At most 8 threads, shut down after `body`. */
  private def withPool[T](threads: Int)(body: ExecutionContext => T): T = {
    require(threads <= 8)
    val pool = Executors.newFixedThreadPool(threads)
    try body(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("concurrent callers of one key share one build") {
    val sc = spark.sparkContext
    val k = key("once")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val got = withPool(8) { implicit ec =>
      val fs = (1 to 8).map { _ =>
        Future {
          start.await()
          State.memo(sc, k) { builds.incrementAndGet(); Thread.sleep(200); "built" }
        }
      }
      start.countDown()
      Await.result(Future.sequence(fs), 30.seconds)
    }
    assert(got.forall(_ == "built"))
    assert(builds.get() === 1)
  }

  test("a build that reaches another key completes (the streamed-index shape)") {
    val sc = spark.sparkContext
    val inner = key("inner")
    val outer = State.memo(sc, key("outer")) {
      State.memo(sc, inner)(Seq(1, 2)).sum + 1
    }
    assert(outer === 4)
    val family = key("nested").replace('-', '_')
    val name = State.ensure(sf001, family, "orders") { _ =>
      assert(State.memo(sc, key("inside_ensure"))(7) === 7)
    }
    assert(name === State.name(sf001, family, "orders"))
  }

  test("a slow build of one key does not delay other keys") {
    val sc = spark.sparkContext
    val release = new CountDownLatch(1)
    val slowKey = key("slow")
    withPool(2) { implicit ec =>
      val slow = Future(State.memo(sc, slowKey) { release.await(); "slow" })
      // many keys, so some share the slow key's hash bin
      val others = Future((1 to 64).map(i => State.memo(sc, key(s"fast$i"))(i)).sum)
      try assert(Await.result(others, 10.seconds) === (1 to 64).sum)
      finally release.countDown()
      assert(Await.result(slow, 10.seconds) === "slow")
    }
  }

  test("a build that throws leaves nothing behind and is tried again") {
    val sc = spark.sparkContext
    val k = key("throws")
    val attempts = new AtomicInteger()
    def build(): String =
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      else "second"
    assert(intercept[IllegalStateException](State.memo(sc, k)(build())).getMessage
      === "first build fails")
    assert(State.memo(sc, k)(build()) === "second")
    assert(State.memo(sc, k)(build()) === "second")
    assert(attempts.get() === 2)
  }

  test("name is graft_<family>_<64-bit fp> and changes when a fixture parquet is rewritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("statespec_fixture").toFile
    val layoutCache = new java.io.File("target/tblcache/" + dir.getPath.replace('/', '_'))
    // fixture tables are single parquet files, not directories
    def writeFixture(n: Int): Unit = {
      val out = new java.io.File(dir, "staging")
      (1 to n).toDF("o_orderkey").coalesce(1).write.mode("overwrite").parquet(out.getPath)
      val part = out.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, new java.io.File(dir, "orders.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Tables.deleteRec(out)
    }
    try {
      writeFixture(10)
      val t = Tables(spark, dir.getPath)
      val before = State.name(t, "spec", "orders")
      assert(before.matches("graft_spec_[0-9a-f]{16}"), before)
      assert(State.name(t, "spec", "orders") === before)
      assert(State.name(t, "other", "orders") === before.replace("_spec_", "_other_"))
      writeFixture(20)
      assert(State.name(t, "spec", "orders") !== before)
    } finally {
      Tables.deleteRec(dir)
      Tables.deleteRec(layoutCache)
    }
  }

  test("dropTables removes a catalog entry and an orphaned warehouse dir") {
    val table = key("table").replace('-', '_')
    val orphan = key("orphan").replace('-', '_')
    spark.range(3).write.saveAsTable(table)
    // a directory left by an earlier JVM, with no catalog entry
    val orphanDir = State.tableDir(spark, orphan)
    assert(new java.io.File(orphanDir, "part-0").mkdirs())
    State.dropTables(spark, table, orphan)
    assert(!spark.catalog.tableExists(table))
    assert(!State.tableDir(spark, table).exists())
    assert(!orphanDir.exists())
    spark.range(2).write.saveAsTable(orphan)
    assert(spark.table(orphan).count() === 2)
    State.dropTables(spark, orphan)
  }

  test("checkpointCounted reads the metric off the checkpoint job") {
    val df = spark.range(10).select(col("id"), (col("id") % 2).as("odd"))
    val (cp, n) = State.checkpointCounted(df, count(lit(1)))
    assert(n === 10 && cp.count() === 10)
    val (_, none) = State.checkpointCounted(df.filter(lit(false)), sum(col("odd")), ifNone = -1L)
    assert(none === -1L)
    val (kept, odd) = State.checkpointCounted(df, sum(col("odd")), keep = Seq("id"))
    assert(odd === 5 && kept.columns.toSeq === Seq("id"))
  }
}
