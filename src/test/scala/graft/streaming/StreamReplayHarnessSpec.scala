package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

/** The one replay harness ([[StreamReplay.fold]]): every streaming
  * query in the package runs through it, so its teardown and its
  * session isolation are pinned here once. */
class StreamReplayHarnessSpec extends SparkSpec {

  private val Partitions = "spark.sql.shuffle.partitions"

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("a fold step that throws fails the replay promptly, with its cause, and tears down") {
    import spark.implicits._
    @volatile var child: SparkSession = null
    @volatile var ckDir: java.io.File = null
    @volatile var ckExisted = false
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      StreamReplay.fold(spark, 1L to 10L) { ss =>
        child = ss
        @volatile var batches = 0
        (batch => {
          batches += 1
          val q = ss.streams.active.head.asInstanceOf[StreamingQueryWrapper]
          ckDir = new java.io.File(
            new Path(q.streamingQuery.resolvedCheckpointRoot).toUri.getPath)
          ckExisted = ckDir.isDirectory
          if (batches == 2) throw new IllegalStateException("fold step failed on batch 2")
          batch.count(): Unit
        }, () => batches)
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, s"the failing replay took $secs s to surface")
    assert(causes(e).exists(_.getMessage == "fold step failed on batch 2"),
      causes(e).map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n"))
    assert(child.streams.active.isEmpty && spark.streams.active.isEmpty)
    assert(ckExisted, s"checkpoint dir $ckDir was never written")
    assert(!ckDir.exists(), s"checkpoint dir $ckDir survived the failed replay")
  }

  test("replays run at the given shuffle partitions and leave the caller's conf alone") {
    import spark.implicits._
    val before = spark.conf.get(Partitions)
    for (n <- Seq(1, 4)) {
      val (atInit, inBatch, batches, sum) =
        StreamReplay.fold(spark, 1L to 10L, partitions = n) { ss =>
          val atInit = ss.conf.get(Partitions)
          @volatile var inBatch = Set.empty[String]
          @volatile var batches = 0
          @volatile var sum = 0L
          (batch => {
            inBatch += batch.sparkSession.conf.get(Partitions)
            batches += 1
            sum += batch.collect().sum
          }, () => (atInit, inBatch, batches, sum))
        }
      assert(atInit === n.toString && inBatch === Set(n.toString))
      assert(batches === StreamReplay.Chunks && sum === 55L)
      assert(spark.conf.get(Partitions) === before)
    }
    val df = StreamReplay.fold(spark, Seq(1L, 2L)) { ss =>
      (_ => (), () => StreamReplay.rehome(spark, ss.range(3).toDF()))
    }
    assert(df.sparkSession eq spark)
    assert(df.count() === 3)
  }
}
