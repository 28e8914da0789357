package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Cdc
import org.apache.spark.sql.functions._

/** The q166 diff→log→apply closure proven at GENERATED scale on
  * heavily mutated snapshots — CdcSpec property-tests it at fixture
  * scale across 3 cuts; this tool runs the identical algebra over a
  * scaled event log (sf1 ≈ 10⁷ events, sf10 ≈ 10⁸) where between the
  * two snapshots roughly half the keys mutate (updates from later
  * events, deletes from trailing 'error' events, inserts from users
  * first seen after the cut):
  *
  *   apply(old, diffToLog(tableDiff(old, new))) ≡ new  on (key, payload)
  *
  * (metadata is EXCLUDED by design: a payload-identical key keeps its
  * old (us, seq) through the round trip — that is what makes the diff
  * minimal.) Prints one JSON line with row counts + walls; a nonzero
  * mismatch fails loudly.
  *
  * Usage: runMain graft.tools.CdcScaleCheck <sfDir> [cutoff-date]
  */
object CdcScaleCheck {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CdcScaleCheck <sfDir> [cutoff-date]")
    val dir = args(0)
    val cutoff = if (args.length > 1) args(1) else "2024-01-15"
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.warmLayout(spark, dir)
    val t = Tables(spark, dir)
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val log = Cdc.eventChangeLog(t)
    val cutUs = lit(java.time.Instant.parse(s"${cutoff}T00:00:00Z")
      .getEpochSecond * 1000000L)

    val t0 = System.nanoTime()
    // snapshots are node-scale (one row per user); the heavy work is
    // the two latest-wins folds over the event-scale log
    val oldSnap = Cdc.mergeApply(None, log.filter(col("us") < cutUs))
      .localCheckpoint(false, ser)
    val newSnap = Cdc.mergeApply(None, log).localCheckpoint(false, ser)
    val tSnap = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val diff = Cdc.tableDiff(oldSnap, newSnap).localCheckpoint(false, ser)
    val nDiff = diff.count()
    val byKind = diff.groupBy(col("change")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val applied = Cdc.mergeApply(Some(oldSnap), Cdc.diffToLog(diff))
    // closure on (key, payload) — exact, both directions
    val a = applied.select(col("key"), col("value"), col("etype"))
    val b = newSnap.select(col("key"), col("value"), col("etype"))
    val mismatch = a.exceptAll(b).count() + b.exceptAll(a).count()
    val tRound = (System.nanoTime() - t1) / 1e9

    val nOld = oldSnap.count()
    val nNew = newSnap.count()
    println(s"""{"tool":"CdcScaleCheck","sf":"$dir","old_rows":$nOld,""" +
      s""""new_rows":$nNew,"diff_rows":$nDiff,""" +
      s""""diff_i":${byKind.getOrElse("I", 0L)},""" +
      s""""diff_d":${byKind.getOrElse("D", 0L)},""" +
      s""""diff_u":${byKind.getOrElse("U", 0L)},""" +
      s""""mismatch":$mismatch,""" +
      f""""snapshot_sec":$tSnap%.1f,"roundtrip_sec":$tRound%.1f}""")
    require(mismatch == 0,
      s"diff→log→apply closure violated at $dir: $mismatch mismatched rows")
    spark.stop()
  }
}
