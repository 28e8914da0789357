package graft.ml

import java.io.{File, PrintWriter}
import java.time.LocalDate
import scala.util.Random

/** Seeded play-by-play table for the specs that check program
  * behaviour rather than facts of the reference's own data.
  *
  * Writes headerless CSV rows in `PlaySchema`'s 25-column layout, so
  * `PlayFeatures.readCsv` → `derive` → `PlayPipeline.train` run on it
  * exactly as on `nfldata2.csv`. Plays come in drives of consecutive
  * plays with a strictly falling game clock, so the derived
  * `PlayType_lag` is well defined and every (PlayType, PlayType_lag)
  * pair occurs: both the Pass and the Run model learn all three labels
  * `FirstPlay`, `Pass` and `Run`. `write` checks that guarantee on the
  * rows it emits.
  */
object PlayFixture {

  private val Seed = 20150910L
  private val Rows = 3000

  /** Writes `Rows` plays drawn from `Seed` to a temporary CSV that is
    * deleted when the JVM exits; returns its path. */
  def write(): String = {
    val rng = new Random(Seed)
    val file = File.createTempFile("graft-plays-", ".csv")
    file.deleteOnExit()
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    val out = new PrintWriter(file, "UTF-8")
    try {
      var game = 2015091000L
      var drive = 0
      var left = 0
      var clock = 3600
      var prev = "FirstPlay"
      for (_ <- 0 until Rows) {
        if (left == 0) {
          drive += 1
          left = 1 + rng.nextInt(8)
          prev = "FirstPlay"
          if (drive > 20) { game += 1; drive = 1; clock = 3600 }
        }
        left -= 1
        clock -= 5 + rng.nextInt(35)
        val qtr = if (clock > 0) math.min(4, 1 + (3600 - clock) / 900) else 5
        val kind = if (rng.nextDouble() < 0.57) "Pass" else "Run"
        val day = LocalDate.of(2015, 9, 10).plusDays((game - 2015091000L) % 110)
        val yl = 1 + rng.nextInt(99)
        val togo = 1 + rng.nextInt(20)
        val down = 1 + rng.nextInt(4)
        val base = (if (kind == "Run") 4.0 else 6.5) + 0.03 * yl - 0.2 * down
        val gained = math.round(base +
          rng.nextGaussian() * (if (kind == "Pass") 6 else 4)).toInt
        val pos = rng.nextInt(PlaySchema.teams.size)
        val dfn = (pos + 1 + rng.nextInt(PlaySchema.teams.size - 1)) % PlaySchema.teams.size
        out.println(Seq(
          s"${day}T00:00:00.000Z", game, drive, qtr, down,
          f"${math.max(clock, 0) / 60 % 15}%02d:00", 0, clock, 0, yl, togo,
          rng.nextInt(90) - 10, if (gained >= togo) 1 else 0,
          PlaySchema.teams(pos), PlaySchema.teams(dfn),
          gained, if (rng.nextDouble() < 0.03) 1 else 0, kind, "NA", "NA", "NA",
          rng.nextInt(40), rng.nextInt(40),
          day.getMonthValue * 100 + day.getDayOfMonth, prev).mkString(","))
        seen += kind -> prev
        prev = kind
      }
    } finally out.close()
    for (kind <- Seq("Pass", "Run"); label <- Seq("FirstPlay", "Pass", "Run"))
      require(seen((kind, label)),
        s"fixture (seed $Seed, $Rows rows) has no $kind play after $label")
    file.getAbsolutePath
  }
}
