package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** A small deterministic corpus of reference-shaped day files for the
  * pipeline specs: `btcusd-YYYY-MM-DD.csv`, the reference header, then one
  * row per minute. The planted shapes are those of the reference dataset
  * plus the edge cases the pipeline must handle:
  *   - a partial first day (2013-01-01 starts at 07:52:00),
  *   - runs of all-empty minutes (20 traded minutes, then 40 empty ones),
  *   - a partially-null row (2013-01-02 11:40:00: only Open is set),
  *   - an in-file duplicate minute (2013-01-03 00:30:00 appears twice),
  *   - two invalid names whose rows must never reach the sink.
  *
  * Every metric is a multiple of 1/16, so sums are exact in any engine.
  * The specs pin their expected values from DuckDB `read_csv` over these
  * files, not from the pipeline.
  */
object BtcDayFiles {

  val Header = "Time,Open,High,Low,Close,Volume_(BTC),Volume_(Currency),Weighted_Price"

  val Days: Seq[String] = Seq("2013-01-01", "2013-01-02", "2013-01-03", "2013-01-04")

  /** Invalid names, each holding a copy of a valid day's rows. */
  val Invalid: Seq[(String, String)] = Seq(
    "ethusd-2013-01-02.csv" -> "2013-01-02",
    "btcusd-2013-02-30.csv" -> "2013-01-03")

  def fileName(day: String): String = s"btcusd-$day.csv"

  private def pad2(n: Int): String = if (n < 10) s"0$n" else n.toString

  private def time(m: Int): String = s"${pad2(m / 60)}:${pad2(m % 60)}:00"

  /** The file's lines: header first. */
  def lines(day: String): Seq[String] = {
    val k = Days.indexOf(day)
    require(k >= 0, s"not a corpus day: $day")
    val first = if (k == 0) 7 * 60 + 52 else 0
    Header +: (first until 1440).flatMap { m =>
      val t = time(m)
      val open = 100 + 10 * k + (m % 40) * 0.25
      val vol = (m % 7 + 1) * 0.25
      val full = s"$t,$open,${open + 1.5},${open - 0.75},${open + 0.5},$vol,${vol * open},${open + 0.25}"
      if (k == 1 && m == 700) Seq(s"$t,$open,,,,,,")
      else if (k == 2 && m == 30) Seq(full, s"$t,1.0,2.0,3.0,4.0,5.0,6.0,7.0")
      else if ((m / 20 + k) % 3 == 0) Seq(full)
      else Seq(s"$t,,,,,,,")
    }
  }

  /** Writes `name` into `dir` with `day`'s rows, atomically: a watching
    * stream never sees a half-written file. */
  def writeFile(dir: String, name: String, day: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, (lines(day).mkString("\n") + "\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  def writeDay(dir: String, day: String): Unit = writeFile(dir, fileName(day), day)

  /** The whole corpus: every valid day and both invalid names. */
  def writeAll(dir: String): Unit = {
    Days.foreach(writeDay(dir, _))
    Invalid.foreach { case (name, day) => writeFile(dir, name, day) }
  }
}
