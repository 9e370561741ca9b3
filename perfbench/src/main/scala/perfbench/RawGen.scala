package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate, LocalTime, ZoneId, ZonedDateTime}
import java.time.format.DateTimeFormatter

/** Seeded raw bar payloads for the pipeline workloads: one
  * `{SYMBOL}_intraday_5min.json` document per symbol, shaped like the
  * vendor payload `AlpacaSource.readRaw` parses (FIXTURES.md A1).
  *
  * Symbols come in pairs (leg 1, leg 2). Each file carries, besides the
  * 78 regular-session bars per weekday session, pre- and post-market
  * bars and Saturday bars (the RTH filter drops them), and a few null
  * closes and unparseable timestamps outside the session (the cleaner
  * drops them). Inside the session, at most 2 bar slots per pair-day
  * are planted as gaps: the bar is missing from one leg, or present
  * with a null close or an unparseable timestamp. A gap removes the
  * slot from the aligned pair, so both legs of that pair-day read 1-2
  * missing bars and the DQ badge lands on WARN, never FAIL. */
object RawGen {

  /** What the generated payload must produce downstream. */
  final case class Expected(
      rawBars: Long, rawBytes: Long, alignedBars: Long,
      symbolDays: Long, gapSymbolDays: Long, pairs: Seq[(String, String)])

  private val Et = ZoneId.of("America/New_York")
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")
  private val SessionOpen = LocalTime.of(9, 30)
  val BarsPerSession = 78

  def generate(dir: Path, seed: Long, nPairs: Int, nSessions: Int): Expected = {
    val rnd = new scala.util.Random(seed)
    Files.createDirectories(dir)
    val pairs = (0 until nPairs).map(i => (f"S${2 * i}%03d", f"S${2 * i + 1}%03d"))
    val days = Iterator.iterate(LocalDate.of(2025, 1, 6))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
        d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(nSessions).toVector
    var rawBars, rawBytes, aligned, gapDays = 0L
    pairs.foreach { case (s1, s2) =>
      val legs = Array(new StringBuilder, new StringBuilder)
      val counts = Array(0L, 0L)
      var p1 = 50.0 + rnd.nextDouble() * 200.0
      val ratio = 0.5 + rnd.nextDouble()
      var spread = 0.0
      def bar(leg: Int, ts: String, close: Option[Double], px: Double): Unit = {
        val sb = legs(leg)
        if (counts(leg) > 0) sb.append(",\n")
        val vol = if (rnd.nextInt(50) == 0) "null" else (100 + rnd.nextInt(50000)).toString
        val c = close.fold("null")(v => f"$v%.4f")
        sb.append(f"""    {"timestamp": "$ts", "open": $px%.4f, "high": ${px * 1.001}%.4f, "low": ${px * 0.999}%.4f, "close": $c, "volume": $vol}""")
        counts(leg) += 1
      }
      def extra(at: ZonedDateTime, px: Double): Unit = (0 to 1).foreach { leg =>
        val ts = if (rnd.nextInt(40) == 0) "not-a-timestamp" else at.format(Iso)
        bar(leg, ts, if (rnd.nextInt(40) == 0) None else Some(px), px)
      }
      days.foreach { d =>
        val open = ZonedDateTime.of(d, SessionOpen, Et)
        (1 to 4).foreach(k => extra(open.minusMinutes(5L * k), p1))
        val nGaps = rnd.nextInt(10) match { case 0 => 1; case 1 => 2; case _ => 0 }
        val gaps = rnd.shuffle((0 until BarsPerSession).toList).take(nGaps).toSet
        if (nGaps > 0) gapDays += 1
        (0 until BarsPerSession).foreach { slot =>
          p1 *= math.exp(rnd.nextGaussian() * 0.002)
          spread = 0.97 * spread + rnd.nextGaussian() * 0.003
          val px = Array(p1, p1 * ratio * math.exp(spread))
          val ts = open.plusMinutes(5L * slot).withZoneSameInstant(java.time.ZoneOffset.UTC).format(Iso)
          if (gaps(slot)) {
            val leg = rnd.nextInt(2)
            bar(1 - leg, ts, Some(px(1 - leg)), px(1 - leg))
            rnd.nextInt(3) match {
              case 0 => ()
              case 1 => bar(leg, ts, None, px(leg))
              case _ => bar(leg, ts.replace('T', '_'), Some(px(leg)), px(leg))
            }
          } else {
            bar(0, ts, Some(px(0)), px(0)); bar(1, ts, Some(px(1)), px(1))
          }
        }
        aligned += BarsPerSession - nGaps
        (1 to 4).foreach(k => extra(open.plusMinutes(390L + 5L * (k - 1)), p1))
        if (d.getDayOfWeek == DayOfWeek.FRIDAY)
          (0 to 2).foreach(k => extra(open.plusDays(1).plusMinutes(60L * k), p1))
      }
      Seq(s1, s2).zipWithIndex.foreach { case (sym, leg) =>
        val doc =
          s"""{
             |  "symbol": "$sym",
             |  "timeframe": "5Min",
             |  "source": "alpaca",
             |  "feed": "iex",
             |  "start_utc": "${days.head}T00:00:00+00:00",
             |  "end_utc": "${days.last.plusDays(1)}T00:00:00+00:00",
             |  "bars": [
             |${legs(leg)}
             |  ]
             |}
             |""".stripMargin.getBytes(StandardCharsets.UTF_8)
        Files.write(dir.resolve(s"${sym}_intraday_5min.json"), doc)
        rawBytes += doc.length
        rawBars += counts(leg)
      }
    }
    Expected(rawBars, rawBytes, aligned, 2L * nPairs * nSessions, 2L * gapDays, pairs)
  }
}
