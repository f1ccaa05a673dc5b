package graft.time

/** Fixed-length duration parsing for window sizes/offsets.
  *
  * Mirrors the grammar accepted by the reference's `parse_timedelta`
  * (reference: src/aces/utils.py:14-46, which delegates to pytimeparse):
  * compound unit strings ("1 days 2 hours 3 minutes 4 seconds", "24h",
  * "2h32m"), clock forms ("1 day, 14:20:16", "4:13"), decimals
  * ("1.5 hours"), and negative values ("-24h"). All durations are
  * fixed-length (no calendar months/years exist in the grammar —
  * utils.py:46 converts everything to seconds), so we represent them
  * exactly as microseconds in a Long.
  */
object Timedelta {

  private val unitMicros: Map[String, Long] = {
    val s = 1000000L
    val m = 60L * s
    val h = 60L * m
    val d = 24L * h
    val w = 7L * d
    Map(
      "w" -> w, "wk" -> w, "wks" -> w, "week" -> w, "weeks" -> w,
      "d" -> d, "day" -> d, "days" -> d,
      "h" -> h, "hr" -> h, "hrs" -> h, "hour" -> h, "hours" -> h,
      "m" -> m, "min" -> m, "mins" -> m, "minute" -> m, "minutes" -> m,
      "s" -> s, "sec" -> s, "secs" -> s, "second" -> s, "seconds" -> s
    )
  }

  private val tokenRe = """([+-]?\d+(?:\.\d+)?)\s*([a-zA-Z]+)""".r
  private val clockRe = """^(?:(\d+(?:\.\d+)?)\s*(?:d|day|days)\s*,?\s*)?(\d+):(\d{1,2})(?::(\d{1,2}(?:\.\d+)?))?$""".r

  /** Parse a duration string to microseconds. Empty/null-ish input → 0. */
  def parseMicros(raw: String): Long = {
    if (raw == null) return 0L
    val str0 = raw.trim
    if (str0.isEmpty) return 0L

    val (sign, str) =
      if (str0.startsWith("-")) (-1L, str0.drop(1).trim)
      else if (str0.startsWith("+")) (1L, str0.drop(1).trim)
      else (1L, str0)

    str match {
      case clockRe(days, hh, mm, ss) =>
        val dUs = if (days == null) 0.0 else days.toDouble * 86400e6
        val sUs = if (ss == null) 0.0 else ss.toDouble * 1e6
        val total = dUs + hh.toDouble * 3600e6 + mm.toDouble * 60e6 + sUs
        sign * math.round(total)
      case _ =>
        val matches = tokenRe.findAllMatchIn(str).toList
        if (matches.isEmpty)
          throw new IllegalArgumentException(s"Cannot parse timedelta: '$raw'")
        // Reject garbage between/around tokens (e.g. "invalid time string.")
        val consumed = matches.map(m => m.matched.replaceAll("\\s", "")).mkString
        val compact = str.replaceAll("[\\s,]", "")
        if (consumed != compact)
          throw new IllegalArgumentException(s"Cannot parse timedelta: '$raw'")
        val total = matches.map { mm =>
          val qty = mm.group(1).toDouble
          val unit = mm.group(2).toLowerCase
          val mult = unitMicros.getOrElse(
            unit, throw new IllegalArgumentException(s"Unknown time unit '$unit' in '$raw'"))
          qty * mult
        }.sum
        sign * math.round(total)
    }
  }
}
