package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Column-level log parsing / normalization functions (SURVEY.md §2.2 P1,
  * §2.7). Everything here is built from `org.apache.spark.sql.functions`
  * so it stays inside whole-stage codegen — no UDFs, no row-at-a-time
  * closures. Behavior mirrors the reference's parse stage
  * (`storm/.../ParseBolt.java:49-97`, `storm/.../LogTypeSniffer.java:20`).
  */
object LogFunctions {

  /** Max message length before truncation — reference `ParseBolt.java:29`. */
  val MaxMsgLength = 4096

  /** ISO8601-with-offset sniffer regex — reference
    * `LogTypeSniffer.java:20` (group 1 = extra sub-milli digits).
    */
  val Iso8601Regex: String =
    "[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}\\.[0-9]{3}([0-9]+)?(?:\\+|-)[0-9]{2}:[0-9]{2}"

  /** Error lexicon used for heuristic labeling — reference
    * `ErrorClassifierBolt.java:44` (25 entries, `;`-separated there).
    */
  val ErrorWords: Seq[String] = Seq(
    "err", "error", "fail", "failed", "failure", "timed out", "exception",
    "unexpected", "not found", "unauthorized", "not authorized", "missing",
    "reject", "rejected", "drop", "dropped", "warn", "warning", "crit",
    "critical", "fatal", "emerg", "emergency", "alert", "404")

  /** Trim and truncate to `maxLen` chars with a ".." suffix —
    * reference `ParseBolt.java:62-66`.
    */
  def normalizeRaw(c: Column, maxLen: Int = MaxMsgLength): Column = {
    val t = trim(c)
    when(length(t) > maxLen, concat(substring(t, 1, maxLen), lit("..")))
      .otherwise(t)
  }

  /** Predicate: line survives parse (non-null, non-empty after trim) —
    * reference `ParseBolt.java:52-59`.
    */
  def nonEmptyLine(c: Column): Column = c.isNotNull && length(trim(c)) > 0

  /** Extract the ISO8601 timestamp substring, normalizing >3-digit
    * fractional seconds down to millis — reference
    * `LogTypeSniffer.java:35-46` (the "remove extra millis digits" fixup).
    * Returns null when no timestamp is present.
    */
  def sniffIsoString(c: Column): Column = {
    val found = regexp_extract(c, Iso8601Regex, 0)
    // Drop sub-milli digits so SSSXXX-style parsing applies:
    // "....235123-07:00" -> "....235-07:00"
    val fixed = regexp_replace(
      found,
      "(\\.[0-9]{3})[0-9]+((?:\\+|-)[0-9]{2}:[0-9]{2})",
      "$1$2")
    when(found =!= "", fixed)
  }

  /** Parse the sniffed ISO8601 timestamp; null when absent/unparseable —
    * reference `ParseBolt.java:41`, format yyyy-MM-dd'T'HH:mm:ss.SSSXXX.
    */
  def parseIsoTs(c: Column): Column =
    to_timestamp(sniffIsoString(c), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")

  /** Event time if the line carries one, else processing-time fallback —
    * reference `ParseBolt.java:81-84`. The fallback is the query's
    * `current_timestamp()`: in a streaming query, the micro-batch's
    * timestamp, so every unstamped row of one batch carries the same
    * `ts`. It goes through [[BatchConst]], which keeps that value out
    * of the generated code: written as a literal, it would change the
    * whole-stage source and force a recompile every micro-batch.
    */
  def tsOrNow(c: Column): Column =
    coalesce(parseIsoTs(c), BatchConst(current_timestamp()))

  /** Tumbling-bucket arithmetic `bucket = ts - (ts % step)` in epoch
    * seconds — reference `RollupStatsBolt.java:86`,
    * `cli/supervisorcon.go:86-89` (the *intended* seconds semantics,
    * see SURVEY.md §1.1 units caveat).
    */
  def bucket(ts: Column, stepSec: Long): Column =
    (floor(unix_timestamp(ts) / stepSec) * stepSec).cast(LongType)

  /** True when the lower-cased text contains any error-lexicon word —
    * the deterministic heuristic-labeling half of the reference's
    * classifier (`ErrorClassifierBolt.java:72-77`). Built as an OR-chain
    * of codegen'd `Contains`, matching the reference's substring checks.
    */
  def containsErrorWord(c: Column): Column = {
    val lowered = lower(c)
    ErrorWords.map(w => lowered.contains(w)).reduce(_ || _)
  }

  /** Case-insensitive LIKE '%pattern%' — reference `cli/grepsql.go:53-55`. */
  def iLike(c: Column, pattern: String): Column =
    lower(c).contains(pattern.toLowerCase(java.util.Locale.ROOT))

  /** Partition-routing date string yyyy_MM_dd — reference
    * `cli/supervisorcon.go:36-38`, `BigQueryInsertRunnable.java:32-36`.
    */
  def dateSuffix(ts: Column): Column = date_format(ts, "yyyy_MM_dd")

  /** Parse `10s` / `5m` / `2h` / `1d` duration literals to seconds —
    * reference `cli/cloudpelican-lsd.go:723-747`.
    */
  def parseDuration(s: String): Long = {
    val t = s.trim
    require(t.nonEmpty, "empty duration")
    val (num, mult) = t.last match {
      case 's' => (t.init, 1L)
      case 'm' => (t.init, 60L)
      case 'h' => (t.init, 3600L)
      case 'd' => (t.init, 86400L)
      case _   => (t, 1L)
    }
    num.toLong * mult
  }
}
