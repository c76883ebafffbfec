package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date detection + normalization (reference O7/O8,
  * `index.js:92-129,187-206,307-323,373-378,477-482`).
  *
  * Semantics: a string column is a date column iff, over the scanned
  * sample, every non-null value (a) has length 8–10 and (b) strictly
  * parses with **exactly one** of the six candidate formats — the
  * reference intersects per-row surviving-format sets; a column where
  * two formats survive (e.g. `1/2/2011`) is left as a plain string.
  * Matched columns are normalized to ISO `YYYY-MM-DD`
  * (`ISO_DATE.slice(0,10)`, `index.js:92,377`); we surface `DateType`
  * rather than the ISO string (equivalent information, SQL-native).
  *
  * Divergence (SURVEY.md §2b Q6): a value that fails the locked format
  * becomes NULL, not the literal `"Invalid date"`.
  */
object Dates {
  /** Reference `DATE_FORMATS` (`index.js:102-111`) as Spark datetime
    * patterns — moment `YYYY-M-D` strict ≙ Spark `yyyy-M-d` under the
    * CORRECTED (non-legacy) parser: 1–2 digit month/day, 4-digit year. */
  val Formats: Seq[String] = Seq(
    "yyyy-M-d", "yyyy/M/d", // ISO-ish
    "d-M-yyyy", "d/M/yyyy", // most common global
    "M-d-yyyy", "M/d/yyyy"  // U.S.
  )

  /** Datetime candidate formats — an EXTENSION beyond the reference
    * (its `TIME_FORMATS` are dead code, `index.js:113-129`, never
    * reached from the scan loop; SURVEY §2b Q7): event-log ingestion
    * hits `"2024-01-02 13:45:00"` strings on day one. Same voting
    * contract as [[Formats]]: a column is a timestamp column iff every
    * non-null scanned value strictly parses with exactly one candidate.
    * The space/`T` separator and the optional `.SSS` fraction make the
    * variants mutually exclusive on any single value, so the
    * exactly-one-surviving rule carries over unchanged. */
  val TimestampFormats: Seq[String] = Seq(
    "yyyy-M-d H:m:s",         // SQL-style datetime
    "yyyy-M-d H:m:s.SSS",     // with millisecond fraction
    "yyyy-M-d'T'H:m:s",       // ISO-8601 T separator
    "yyyy-M-d'T'H:m:s.SSS",   // ISO-8601 with fraction
    "yyyy/M/d H:m:s"          // slash-date variant
  )

  /** Structural pre-guard per format — digit-group widths and literal
    * separators as one anchored regex, checked BEFORE the real parse.
    * Two jobs:
    *
    *  1. Fidelity: moment strict `YYYY`/`M`/`D` means exactly-4 /
    *     1–2 / 1–2 digits, while Spark's `yyyy` is EXCEEDS_PAD
    *     (accepts 4–19 digits) and `d` consumes up to 19 — so without
    *     the guard `12023-1-1` is a Spark-date the reference would
    *     reject. The guard pins the accepted shapes to the
    *     reference's.
    *  2. Cost: `try_to_date` rejects a non-matching value via an
    *     internal throw/catch — the inference agg was measured at
    *     ~160 core-seconds on a 180k-row × 16-col prefix, almost all
    *     of it failed-parse exception machinery (§9o). The numeric
    *     `try_cast`s pay the same way (Spark 4.1 runs a TRY cast through
    *     the ANSI path and catches the error: ~8 µs per non-integer cell
    *     for BIGINT, a `NumberFormatException` per non-numeric cell for
    *     DOUBLE), so TypeInference guards them likewise. The regex
    *     fails at codegen speed; the expensive parse now runs only on
    *     values whose shape already matches, i.e. at most one format
    *     per value for Y-first dates (D-first `01-02-1994` still
    *     probes both day-first orders — exactly the reference's
    *     ambiguous-value behavior).
    */
  private val GuardRe: Map[String, String] = Map(
    "yyyy-M-d" -> "^\\d{4}-\\d{1,2}-\\d{1,2}$",
    "yyyy/M/d" -> "^\\d{4}/\\d{1,2}/\\d{1,2}$",
    "d-M-yyyy" -> "^\\d{1,2}-\\d{1,2}-\\d{4}$",
    "d/M/yyyy" -> "^\\d{1,2}/\\d{1,2}/\\d{4}$",
    "M-d-yyyy" -> "^\\d{1,2}-\\d{1,2}-\\d{4}$",
    "M/d/yyyy" -> "^\\d{1,2}/\\d{1,2}/\\d{4}$",
    "yyyy-M-d H:m:s" ->
      "^\\d{4}-\\d{1,2}-\\d{1,2} \\d{1,2}:\\d{1,2}:\\d{1,2}$",
    "yyyy-M-d H:m:s.SSS" ->
      "^\\d{4}-\\d{1,2}-\\d{1,2} \\d{1,2}:\\d{1,2}:\\d{1,2}\\.\\d{3}$",
    "yyyy-M-d'T'H:m:s" ->
      "^\\d{4}-\\d{1,2}-\\d{1,2}T\\d{1,2}:\\d{1,2}:\\d{1,2}$",
    "yyyy-M-d'T'H:m:s.SSS" ->
      "^\\d{4}-\\d{1,2}-\\d{1,2}T\\d{1,2}:\\d{1,2}:\\d{1,2}\\.\\d{3}$",
    "yyyy/M/d H:m:s" ->
      "^\\d{4}/\\d{1,2}/\\d{1,2} \\d{1,2}:\\d{1,2}:\\d{1,2}$")

  /** The cheap half of [[parses]]: the reference's candidate length
    * 8–10 (`index.js:186,306`) and the format's guard. */
  private[ingest] def dateShaped(c: Column, fmt: String): Column =
    length(c).between(8, 10) && c.rlike(GuardRe(fmt))

  /** The cheap half of [[tparses]]: candidate length 14 (minimal
    * `yyyy-M-d H:m:s`) to 23 (full fraction) and the format's guard. */
  private[ingest] def tsShaped(c: Column, fmt: String): Column =
    length(c).between(14, 23) && c.rlike(GuardRe(fmt))

  /** True iff `c` (non-null) has a candidate shape for `fmt` and
    * strictly parses with it. */
  def parses(c: Column, fmt: String): Column =
    dateShaped(c, fmt) && try_to_date(c, fmt).isNotNull

  /** Timestamp analogue of [[parses]]. */
  def tparses(c: Column, fmt: String): Column =
    tsShaped(c, fmt) && try_to_timestamp(c, lit(fmt)).isNotNull

  /** Normalize with a locked format; unparseable → NULL (intended
    * semantics for Q6). */
  def normalize(c: Column, fmt: String): Column = try_to_date(c, fmt)

  /** Timestamp normalization with a locked format; unparseable → NULL. */
  def normalizeTs(c: Column, fmt: String): Column = try_to_timestamp(c, lit(fmt))
}
