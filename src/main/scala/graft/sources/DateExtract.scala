package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Filename → date extraction (SURVEY.md §2 A2).
  *
  * Re-expresses the reference's `extract_date_from_filename`
  * (reference: etl_pipeline.py:27-213): try each regex pattern in
  * priority order, validate the parsed date, return the first hit.
  * Custom business patterns (the reference's `patterns` dict and
  * `get_custom_patterns()`, etl_pipeline.py:27-28, 234-249) are
  * modeled as [[DateExtract.DatePattern]] rows prepended to the 11
  * defaults; the `return_format='dict'` all-matches diagnostic
  * (etl_pipeline.py:202-203) is [[DateExtract.extractAllDates]] — a
  * struct with one field per pattern name.
  *
  * Implementation is a single `coalesce` of built-in
  * `regexp_extract`/`to_date` chains, no UDF: over a distributed table
  * of names it is one whole-stage-codegen projection per row; over
  * [[FileCatalog]]'s driver-side listing (a local relation) the
  * optimizer evaluates it once per object, with no Spark job.
  * `graft-catalog` does not use it (see [[CatalogSource]]). Invalid
  * candidates (e.g. the `compact_date` pattern grabbing the first 8
  * digits of a unix timestamp) yield null from `to_date` and fall
  * through, exactly like the reference's strptime try/except
  * (etl_pipeline.py:193-195).
  */
object DateExtract {

  /** A caller-supplied naming convention (the reference's `patterns`
    * dict / `get_custom_patterns()`, etl_pipeline.py:234-249). Three
    * shapes cover every convention the reference ships:
    * [[DatePattern]] (one captured candidate, one datetime format),
    * [[DateTimePattern]] (date and time captured as separate groups,
    * composed — the `log_file` convention), and [[QuarterPattern]]
    * (a computed date: quarter digit + year → first day of quarter —
    * the `report_quarterly` convention). */
  sealed trait CustomPattern { def name: String }

  /** One custom naming convention: `regex` group `group` captures the
    * candidate, `format` is the datetime pattern that parses it (a
    * parse failure falls through to the next pattern, like the
    * reference's strptime try/except). Example — the reference's
    * backup convention (etl_pipeline.py:245):
    * `DatePattern("backup_file", "backup_(\\d{4}_\\d{2}_\\d{2}_\\d{2}_\\d{2}_\\d{2})\\.sql",
    * "yyyy_MM_dd_HH_mm_ss")`. */
  final case class DatePattern(name: String, regex: String, format: String,
                               group: Int = 1) extends CustomPattern

  /** Multi-group convention: group `dateGroup` parsed by `dateFormat`
    * and group `timeGroup` by `timeFormat`, composed into one
    * timestamp — the reference's `log_file`
    * (`app_(\d{8})_(\d{6})\.log`, etl_pipeline.py:243-244). */
  final case class DateTimePattern(name: String, regex: String,
                                   dateFormat: String, timeFormat: String,
                                   dateGroup: Int = 1, timeGroup: Int = 2)
    extends CustomPattern

  /** Computed convention: group `quarterGroup` is a quarter digit
    * (1-4), group `yearGroup` a 4-digit year; the extracted date is
    * the first day of that quarter — the reference's
    * `report_quarterly` (`report_Q(\d)_(\d{4})\.xlsx`,
    * etl_pipeline.py:248). An out-of-range quarter digit yields null
    * and falls through. */
  final case class QuarterPattern(name: String, regex: String,
                                  quarterGroup: Int = 1, yearGroup: Int = 2)
    extends CustomPattern

  /** Null-on-no-match extraction: `nullif(regexp_extract(...), "")`.
    * A null candidate short-circuits every consumer (`try_to_date`,
    * `concat`, `translate`, casts), where "" was still sent through
    * each pattern's parse and failed there. Over the 528-object
    * seed-7 benchmark drop (4-vCPU VM, a busy host), a `pathsForDate`
    * call took 165 ms with "" and 134 ms with null (median of 30
    * alternating calls in one JVM), for the same extracted dates. `nullif`
    * names its argument once (a common-expression `With`), so the
    * analyzed tree holds ONE RegExpExtract per use, not the two of
    * `when(m =!= "", m)`: this projection is the widest in the repo,
    * and with the per-query plan re-analysis in the bench loop the
    * TREE SIZE itself was most of date_extract_custom's time. */
  private def ext(c: Column, pattern: String, group: Int = 1): Column =
    nullif(regexp_extract(c, pattern, group), lit(""))

  /** Validate a yyyy-MM-dd candidate: null unless it parses.
    * `try_to_date`, not `to_date`: under ANSI mode (Spark 4 default) a
    * plausible-looking but invalid candidate (e.g. the compact_date
    * pattern grabbing the first 8 digits of a unix timestamp →
    * "1705-27-68") must fall through like the reference's
    * strptime try/except, not kill the scan.
    *
    * Shaped as parse→reformat, NOT `when(parse ok, c)`: every caller
    * feeds a regex-shaped zero-padded candidate, for which the
    * roundtrip is byte-identical, and the single occurrence of `c`
    * keeps the candidate's RegExpExtract from appearing twice in the
    * tree (at 15 patterns × 3 forms the tree size was the cost). */
  private def validIso(c: Column): Column =
    date_format(call_function("try_to_date", c, lit("yyyy-MM-dd")), "yyyy-MM-dd")

  // The 11 reference patterns (etl_pipeline.py:43-76), same priority.
  private val isoDatetimeCompact = "(\\d{4}-\\d{2}-\\d{2})T(\\d{6})"
  private val isoDatetimeFull    = "(\\d{4}-\\d{2}-\\d{2})T(\\d{2}:\\d{2}:\\d{2})"
  private val isoDate            = "(\\d{4}-\\d{2}-\\d{2})"
  private val usDatetime         = "(\\d{2}-\\d{2}-\\d{4})_(\\d{6})"
  private val usDate             = "(\\d{2}-\\d{2}-\\d{4})"
  private val compactDate        = "(\\d{8})"
  private val underscoreDate     = "(\\d{4}_\\d{2}_\\d{2})"
  private val dotDate            = "(\\d{4}\\.\\d{2}\\.\\d{2})"
  private val yearMonth          = "(\\d{4}-\\d{2})"
  private val unixTimestamp      = "timestamp_(\\d{10})"
  private val dateRange          = "(\\d{4}-\\d{2}-\\d{2})_to_(\\d{4}-\\d{2}-\\d{2})"

  // one reference to the candidate each, so its RegExpExtract is in
  // the tree once (three substrings would hold it three times)
  private def usToIso(us: Column): Column = // MM-DD-YYYY → YYYY-MM-DD
    regexp_replace(us, lit("^(\\d{2})-(\\d{2})-(\\d{4})$"), lit("$3-$1-$2"))

  private def compactToIso(c: Column): Column = // YYYYMMDD → YYYY-MM-DD
    regexp_replace(c, lit("^(\\d{4})(\\d{2})(\\d{2})$"), lit("$1-$2-$3"))

  /** Custom-pattern candidate parsed+validated via its own datetime
    * format, surfaced as an ISO date string (null = no match or
    * unparseable candidate). */
  private def customDate(filename: Column, p: CustomPattern): Column =
    date_format(customTimestamp(filename, p), "yyyy-MM-dd")

  private def customTimestamp(filename: Column, p: CustomPattern): Column = p match {
    case DatePattern(_, regex, format, group) =>
      try_to_timestamp(ext(filename, regex, group), lit(format))
    case DateTimePattern(_, regex, df, tf, dg, tg) =>
      // concat_ws drops nulls, so a date-only or no-match candidate
      // fails the combined-format parse and falls through cleanly
      try_to_timestamp(
        concat_ws(" ", ext(filename, regex, dg), ext(filename, regex, tg)),
        lit(s"$df $tf"))
    case QuarterPattern(_, regex, qg, yg) =>
      val q = ext(filename, regex, qg).cast("int")
      val y = ext(filename, regex, yg).cast("int")
      // guard keeps make_date's month in range under ANSI mode
      when(q.between(1, 4),
        make_date(y, (q - lit(1)) * lit(3) + lit(1), lit(1)).cast("timestamp"))
  }

  /** The default patterns as (name → extracted ISO date) pairs, in
    * reference priority order — shared by the scalar and the
    * all-matches forms. */
  private def defaultDates(filename: Column): Seq[(String, Column)] = Seq(
    "iso_datetime_compact" -> validIso(ext(filename, isoDatetimeCompact)),
    "iso_datetime_full"    -> validIso(ext(filename, isoDatetimeFull)),
    "iso_date"             -> validIso(ext(filename, isoDate)),
    "us_datetime"          -> validIso(usToIso(ext(filename, usDatetime))),
    "us_date"              -> validIso(usToIso(ext(filename, usDate))),
    "compact_date"         -> validIso(compactToIso(ext(filename, compactDate))),
    "underscore_date"      -> validIso(translate(ext(filename, underscoreDate), "_", "-")),
    "dot_date"             -> validIso(translate(ext(filename, dotDate), ".", "-")),
    // year_month: valid when it parses as yyyy-MM (month 01-12) —
    // same single-occurrence parse→reformat shape as validIso
    "year_month" ->
      date_format(call_function("try_to_date",
        ext(filename, yearMonth), lit("yyyy-MM")), "yyyy-MM"),
    "unix_timestamp" ->
      date_format(to_timestamp(ext(filename, unixTimestamp).cast("long")), "yyyy-MM-dd"),
    "date_range"           -> validIso(ext(filename, dateRange)))

  /** ISO date string (or yyyy-MM for the year_month pattern), null if
    * no pattern matches — the reference's `return_format='string'`. */
  def extractDate(filename: Column): Column =
    coalesce(defaultDates(filename).map(_._2): _*)

  /** `extractDate` with custom conventions tried FIRST (the
    * reference's `patterns` argument: a caller-supplied dict is tried
    * before nothing else — here customs get priority over the 11
    * defaults so a bespoke convention can override e.g. the greedy
    * `compact_date`). */
  def extractDate(filename: Column, custom: Seq[CustomPattern]): Column =
    coalesce((custom.map(customDate(filename, _)) ++
      defaultDates(filename).map(_._2)): _*)

  /** The reference's `return_format='dict'` diagnostic: one struct
    * field per pattern name (customs first), each the ISO date that
    * pattern yields on this filename or null — "which patterns
    * matched, and what did each see". The reference's dict also
    * carries both endpoints for `date_range` and the raw integer for
    * `unix_timestamp` (etl_pipeline.py:180-189) — surfaced as the
    * extra `date_range_end` / `unix_timestamp_raw` fields. */
  def extractAllDates(filename: Column, custom: Seq[CustomPattern] = Nil): Column = {
    val fields = custom.map(p => customDate(filename, p).as(p.name)) ++
      defaultDates(filename).map { case (n, c) => c.as(n) } ++ Seq(
        validIso(ext(filename, dateRange, 2)).as("date_range_end"),
        ext(filename, unixTimestamp).cast("long").as("unix_timestamp_raw"))
    struct(fields: _*)
  }

  /** Full timestamp where the pattern carries a time component, else
    * midnight of the extracted date — the reference's
    * `return_format='datetime'`. */
  def extractTimestamp(filename: Column): Column = {
    val compactTime = ext(filename, isoDatetimeCompact, 2)
    val isoCompactTs = when(
      validIso(ext(filename, isoDatetimeCompact)).isNotNull,
      try_to_timestamp(concat(
        ext(filename, isoDatetimeCompact), lit(" "),
        substring(compactTime, 1, 2), lit(":"),
        substring(compactTime, 3, 2), lit(":"),
        substring(compactTime, 5, 2))))
    val isoFullTs = try_to_timestamp(
      concat(ext(filename, isoDatetimeFull), lit(" "), ext(filename, isoDatetimeFull, 2)))
    val usTime = ext(filename, usDatetime, 2)
    val usTs = when(
      validIso(usToIso(ext(filename, usDatetime))).isNotNull,
      try_to_timestamp(concat(
        usToIso(ext(filename, usDatetime)), lit(" "),
        substring(usTime, 1, 2), lit(":"),
        substring(usTime, 3, 2), lit(":"),
        substring(usTime, 5, 2))))
    val unixTs = to_timestamp(ext(filename, unixTimestamp).cast("long"))
    coalesce(isoCompactTs, isoFullTs, usTs, unixTs,
      try_to_timestamp(extractDate(filename), lit("yyyy-MM-dd")))
  }

  /** `extractTimestamp` with custom conventions tried first: a custom
    * pattern whose format carries a time component (e.g. the backup
    * convention's `yyyy_MM_dd_HH_mm_ss`) keeps that precision instead
    * of collapsing to midnight via the default date-only patterns. */
  def extractTimestamp(filename: Column, custom: Seq[CustomPattern]): Column =
    coalesce((custom.map(customTimestamp(filename, _)) :+
      extractTimestamp(filename)): _*)
}
