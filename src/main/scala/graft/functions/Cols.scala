package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-`Column` builders for every scalar derivation in the pipeline.
  *
  * Everything here stays inside Catalyst/whole-stage codegen: no Scala UDFs,
  * no serialization boundary, all expressions visible to the optimizer (so
  * filter pushdown and constant folding still apply at 100 TB). The one UDF
  * the reference has (`normalize_vn_datetime_udf`,
  * reference: spark_jobs/gcs_bronze_to_silver.py:169-211) is re-expressed as
  * regex Column ops — same semantics, zero per-row Python/JVM hop.
  */
object Cols {

  /** Trimmed value, or NULL when blank (reference: gcs_bronze_to_silver.py:521-522). */
  def blankToNull(c: Column): Column =
    when(length(trim(c)) > 0, trim(c)).otherwise(lit(null).cast("string"))

  /** Deterministic natural→surrogate string id: sha2-256 hex
    * (reference: gcs_bronze_to_silver.py:247,295). */
  def stableId(c: Column): Column = sha2(c, 256)

  /** Gold BIGINT surrogate key (reference: gcs_silver_to_gold.py:400). */
  def surrogateKey(c: Column): Column = xxhash64(c)

  /** FK hygiene: NULL/blank natural key → sentinel -1, else xxhash64
    * (reference: gcs_silver_to_gold_1.py:692-706). */
  def keyOrSentinel(c: Column): Column =
    when(c.isNull || c === "", lit(-1L)).otherwise(xxhash64(c))

  /** yyyyMMdd INT date key (reference: gcs_silver_to_gold.py:95-97). */
  def dateKey(ts: Column): Column =
    year(ts) * lit(10000) + month(ts) * lit(100) + dayofmonth(ts)

  /** Date key with NULL→-1 (reference: gcs_silver_to_gold_1.py:99-103). */
  def safeDateKey(ts: Column): Column =
    when(ts.isNull, lit(-1)).otherwise(dateKey(ts))

  // --- Vietnamese display-datetime normalizer (pure Column; no UDF) ---
  // 'Thứ sáu, 10/10/2025, 14:27 (GMT+7)' -> '10/10/2025 14:27 +07:00'
  // Regex semantics match reference: gcs_bronze_to_silver.py:163-211.
  private val WeekdayRe =
    "(?i)^\\s*(?:th(?:ứ|u)\\s*(?:hai|ba|t(?:ư|u)|n(?:ă|a)m|s(?:á|a)u|b(?:ả|a)y)|ch(?:ủ|u)\\s*nh(?:ậ|a)t)\\s*,\\s*"
  private val GmtRe =
    "(?i)\\(?\\s*gmt\\s*([+-])\\s*(\\d{1,2})(?::\\s*(\\d{2}))?\\s*\\)?"
  private val DmyHmRe =
    "(\\d{1,2})/(\\d{1,2})/(\\d{4})\\s+(\\d{1,2}):(\\d{2})"

  def normalizeVnDatetime(c: Column): Column = {
    val noWeekday = regexp_replace(trim(c), WeekdayRe, "")
    val sign = regexp_extract(noWeekday, GmtRe, 1)
    val tzH  = regexp_extract(noWeekday, GmtRe, 2)
    val tzM  = regexp_extract(noWeekday, GmtRe, 3)
    val tz = when(sign === "", lit("+00:00")).otherwise(
      concat(sign, lpad(tzH, 2, "0"), lit(":"),
        when(tzM === "", lit("00")).otherwise(tzM)))
    // Drop the GMT clause, fold commas into spaces (the final extract's \s+
    // absorbs spacing differences, so one pass replaces the reference's
    // first-comma + remaining-comma two-step).
    val body = regexp_replace(regexp_replace(noWeekday, GmtRe, ""), ",\\s*", " ")
    val d  = regexp_extract(body, DmyHmRe, 1)
    val mo = regexp_extract(body, DmyHmRe, 2)
    val yr = regexp_extract(body, DmyHmRe, 3)
    val hh = regexp_extract(body, DmyHmRe, 4)
    val mi = regexp_extract(body, DmyHmRe, 5)
    when(c.isNull || d === "", lit(null).cast("string")).otherwise(
      concat(lpad(d, 2, "0"), lit("/"), lpad(mo, 2, "0"), lit("/"), yr,
        lit(" "), lpad(hh, 2, "0"), lit(":"), mi, lit(" "), tz))
  }

  /** Non-ANSI string→long cast semantics under ANSI mode (Spark 4 would
    * throw; the reference's Spark 3.5 returned NULL on garbage). Mirrors
    * UTF8String.toLong: optional sign, digits, optional fraction which
    * truncates ('1696156800.5' → 1696156800, '+5' → 5). */
  def tryLong(c: Column): Column =
    when(trim(c).rlike("^[+-]?\\d{1,18}(\\.\\d*)?$"),
      regexp_extract(trim(c), "^[+-]?\\d{1,18}", 0).cast("long"))
      .otherwise(lit(null).cast("long"))

  /** Polymorphic publish_date → timestamp.
    * Numeric ≤13 chars: epoch seconds, or millis when >9999999999 (÷1000);
    * otherwise ISO / dd/MM cascade, each leg null-on-mismatch
    * (reference: gcs_bronze_to_silver.py:525-562).
    * The normalized string feeds 16 sub-expressions, so it is bound ONCE
    * as a lambda variable: inlined per use, a filter on the result (the
    * hygiene gate) generated a method beyond the JVM's 64 KB limit and
    * fell back from whole-stage codegen on every batch. */
  def parsePublishTs(raw: Column): Column = {
    val norm = coalesce(
      when(tryLong(raw).isNotNull, raw),
      normalizeVnDatetime(raw),
      raw)
    element_at(transform(array(norm), (n: Column) => parseNormalizedTs(n)), 1)
  }

  private def parseNormalizedTs(norm: Column): Column = {
    val asLong = tryLong(norm)
    val epochTs = when(asLong > lit(9999999999L),
        to_timestamp(from_unixtime((asLong / 1000).cast("long"))))
      .otherwise(to_timestamp(from_unixtime(asLong)))
    val formats = Seq(
      "yyyy-MM-dd'T'HH:mm:ss.SSSXXX", "yyyy-MM-dd'T'HH:mm:ssXXX",
      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'", "yyyy-MM-dd'T'HH:mm:ss'Z'",
      "yyyy-MM-dd'T'HH:mm:ss.SSS", "yyyy-MM-dd'T'HH:mm:ss",
      "dd/MM/yyyy HH:mm:ss XXX", "dd/MM/yyyy HH:mm XXX",
      "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm")
    val cascade = coalesce(
      formats.map(f => try_to_timestamp(norm, lit(f))) :+ try_to_timestamp(norm): _*)
    when(asLong.isNotNull && length(trim(norm)) <= 13, epochTs).otherwise(cascade)
  }

  // --- text metrics (reference: gcs_silver_to_gold.py:585-596) ---
  def wordCount(text: Column): Column =
    coalesce(size(split(regexp_replace(text.cast("string"), "\\s+", " "), " ")), lit(0))

  def charCount(text: Column): Column =
    coalesce(length(text.cast("string")), lit(0))

  def estimatedReadTimeMinutes(text: Column): Column =
    wordCount(text).cast("double") / lit(220.0)
}
