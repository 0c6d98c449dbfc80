package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's scalar SQL macro library (F1, SURVEY.md §2.10) as
  * Catalyst-visible Column expressions — no UDFs, so everything is
  * foldable, codegen'd, and pushdown-friendly.
  *
  * Semantics mirror /root/reference/src/blq/schema.sql:24-33,285-309 and
  * bird_schema.sql:296-306 (behavior only; Spark-native construction).
  */
object BlqFunctions {

  /** Parse "run:event" back to a struct (schema.sql:293-297). */
  def blqParseRef(ref: Column): Column =
    struct(
      split_part(ref, lit(":"), lit(1)).cast("int").as("run_id"),
      split_part(ref, lit(":"), lit(2)).cast("int").as("event_id"))

  /** "file:line:col" display location with null handling
    * (schema.sql:299-303): missing file → '?', line appended when
    * present, column appended only when present and > 0. */
  def blqLocation(refFile: Column, refLine: Column, refColumn: Column): Column =
    concat(
      coalesce(refFile, lit("?")),
      when(refLine.isNotNull, concat(lit(":"), refLine.cast("string"))).otherwise(lit("")),
      when(refColumn.isNotNull && refColumn > 0, concat(lit(":"), refColumn.cast("string")))
        .otherwise(lit("")))

  /** Display fingerprint "tool_xxxxxxxx" (schema.sql:305-309): first and
    * a truncated third '_'-separated segment. */
  def blqShortFp(fp: Column): Column =
    when(fp.isNull, lit(null))
      .otherwise(concat(
        split_part(fp, lit("_"), lit(1)), lit("_"),
        substring(split_part(fp, lit("_"), lit(3)), 1, 8)))

  /** '[FAIL]'/'[WARN]'/'[ OK ]' badge from counts (schema.sql:28-33). */
  def blqStatusBadge(errorCount: Column, warningCount: Column): Column =
    when(errorCount > 0, lit("[FAIL]"))
      .when(warningCount > 0, lit("[WARN]"))
      .otherwise(lit("[ OK ]"))

  /** "tag:serial" human run ref; bare serial when untagged
    * (bird_schema.sql:302-306). */
  def blqRunRef(tag: Column, runSerial: Column): Column =
    when(tag.isNotNull, concat(tag, lit(":"), runSerial.cast("string")))
      .otherwise(runSerial.cast("string"))

  /** "tag:serial:event" full event ref (bird_schema.sql:308-312). */
  def blqEventRef(tag: Column, runSerial: Column, eventIndex: Column): Column =
    concat(blqRunRef(tag, runSerial), lit(":"), eventIndex.cast("string"))

  /** Deterministic dedup fingerprint over normalized identity fields
    * (F4; reference synthesizes blake2b over tool/code/file/message,
    * execution.py:469-473). Message is normalized: digits and hex runs
    * collapsed so "line 42" and "line 17" share a fingerprint. Format
    * "tool_category_hexhash" matches the display contract of
    * blqShortFp. xxhash64 = partition-friendly, codegen'd. */
  def fingerprint(tool: Column, category: Column, code: Column,
      refFile: Column, message: Column): Column = {
    val template = regexp_replace(
      regexp_replace(coalesce(message, lit("")), HexRun, "<hex>"),
      DigitRun, "<n>")
    concat(
      coalesce(tool, lit("unknown")), lit("_"),
      coalesce(category, lit("general")), lit("_"),
      lower(hex(xxhash64(
        coalesce(tool, lit("")), coalesce(category, lit("")),
        coalesce(code, lit("")), coalesce(refFile, lit("")), template))))
  }

  /** [[fingerprint]] evaluated on the driver, bit-identical to the
    * Column form: the same two regex normalisations of the message,
    * `xxhash64`'s seed-42 chain over the five coalesced fields' UTF-8
    * bytes, and `lower(hex(…))` of the 64-bit result, which is the
    * unsigned hex `Long.toHexString` prints. For rows already in driver
    * memory, where a Catalyst projection would cost more than the hash. */
  def fingerprintOf(tool: Option[String], category: Option[String],
      code: Option[String], refFile: Option[String],
      message: Option[String]): String = {
    val template = DigitRunPattern.matcher(
      HexRunPattern.matcher(message.getOrElse("")).replaceAll("<hex>"))
      .replaceAll("<n>")
    val hash = Seq(tool, category, code, refFile, Some(template))
      .foldLeft(42L) { (seed, field) =>
        XXH64.hashUTF8String(UTF8String.fromString(field.getOrElse("")), seed)
      }
    s"${tool.getOrElse("unknown")}_${category.getOrElse("general")}_" +
      java.lang.Long.toHexString(hash)
  }

  /** Severities that carry a fingerprint; every other event's is null. */
  val FingerprintedSeverities: Seq[String] = Seq("error", "warning", "test_fail")

  private val HexRun = "0x[0-9a-fA-F]+"
  private val DigitRun = "[0-9]+"
  private val HexRunPattern = java.util.regex.Pattern.compile(HexRun)
  private val DigitRunPattern = java.util.regex.Pattern.compile(DigitRun)

  /** Millisecond duration → compact human age ("3d 4h", "2h 5m", "12s";
    * output.py:20-86 semantics, normalized to ms internally per
    * SURVEY.md §7.4). */
  def formatAge(ms: Column): Column = {
    val s = (ms / 1000).cast("long")
    val days = (s / 86400L).cast("long")
    val hours = ((s % 86400L) / 3600L).cast("long")
    val mins = ((s % 3600L) / 60L).cast("long")
    val secs = (s % 60L).cast("long")
    when(days > 0, concat(days.cast("string"), lit("d "), hours.cast("string"), lit("h")))
      .when(hours > 0, concat(hours.cast("string"), lit("h "), mins.cast("string"), lit("m")))
      .when(mins > 0, concat(mins.cast("string"), lit("m "), secs.cast("string"), lit("s")))
      .otherwise(concat(secs.cast("string"), lit("s")))
  }
}
