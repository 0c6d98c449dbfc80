package graft.parse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.BlqFunctions

/** Spark integration for the parser library: the `read_duck_hunt_log` /
  * `parse_duck_hunt_log` surface (S4/S5, SURVEY.md §2.1).
  *
  * Distributed shape: one task per log file (`wholetext` scan), parse in
  * a flatMap on executors, fingerprint as a Catalyst expression. Scale:
  * parsing 100 TB of logs is embarrassingly parallel over files; no
  * shuffle until the caller aggregates. Files too big for one task
  * should be split upstream (runner rotates logs); diagnostics never
  * span file boundaries in practice.
  */
object LogSource {

  /** Columns of a parsed-events DataFrame, pre-context-join. */
  private def finish(df: DataFrame): DataFrame =
    df.withColumn("fingerprint",
      when(col("severity").isin(BlqFunctions.FingerprintedSeverities: _*),
        BlqFunctions.fingerprint(col("tool_name"), col("category"),
          col("code"), col("ref_file"), col("message"))))

  /** S4: read + parse log files distributed — one row per diagnostic.
    * `pathGlob` may match many files; each is parsed independently with
    * the given format hint ("auto" sniffs per file). */
  def readLogFiles(spark: SparkSession, pathGlob: String,
      format: String = "auto"): DataFrame = {
    import spark.implicits._
    val files = spark.read.option("wholetext", "true").text(pathGlob)
      .select(input_file_name().as("log_file"), col("value"))
      .as[(String, String)]
    val parsed = files.flatMap { case (file, content) =>
      FormatRegistry.parse(content, format).map(e => (file, e))
    }.toDF("log_file", "e")
    finish(parsed.select(col("log_file"), col("e.*")))
  }

  /** S5: parse in-memory content (the `parse_duck_hunt_log(content, fmt)`
    * scalar-ish table function). Driver-side parse — content is one log. */
  def parseContent(spark: SparkSession, content: String,
      format: String = "auto"): DataFrame = {
    import spark.implicits._
    finish(FormatRegistry.parse(content, format).toDS().toDF())
  }
}
