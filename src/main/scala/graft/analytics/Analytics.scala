package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.store.EventStore
import graft.views.Views

/** The reference's parameterized table-macro surface (F2, SURVEY.md
  * §2.10) as an engine facade: every `blq_*` table macro a reference
  * user calls becomes a Scala method returning a DataFrame.
  * Semantics mirror /root/reference/src/blq/schema.sql:41-388 and
  * bird_schema.sql:433-888 (behavior only; Spark-first construction).
  */
final class Analytics(store: EventStore) {

  private def flat: DataFrame = Views.eventsFlat(store)

  /** blq_errors(n): most recent error events (schema.sql:144-160). */
  def errors(limit: Int = 10): DataFrame =
    flat.filter(col("severity") === "error")
      .orderBy(col("started_at").desc, col("event_index").asc)
      .limit(limit)

  /** blq_warnings(n). */
  def warnings(limit: Int = 10): DataFrame =
    flat.filter(col("severity") === "warning")
      .orderBy(col("started_at").desc, col("event_index").asc)
      .limit(limit)

  /** blq_history(n): recent runs, newest first (schema.sql:246-258). */
  def history(limit: Int = 20): DataFrame =
    Views.runs(store)
      .orderBy(col("started_at").desc, col("invocation_id").desc)
      .limit(limit)

  /** blq_summary(): per-tool/category rollup, noisy rows only
    * (schema.sql:193-220). */
  def summary(): DataFrame =
    flat.groupBy(col("tool_name"), col("category"))
      .agg(
        count(lit(1)).as("total"),
        count(when(col("severity") === "error", 1)).as("errors"),
        count(when(col("severity") === "warning", 1)).as("warnings"))
      .filter(col("errors") > 0 || col("warnings") > 0)
      .orderBy(col("errors").desc, col("warnings").desc, col("tool_name"))

  /** blq_diff(r1, r2): per-tool/category error-count delta between two
    * runs — FULL OUTER + coalesce both sides, delta ≠ 0
    * (schema.sql:261-283). Run args are run_serial values. */
  def diff(serial1: Long, serial2: Long): DataFrame = {
    def side(serial: Long, as: String) =
      flat.filter(col("run_serial") === serial && col("severity") === "error")
        .groupBy(col("tool_name"), col("category"))
        .agg(count(lit(1)).as(as))
    side(serial1, "errors_1").join(side(serial2, "errors_2"),
        Seq("tool_name", "category"), "full_outer")
      .select(col("tool_name"), col("category"),
        coalesce(col("errors_1"), lit(0L)).as("errors_1"),
        coalesce(col("errors_2"), lit(0L)).as("errors_2"),
        (coalesce(col("errors_2"), lit(0L)) - coalesce(col("errors_1"), lit(0L))).as("delta"))
      .filter(col("delta") =!= 0)
      .orderBy(abs(col("delta")).desc, col("tool_name"), col("category"))
  }

  /** Fingerprint set algebra between two runs (J10/U2;
    * services/query.py:380-412): status ∈ fixed (only in r1), new
    * (only in r2), unchanged (both). One aggregation on the dedup key
    * over both runs' errors, each fingerprint flagged by the runs it
    * occurs in — one shuffle, never a collect. */
  def fingerprintDiff(serial1: Long, serial2: Long): DataFrame =
    flat.filter(col("run_serial").isin(serial1, serial2) &&
        col("severity") === "error" && col("fingerprint").isNotNull)
      .groupBy(col("fingerprint"))
      .agg(max(col("run_serial") === serial1).as("in1"),
        max(col("run_serial") === serial2).as("in2"))
      .select(col("fingerprint"),
        when(!col("in2"), "fixed").when(!col("in1"), "new")
          .otherwise("unchanged").as("status"))

  /** Fingerprint history with regression detection (events.py:585-648
    * semantics): per fingerprint — first/last seen, occurrence count,
    * and is_regression = a gap > 1 in the sequence of run_serials where
    * it occurs (it was fixed, then came back). The reference computes
    * this per event in a Python loop; here one lag-window pass covers
    * every fingerprint in the store. */
  def fingerprintHistory(): DataFrame = {
    val occ = flat.filter(col("fingerprint").isNotNull)
      .groupBy(col("fingerprint"), col("run_serial"))
      .agg(min(col("event_timestamp")).as("first_ts"),
        max(col("event_timestamp")).as("last_ts"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("run_serial"))
    occ.withColumn("prev_serial", lag(col("run_serial"), 1).over(w))
      .groupBy(col("fingerprint"))
      .agg(
        min(col("first_ts")).as("first_seen"),
        max(col("last_ts")).as("last_seen"),
        min(col("run_serial")).as("first_run"),
        max(col("run_serial")).as("last_run"),
        sum(col("n_events")).as("occurrences"),
        max(when(col("run_serial") - col("prev_serial") > 1, 1).otherwise(0))
          .cast("boolean").as("is_regression"))
  }

  /** New-error regression check for CI (ci_cmd.py:161-178): error
    * events in `serial` whose fingerprint never appeared in any earlier
    * run — a left-anti join against the fingerprint history. */
  def newErrors(serial: Long): DataFrame = {
    // fingerprint-less errors are excluded outright (reference builds
    // its fp sets from truthy fingerprints only, ci_cmd.py:163-171) —
    // a NULL key never matches an anti-join, so without this filter
    // such events would be reported "new" on every run forever.
    val current = flat.filter(col("run_serial") === serial &&
      col("severity") === "error" && col("fingerprint").isNotNull)
    val past = flat.filter(col("run_serial") < serial && col("fingerprint").isNotNull)
      .select(col("fingerprint")).distinct()
    current.join(past, Seq("fingerprint"), "left_anti")
  }

  /** All events of one run, with partition pruning: the run's date is
    * resolved from the tiny invocations dimension first, so the events
    * scan prunes to one `date=` partition before filtering on
    * invocation_id. This is the facade form of SURVEY §4's candidate
    * run_serial→date optimizer Rule — same pruning, no Catalyst
    * internals to maintain (the reference gets this via an ART index,
    * bird_schema.sql:259-279). */
  def eventsForRun(serial: Long): DataFrame = {
    val s = store.snapshot
    val run = s.invocations.filter(col("run_serial") === serial)
      .select(col("id"), col("date")).collect()
    run.headOption match {
      case None => s.events.limit(0)
      case Some(r) => eventsForRun(r.getString(0), r.getDate(1))
    }
  }

  /** All events of the run `invocationId`, whose invocation row has
    * partition `date`: for a caller that has already resolved the run. */
  def eventsForRun(invocationId: String, date: java.sql.Date): DataFrame =
    store.events
      .filter(col("date") === date)                   // partition prune
      .filter(col("invocation_id") === invocationId)

  /** The service-level parameterized event query (services/query.py:
    * 233-326 semantics): severity IN-list (P6), fingerprint
    * suppression (P7), file pattern (P8), optional run scope, recency
    * limit. One method = the reference's query_events service. */
  def queryEvents(
      severities: Seq[String] = Seq.empty,
      suppressFingerprints: Seq[String] = Seq.empty,
      filePattern: Option[String] = None,
      runSerial: Option[Long] = None,
      limit: Int = 100): DataFrame = {
    var df = flat
    if (severities.nonEmpty)
      df = df.filter(col("severity").isin(severities: _*))
    if (suppressFingerprints.nonEmpty)
      df = df.filter(col("fingerprint").isNull ||
        !col("fingerprint").isin(suppressFingerprints: _*))
    // SQL LIKE semantics, matching the reference's documented contract
    // ("ref_file LIKE ?", e.g. '%main%'; services/query.py:303) — a
    // substring contains() would treat the '%' wildcards literally.
    filePattern.foreach(p => df = df.filter(col("ref_file").like(p)))
    runSerial.foreach(s => df = df.filter(col("run_serial") === s))
    df.orderBy(col("started_at").desc, col("event_index").asc).limit(limit)
  }

  /** Errors-by-file top-N (A12; report_cmd.py:92-102). */
  def errorsByFile(limit: Int = 10): DataFrame =
    flat.filter(col("severity") === "error" && col("ref_file").isNotNull)
      .groupBy(col("ref_file")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ref_file")).limit(limit)

  /** Latest run per source with pending attempts (U1+W2). */
  def sourceStatus(): DataFrame = Views.sourceStatus(store)

  /** Markdown report (report_cmd.py behavior): status board, noisy
    * tool/category rollup, hot files, recent history — the same
    * relations the CLI report renders, composed through Formatters. */
  def report(historyLimit: Int = 10, fileLimit: Int = 10): String = {
    // render limits are explicit: Formatters.markdown defaults to 20
    // rows, which would silently truncate a wide status board or a
    // history limit above 20
    val sections = Seq(
      ("## Source status", sourceStatus(), 1000),
      ("## Tool summary (errors/warnings)", summary(), 1000),
      (s"## Hot files (top $fileLimit)", errorsByFile(fileLimit), fileLimit),
      (s"## Recent runs (last $historyLimit)", history(historyLimit)
        .select(col("run_serial"), col("source_name"), col("started_at"),
          col("status_badge"), col("errors"), col("warnings")), historyLimit))
    sections.map { case (title, df, n) =>
      title + "\n\n" + graft.api.Formatters.markdown(df, n)
    }.mkString("# Build log report\n\n", "\n\n", "\n")
  }
}

/** Content-addressed line operators (blq_read_lines /
  * blq_search_lines; bird_schema.sql:771-850) — line selection, marks,
  * grep-with-context over a text blob. Stateless, so usable on any
  * string column via the same building blocks. */
object Lines {

  /** Split content into a (line_number, line) frame (1-based). */
  def lineFrame(spark: SparkSession, content: String): DataFrame = {
    import spark.implicits._
    content.split("\n", -1).toSeq.zipWithIndex
      .map { case (l, i) => (i + 1, l.stripLineEnd) }
      .toDF("line_number", "line")
  }

  /** Line-spec grammar (read_lines extension semantics):
    * `"42"` single line; `"42 +/-5"` window around; `"100-200"`
    * inclusive range; `"10-"` to end; `"-20"` from start. Returns
    * (lo, hi) with Int.MaxValue = open end. */
  def parseSpec(spec: String): (Int, Int) = {
    val s = spec.trim
    val around = """^(\d+)\s*\+/-\s*(\d+)$""".r
    val range = """^(\d+)\s*-\s*(\d+)$""".r
    val from = """^\+?(\d+)\s*-$""".r
    val upTo = """^-\s*(\d+)$""".r
    val single = """^(\d+)$""".r
    // saturating parse: a generated ref can exceed Int range, and the
    // contract is the total fallback window, never a NumberFormat
    // crash or a wrapped-negative bound
    def num(x: String): Int =
      x.toLongOption.map(v => math.min(v, Int.MaxValue.toLong).toInt)
        .getOrElse(Int.MaxValue)
    def plus(a: Int, b: Int): Int = {
      val v = a.toLong + b.toLong
      math.min(v, Int.MaxValue.toLong).toInt
    }
    s match {
      case around(n, d) => (math.max(1, num(n) - num(d)), plus(num(n), num(d)))
      case range(a, b)  => (num(a), num(b))
      case from(a)      => (num(a), Int.MaxValue)
      case upTo(b)      => (1, num(b))
      case single(n)    => (num(n), num(n))
      case _            => (1, Int.MaxValue)
    }
  }

  /** blq_read_lines(content, spec, marks): selected lines with the
    * first matching mark attached (non-equi range join J8 — broadcast
    * BNL at this cardinality, exactly right). */
  def readLines(spark: SparkSession, content: String, spec: String,
      marks: Seq[(Int, Int, String)] = Seq.empty): DataFrame = {
    import spark.implicits._
    val (lo, hi) = parseSpec(spec)
    val lines = lineFrame(spark, content)
      .filter(col("line_number") >= lo && col("line_number") <= hi)
    if (marks.isEmpty) lines.withColumn("mark", lit(""))
      .orderBy(col("line_number"))
    else {
      val m = marks.toDF("start", "end", "mark_s")
      lines.join(broadcast(m),
          col("line_number") >= col("start") && col("line_number") <= col("end"),
          "left")
        .groupBy(col("line_number"), col("line"))
        // deterministic under overlapping marks: the (start, end, mark)
        // struct-min picks the earliest/narrowest mark, where first()
        // would return whichever row the shuffle happened to deliver
        .agg(coalesce(
          min(when(col("mark_s").isNotNull,
            struct(col("start"), col("end"), col("mark_s")))).getField("mark_s"),
          lit("")).as("mark"))
        .orderBy(col("line_number"))
    }
  }

  /** blq_search_lines(content, pattern, ctx, ci): matching lines plus
    * ±ctx context — the window-frame form (rowsBetween) of the
    * reference's EXISTS-BETWEEN join, which is the shape that scales. */
  def searchLines(spark: SparkSession, content: String, pattern: String,
      ctx: Int = 0, caseInsensitive: Boolean = true): DataFrame = {
    val pat = if (caseInsensitive) s"(?i)$pattern" else pattern
    val w = Window.orderBy(col("line_number")).rowsBetween(-ctx, ctx)
    lineFrame(spark, content)
      .withColumn("is_match", col("line").rlike(pat))
      .withColumn("near", max(col("is_match").cast("int")).over(w))
      .filter(col("near") === 1)
      .select(col("line_number"), col("line"), col("is_match"))
      .orderBy(col("line_number"))
  }
}
