package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.Analytics
import graft.api.{Formatters, LogQuery, RefResolver}
import graft.exec.Runner
import graft.plans.ParseLog
import graft.store.{BlobStore, EventStore, Maintenance}
import graft.views.Views

/** The engine facade — everything a user of the reference CLI/API uses,
  * on one object (SURVEY.md §3 entry points):
  *
  * {{{
  *   val g = GraftEngine(spark, "/data/bird")
  *   g.exec(Seq("make", "all"), tag = Some("build"))   // run + store
  *   g.importLog("/tmp/build.log")                      // ingest a file
  *   g.errors(10).show()                                // recent errors
  *   g.sql("SELECT * FROM blq_events WHERE severity = 'error'")
  *   g.query.filter("severity" -> "error").limit(5).df()
  *   g.diff(1, 2)                                       // run delta
  * }}}
  */
final class GraftEngine private (val spark: SparkSession, val root: String) {

  val store = new EventStore(spark, root)
  val blobs = new BlobStore(s"$root/blobs")
  val analytics = new Analytics(store)
  val maintenance = new Maintenance(store)
  private val runner = new Runner(store, blobs)

  /** Register SQL views + the parse_log function on this session. */
  def install(): GraftEngine = {
    Views.registerAll(store)
    ParseLog.register(spark)
    this
  }

  // ---- write path ------------------------------------------------------

  /** Run a command; capture, parse, store (S8). */
  def exec(command: Seq[String], tag: Option[String] = None,
      sourceName: Option[String] = None, formatHint: String = "auto",
      timeoutMs: Long = 600000L): Runner.RunResult =
    runner.exec(command, tag, sourceName, formatHint, timeoutMs = timeoutMs)

  /** Import an existing log file as a run (S7). */
  def importLog(path: String, format: String = "auto",
      tag: Option[String] = None): Long = {
    val content = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    importContent(content, format, tag, sourceName = Some(path))
  }

  /** Import captured content (stdin capture path). Returns run serial. */
  def importContent(content: String, format: String = "auto",
      tag: Option[String] = None, sourceName: Option[String] = None): Long =
    runner.importContent(content, format, tag, sourceName).runSerial

  /** Bulk ingest a directory/glob of log files as one distributed job
    * (see [[graft.exec.Runner.importDirectory]]). */
  def importDirectory(pathGlob: String, format: String = "auto",
      tag: Option[String] = None): Runner.RunResult =
    runner.importDirectory(pathGlob, format, tag)

  // ---- read path -------------------------------------------------------

  def events: DataFrame = Views.eventsFlat(store)
  def runs: DataFrame = Views.runs(store)
  def errors(n: Int = 10): DataFrame = analytics.errors(n)
  def warnings(n: Int = 10): DataFrame = analytics.warnings(n)
  def history(n: Int = 20): DataFrame = analytics.history(n)
  def summary(): DataFrame = analytics.summary()
  def status(): DataFrame = analytics.sourceStatus()
  def diff(r1: Long, r2: Long): DataFrame = analytics.diff(r1, r2)
  def run(ref: String): DataFrame = RefResolver.resolveRun(runs, ref)
  def query: LogQuery = LogQuery(events)

  /** Captured output body of a run (O5 head/tail source). */
  def output(invocationId: String): Option[String] =
    store.outputs
      .filter(org.apache.spark.sql.functions.col("invocation_id") === invocationId)
      .select("storage_type", "storage_ref")
      .collect().headOption
      .map(r => blobs.loadString(r.getString(0), r.getString(1)))

  /** Line-selected view of a run's output (`"42 +/-5"` specs etc. —
    * the MCP output(lines=…) surface). */
  def outputLines(invocationId: String, spec: String): DataFrame = {
    val body = output(invocationId).getOrElse("")
    graft.analytics.Lines.readLines(spark, body, spec)
  }

  /** Grep-with-context over a run's output (MCP output(grep=…)). */
  def grepOutput(invocationId: String, pattern: String, ctx: Int = 2): DataFrame = {
    val body = output(invocationId).getOrElse("")
    graft.analytics.Lines.searchLines(spark, body, pattern, ctx)
  }
  def sql(q: String): DataFrame = { install(); spark.sql(q) }

  /** Render helpers (S12). */
  def show(df: DataFrame, limit: Int = 20): String = Formatters.table(df, limit)
}

object GraftEngine {
  def apply(spark: SparkSession, root: String): GraftEngine =
    new GraftEngine(spark, root).install()
}
