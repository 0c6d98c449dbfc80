package graft.exec

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}
import java.util.UUID
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.BlqFunctions
import graft.model._
import graft.parse.FormatRegistry
import graft.store.{BlobStore, EventStore}

/** Command execution source (S7/S8, SURVEY.md §2.1; reference
  * execution.py:232-611 behavior): run a subprocess, stream combined
  * output to a live file, then parse → fingerprint → append the full
  * attempt/outcome/invocation/events lifecycle to the store and the
  * captured output to the blob store.
  *
  * Driver-side by design — the measured subprocess is inherently
  * local; only the parsed events enter Spark. The two-phase write
  * (attempt before outcome) preserves the reference's
  * status-from-absence semantics: a crash between the phases leaves a
  * pending attempt that Maintenance.reconcileOrphans later marks
  * orphaned.
  */
object Runner {
  final case class RunResult(
      invocationId: String,
      runSerial: Long,
      exitCode: Int,
      timedOut: Boolean,
      status: String, // OK | WARN | FAIL | TIMEOUT
      errors: Long,
      warnings: Long,
      durationMs: Long)
}

final class Runner(store: EventStore, blobs: BlobStore,
    sessionId: String = UUID.randomUUID().toString) {
  import Runner.RunResult

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())
  private def dateOf(ts: Timestamp) = new Date(ts.getTime)

  /** Live output directory for a running attempt (T2's tail target). */
  def liveDir(attemptId: String): Path = {
    val p = Paths.get(store.root, "live", attemptId)
    Files.createDirectories(p)
    p
  }

  /** Git/CI/env context for a run: the explicit override wins (tests,
    * synthetic fixtures), otherwise capture from the run's cwd — the
    * reference captures on EVERY run (record_cmd.py:99-100), so the
    * denormalized branch/commit/CI columns are never dead schema. */
  private def contextFor(cwd: Option[String],
      context: Option[ExecContext.Captured]): ExecContext.Captured =
    context.getOrElse(ExecContext.capture(cwd))

  def exec(command: Seq[String],
      tag: Option[String] = None,
      sourceName: Option[String] = None,
      formatHint: String = "auto",
      cwd: Option[String] = None,
      timeoutMs: Long = 600000L,
      context: Option[ExecContext.Captured] = None): RunResult = {
    val attemptId = UUID.randomUUID().toString
    val started = now()
    val cmdLine = command.mkString(" ")
    val hostname =
      try java.net.InetAddress.getLocalHost.getHostName catch { case _: Exception => "unknown" }
    val ctx = contextFor(cwd, context)

    // Phase 1: the attempt is visible BEFORE the outcome exists.
    store.appendAttempts(Seq(Attempt(
      id = attemptId, session_id = sessionId, timestamp = started,
      cwd = cwd, command = Some(cmdLine), executable = command.headOption,
      pid = None, format_hint = Some(formatHint), hostname = Some(hostname),
      username = sys.props.get("user.name"), tag = tag,
      source_name = sourceName, source_type = SourceType.Exec,
      git_commit = ctx.git.commit, git_branch = ctx.git.branch,
      git_dirty = ctx.git.dirty,
      environment = ctx.environment, ci = ctx.ci, date = dateOf(started))))

    // Run, streaming combined output to the live file.
    val live = liveDir(attemptId).resolve("output.log")
    val pb = new ProcessBuilder(command.asJava).redirectErrorStream(true)
    cwd.foreach(d => pb.directory(new java.io.File(d)))
    pb.redirectOutput(live.toFile)
    val t0 = System.nanoTime()
    val (exit, timedOut) =
      try {
        val proc = pb.start()
        if (proc.waitFor(timeoutMs, TimeUnit.MILLISECONDS)) (proc.exitValue(), false)
        else { proc.destroyForcibly(); proc.waitFor(); (-1, true) }
      } catch { case e: java.io.IOException => (127, false) }
    val durationMs = (System.nanoTime() - t0) / 1000000L
    val completed = now()
    val output =
      if (Files.exists(live)) new String(Files.readAllBytes(live), StandardCharsets.UTF_8)
      else ""

    // Phase 2: outcome, then the run commit.
    store.appendOutcomes(Seq(Outcome(
      attempt_id = attemptId, completed_at = completed,
      duration_ms = Some(durationMs), exit_code = Some(exit), signal = None,
      timeout = timedOut, date = dateOf(completed))))

    val hint =
      if (formatHint != "auto") formatHint
      else FormatRegistry.detectFormatFromCommand(cmdLine)
    val parsed = FormatRegistry.parse(output, hint)
    val inv = invocation(attemptId, started, ctx, sourceName,
      SourceType.Exec, tag, Some(cmdLine)).copy(
      cwd = cwd, executable_path = command.headOption,
      duration_ms = Some(durationMs), exit_code = Some(exit),
      hostname = Some(hostname),
      platform = Some(sys.props.getOrElse("os.name", "unknown")),
      arch = Some(sys.props.getOrElse("os.arch", "unknown")))
    commit(inv, eventFrame(attemptId, started, parsed), tally(parsed),
      Some(output), durationMs, timedOut)
  }

  /** Import existing content as a completed run without a subprocess
    * (S7: file import / stdin capture; execution.py:1562-1628). */
  def importContent(content: String, format: String = "auto",
      tag: Option[String] = None, sourceName: Option[String] = None,
      sourceType: String = SourceType.Import,
      context: Option[ExecContext.Captured] = None): RunResult = {
    val id = UUID.randomUUID().toString
    val started = now()
    val parsed = FormatRegistry.parse(content, format)
    commit(invocation(id, started, contextFor(None, context), sourceName,
        sourceType, tag, command = None),
      eventFrame(id, started, parsed), tally(parsed), Some(content), 0L)
  }

  /** Distributed bulk ingest (S4 at scale): a directory/glob of log
    * files parsed and appended in ONE Spark job — wholetext scan (one
    * task per file) → executor-side parse → fingerprint → aligned
    * append. Nothing but the error/warning tallies ever reaches the
    * driver; contrast [[importContent]], which is the right tool for a
    * single captured blob. The batch is one invocation (source_type
    * "import", command = the glob); each event keeps its origin file in
    * metadata JSON (`{"log_file": …}`), queryable via json_extract.
    *
    * At 100 TB of logs this shape is embarrassingly parallel: no
    * shuffle anywhere — the only synchronization is the final count. */
  def importDirectory(pathGlob: String, format: String = "auto",
      tag: Option[String] = None,
      context: Option[ExecContext.Captured] = None): RunResult = {
    val id = UUID.randomUUID().toString
    val started = now()
    val parsed = graft.parse.LogSource.readLogFiles(store.spark, pathGlob, format)
      .withColumn("id", expr("uuid()"))
      .withColumn("invocation_id", lit(id))
      .withColumn("timestamp", lit(started))
      .withColumn("context", lit(null).cast("string"))
      .withColumn("metadata", to_json(struct(col("log_file"))))
      .withColumn("date", lit(dateOf(started)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tallies = parsed.agg(
        count(when(col("severity") === Severity.Error, 1)).as("e"),
        count(when(col("severity") === Severity.Warning, 1)).as("w"))
        .head()
      commit(invocation(id, started, contextFor(None, context), Some(pathGlob),
          SourceType.Import, tag, Some(s"import $pathGlob")),
        Some(parsed), (tallies.getLong(0), tallies.getLong(1)), output = None,
        System.currentTimeMillis() - started.getTime)
    } finally parsed.unpersist()
  }

  /** A run's invocation row, minus what only a subprocess knows (cwd,
    * executable, duration, exit code, host) and the run serial, which
    * [[commit]] assigns. */
  private def invocation(id: String, started: Timestamp,
      ctx: ExecContext.Captured, sourceName: Option[String],
      sourceType: String, tag: Option[String],
      command: Option[String]): Invocation =
    Invocation(
      id = id, run_serial = 0L, session_id = sessionId,
      source_name = sourceName, source_type = sourceType, tag = tag,
      command = command, cwd = None, executable_path = None,
      started_at = started, duration_ms = None, exit_code = None,
      hostname = None, platform = None, arch = None,
      git_commit = ctx.git.commit, git_branch = ctx.git.branch,
      git_dirty = ctx.git.dirty,
      environment = ctx.environment, ci = ctx.ci, metadata = None,
      date = dateOf(started))

  /** The one run-commit step: assign the serial, store the captured
    * output's body in the blob store, commit events + output row +
    * invocation through [[EventStore.commitRun]], and derive the run's
    * status from its exit code and (errors, warnings) tally. An import
    * has no exit code; it gets a synthetic one mirroring the tally.
    * `durationMs` is read after the commit (a bulk import reports its
    * wall time including the write). */
  private def commit(inv: Invocation, events: Option[DataFrame],
      tally: (Long, Long), output: Option[String], durationMs: => Long,
      timedOut: Boolean = false): RunResult = {
    val (errors, warnings) = tally
    val exit = inv.exit_code.getOrElse(if (errors > 0) 1 else 0)
    val serial = store.nextRunSerial()
    store.commitRun(inv.copy(run_serial = serial, exit_code = Some(exit)),
      events, output.map(outputRow(inv.id, inv.started_at, _)).toSeq)
    val status =
      if (timedOut) "TIMEOUT"
      else if (exit != 0 || errors > 0) "FAIL"
      else if (warnings > 0) "WARN"
      else "OK"
    RunResult(inv.id, serial, exit, timedOut, status, errors, warnings, durationMs)
  }

  private def tally(parsed: Seq[graft.parse.ParsedEvent]): (Long, Long) =
    (parsed.count(_.severity == Severity.Error).toLong,
      parsed.count(_.severity == Severity.Warning).toLong)

  /** Captured output: the body goes to the content-addressed blob
    * store (or inline); the returned metadata row is the outputs-table
    * join target for blob orphan reconciliation (J7). */
  private def outputRow(invocationId: String, started: Timestamp,
      content: String): Output = {
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    val (storageType, storageRef, hash) = blobs.store(bytes)
    Output(
      id = UUID.randomUUID().toString, invocation_id = invocationId,
      stream = "combined", content_hash = Some(hash),
      byte_length = bytes.length.toLong, storage_type = storageType,
      storage_ref = storageRef, content_type = Some("text/plain"),
      date = dateOf(started))
  }

  /** Parsed events → fingerprinted event rows; None when nothing parsed. */
  private def eventFrame(invocationId: String, started: Timestamp,
      parsed: Seq[graft.parse.ParsedEvent]): Option[DataFrame] =
    Option.when(parsed.nonEmpty) {
      val spark = store.spark
      import spark.implicits._
      parsed.toDS().toDF()
        .withColumn("id", expr("uuid()"))
        .withColumn("invocation_id", lit(invocationId))
        .withColumn("timestamp", lit(started))
        .withColumn("fingerprint",
          when(col("severity").isin("error", "warning", "test_fail"),
            BlqFunctions.fingerprint(col("tool_name"), col("category"),
              col("code"), col("ref_file"), col("message"))))
        .withColumn("context", lit(null).cast("string"))
        .withColumn("metadata", lit(null).cast("string"))
        .withColumn("date", lit(dateOf(started)))
    }
}
