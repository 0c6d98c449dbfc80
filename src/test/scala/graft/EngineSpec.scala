package graft

import java.sql.{Date, Timestamp}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model._
import graft.store.EventStore
import graft.views.Views
import graft.functions.BlqFunctions._

object Fixtures {
  val d1: Date = Date.valueOf("2026-08-01")
  val d2: Date = Date.valueOf("2026-08-02")

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def inv(id: String, serial: Long, tag: Option[String], started: String,
      exit: Option[Int], source: String = "build", date: Date = d1): Invocation =
    Invocation(id = id, run_serial = serial, session_id = "sess1",
      source_name = Some(source), source_type = SourceType.Run, tag = tag,
      command = Some("make all"), cwd = Some("/proj"),
      executable_path = Some("/usr/bin/make"), started_at = ts(started),
      duration_ms = Some(1500L), exit_code = exit, hostname = Some("host1"),
      platform = Some("linux"), arch = Some("x86_64"),
      git_commit = Some("abc123"), git_branch = Some("main"),
      git_dirty = Some(false), environment = Some(Map("CC" -> "gcc")),
      ci = None, metadata = None, date = date)

  def ev(id: String, invId: String, idx: Long, sev: String, msg: String,
      file: Option[String] = None, line: Option[Int] = None,
      fp: Option[String] = None, date: Date = d1): Event =
    Event(id = id, invocation_id = invId, event_index = idx,
      timestamp = ts("2026-08-01 10:00:00"), severity = sev,
      message = Some(msg), raw_text = Some(msg), tool_name = Some("gcc"),
      category = Some("compile"), code = None, rule = None, test_name = None,
      ref_file = file, ref_line = line, ref_column = None, fingerprint = fp,
      log_line_start = Some(1), log_line_end = Some(1), context = None,
      metadata = None, date = date)

  /** Two runs with overlapping fingerprints (diff scenario, FIXTURES.md §4)
    * + a pending attempt. */
  def populate(store: EventStore): Unit = {
    store.commitRun(
      inv("i1", 1L, Some("build"), "2026-08-01 10:00:00", Some(1)),
      EventStore.EventFrame(store.spark.createDataFrame(Seq(
        ev("e1", "i1", 0, Severity.Error, "undefined reference to `foo`",
          Some("src/main.c"), Some(15), Some("gcc_compile_f1")),
        ev("e2", "i1", 1, Severity.Error, "expected ';' before '}'",
          Some("src/util.c"), Some(3), Some("gcc_compile_f2")),
        ev("e3", "i1", 2, Severity.Warning, "unused variable 'x'",
          Some("src/main.c"), Some(20), Some("gcc_compile_f3"))))))
    store.commitRun(
      inv("i2", 2L, Some("build"), "2026-08-02 11:00:00", Some(1), date = d2),
      EventStore.EventFrame(store.spark.createDataFrame(Seq(
        ev("e4", "i2", 0, Severity.Error, "expected ';' before '}'",
          Some("src/util.c"), Some(3), Some("gcc_compile_f2"), date = d2),
        ev("e5", "i2", 1, Severity.Error, "implicit declaration of `bar`",
          Some("src/new.c"), Some(7), Some("gcc_compile_f4"), date = d2)))))
    store.commitRun(
      inv("i3", 3L, None, "2026-08-02 12:00:00", Some(0), source = "test", date = d2))
    store.appendAttempts(Seq(
      Attempt("a1", "sess1", ts("2026-08-01 10:00:00"), Some("/proj"),
        Some("make all"), Some("/usr/bin/make"), Some(100), None,
        Some("host1"), Some("u"), Some("build"), Some("build"),
        SourceType.Run, None, None, None, None, None, d1),
      Attempt("a2", "sess1", ts("2026-08-02 12:30:00"), Some("/proj"),
        Some("pytest"), Some("/usr/bin/pytest"), Some(200), None,
        Some("host1"), Some("u"), None, Some("lint"),
        SourceType.Run, None, None, None, None, None, d2)))
    store.appendOutcomes(Seq(
      Outcome("a1", ts("2026-08-01 10:00:02"), Some(1500L), Some(1),
        None, timeout = false, d1)))
  }
}

class EngineSpec extends SparkSpec {
  lazy val store: EventStore = {
    val dir = Files.createTempDirectory("graft-store").toString
    val st = new EventStore(spark, dir)
    Fixtures.populate(st)
    st
  }

  test("store round-trips runs and events through partitioned parquet") {
    assert(store.invocations.count() === 3)
    assert(store.events.count() === 5)
    // partition layout on disk: date=… directories
    val dirs = new java.io.File(s"${store.root}/events").list().toSeq
    assert(dirs.exists(_.startsWith("date=")))
  }

  test("nextRunSerial continues from persisted max") {
    assert(store.nextRunSerial() === 4L)
  }

  test("eventsFlat joins run context and builds refs") {
    val flat = Views.eventsFlat(store)
    assert(flat.count() === 5)
    val row = flat.filter(col("id") === "e1")
      .select("ref", "run_ref", "command", "location").collect().head
    assert(row.getString(0) === "build:1:0")
    assert(row.getString(1) === "build:1")
    assert(row.getString(2) === "make all")
    assert(row.getString(3) === "src/main.c:15")
  }

  test("runs rollup counts severities and badges status") {
    val r = Views.runs(store).orderBy("run_serial").collect()
    assert(r.length === 3)
    val r1 = Views.runs(store).filter(col("run_serial") === 1)
      .select("errors", "warnings", "event_count", "status_badge").collect().head
    assert(r1.getLong(0) === 2L && r1.getLong(1) === 1L && r1.getLong(2) === 3L)
    assert(r1.getString(3) === "[FAIL]")
    val r3 = Views.runs(store).filter(col("run_serial") === 3)
      .select("event_count", "status_badge").collect().head
    assert(r3.getLong(0) === 0L && r3.getString(1) === "[ OK ]")
  }

  test("attemptStatus derives pending/failed from outcome presence") {
    val st = Views.attemptStatus(store)
      .select("id", "status").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(st("a1") === "failed")
    assert(st("a2") === "pending")
  }

  test("sourceStatus unions latest runs with pending attempts") {
    val board = Views.sourceStatus(store)
      .select("source_name", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(board("build") === "[FAIL]")
    assert(board("test") === "[ OK ]")
    assert(board("lint") === "[....]")
  }

  test("recency view prunes by partition column") {
    val recent = Views.eventsRecent(store, days = 14)
    // fixture dates are 2026-08-01/02; days=14 from today (2026-08) may
    // or may not include them — just assert the filter targets `date`.
    val plan = recent.queryExecution.optimizedPlan.toString
    assert(plan.contains("date"))
  }

  test("scalar helpers: parse_ref, short_fp, age") {
    import spark.implicits._
    val df = Seq(("5:3", "gcc_compile_deadbeefcafe", 93_784_000L))
      .toDF("ref", "fp", "ms")
    val row = df.select(
      blqParseRef(col("ref")).as("p"),
      blqShortFp(col("fp")).as("s"),
      formatAge(col("ms")).as("age")).collect().head
    val p = row.getStruct(0)
    assert(p.getInt(0) === 5 && p.getInt(1) === 3)
    assert(row.getString(1) === "gcc_deadbeef")
    assert(row.getString(2) === "1d 2h")
  }

  test("fingerprint normalizes digits so same error template collapses") {
    import spark.implicits._
    val df = Seq(
      ("gcc", "compile", "src/a.c", "buffer overflow at line 42"),
      ("gcc", "compile", "src/a.c", "buffer overflow at line 97"),
      ("gcc", "compile", "src/b.c", "buffer overflow at line 42"))
      .toDF("tool", "cat", "file", "msg")
    val fps = df.select(fingerprint(col("tool"), col("cat"), lit(null),
      col("file"), col("msg")).as("fp")).collect().map(_.getString(0))
    assert(fps(0) === fps(1))  // same file+template → same fp
    assert(fps(0) !== fps(2))  // different file → different fp
    assert(fps(0).startsWith("gcc_compile_"))
  }

  test("sql surface: registered views queryable") {
    Views.registerAll(store)
    val n = spark.sql(
      "SELECT count(*) FROM blq_events WHERE severity = 'error'")
      .collect().head.getLong(0)
    assert(n === 4L)
  }

  test("sql surface: views see runs appended AFTER registration") {
    // regression: temp views hold LogicalRelations whose file index
    // snapshots the listing at creation — without the append-path
    // refreshByPath, post-registration runs were invisible to sql()
    // while the Scala facade saw them
    val root = java.nio.file.Files.createTempDirectory("fresh_store").toString
    val s2 = new graft.store.EventStore(spark, root)
    s2.commitRun(Fixtures.inv("fa", 1L, Some("t"), "2026-08-01 10:00:00", Some(0)),
      EventStore.EventFrame(spark.createDataFrame(Seq(Fixtures.ev("fe1", "fa", 0, "error", "one")))))
    Views.registerAll(s2)
    assert(spark.sql("SELECT count(*) FROM events_raw").head().getLong(0) === 1L)
    s2.commitRun(Fixtures.inv("fb", 2L, Some("t"), "2026-08-01 11:00:00", Some(1)),
      EventStore.EventFrame(spark.createDataFrame(Seq(Fixtures.ev("fe2", "fb", 0, "error", "two"),
        Fixtures.ev("fe3", "fb", 1, "warning", "three")))))
    assert(spark.sql("SELECT count(*) FROM events_raw").head().getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM blq_events").head().getLong(0) === 3L)
    // a Runner commit (events + output row + invocation, one refresh)
    // reaches the derived and output views too, not only the event ones
    val r = new graft.exec.Runner(s2, new graft.store.BlobStore(s"$root/blobs"))
      .importContent("src/x.c:1:1: error: four\n", format = "gcc_text")
    def one(q: String): Long = spark.sql(q).head().getLong(0)
    assert(one("SELECT count(*) FROM blq_runs") === 3L)
    assert(one(s"SELECT errors FROM blq_runs WHERE invocation_id = '${r.invocationId}'") === 1L)
    assert(one(s"SELECT count(*) FROM outputs WHERE invocation_id = '${r.invocationId}'") === 1L)
    assert(one("SELECT count(*) FROM events_raw") === 4L)
  }

  test("sql surface: registration reads each table once") {
    val root = Files.createTempDirectory("reg_store").toString
    val s = new EventStore(spark, root)
    Fixtures.populate(s)
    new graft.exec.Runner(s, new graft.store.BlobStore(s"$root/blobs"))
      .importContent("captured output\n")
    for (t <- Seq("events", "invocations", "attempts", "outcomes", "outputs"))
      assert(new java.io.File(s"$root/$t").isDirectory, s"$t missing")
    // declared-schema reads of the current snapshot: no schema-merge
    // job per table, and the blq_* views are derived from those frames
    val jobs = jobsFor(Views.registerAll(s))
    assert(jobs == 0, s"view registration ran $jobs jobs")
  }

  test("store relations: building each of the five runs no Spark job") {
    val root = Files.createTempDirectory("decl_store").toString
    Fixtures.populate(new EventStore(spark, root))
    new graft.exec.Runner(new EventStore(spark, root),
      new graft.store.BlobStore(s"$root/blobs")).importContent("captured output\n")
    // a fresh store on the populated root: its first snapshot is read
    // from disk with the declared model schemas, not schema-merged
    val s = new EventStore(spark, root)
    val built = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "events" -> (() => s.events), "invocations" -> (() => s.invocations),
      "attempts" -> (() => s.attempts), "outcomes" -> (() => s.outcomes),
      "outputs" -> (() => s.outputs))
    for ((t, rel) <- built) {
      var df: org.apache.spark.sql.DataFrame = null
      val jobs = jobsFor { df = rel() }
      assert(jobs == 0, s"building $t ran $jobs jobs")
      assert(df.columns.last === "date", t)
    }
    assert(s.events.count() === 5 && s.invocations.count() === 4)
    assert(s.outputs.count() === 1 && s.attempts.count() === 2)
    // the declared schema is the model's, whatever the files carry
    assert(s.events.schema.fieldNames.toSeq ===
      org.apache.spark.sql.Encoders.product[Event].schema.fieldNames.toSeq)
  }
}
