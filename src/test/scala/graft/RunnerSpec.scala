package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.exec.{ExecContext, Runner}
import graft.store.{BlobStore, EventStore}
import graft.views.Views

/** End-to-end command execution → parse → store lifecycle (S7/S8). */
class RunnerSpec extends SparkSpec {

  private def mkRunner(): (Runner, EventStore) = {
    val root = Files.createTempDirectory("runner_store").toString
    val store = new EventStore(spark, root)
    (new Runner(store, new BlobStore(s"$root/blobs")), store)
  }

  test("exec: failing compile-style output round-trips to queryable events") {
    val (runner, store) = mkRunner()
    val script =
      "printf 'src/main.c:15:5: error: expected semicolon\\nsrc/util.c:3:1: warning: unused var\\n'; exit 1"
    val r = runner.exec(Seq("sh", "-c", script),
      tag = Some("build"), sourceName = Some("cc"), formatHint = "gcc_text")
    assert(r.exitCode === 1)
    assert(r.status === "FAIL")
    assert(r.errors === 1 && r.warnings === 1)

    // lifecycle rows all present and consistent
    assert(store.attempts.count() === 1)
    assert(store.outcomes.count() === 1)
    assert(store.invocations.count() === 1)
    val evs = store.events.orderBy(col("event_index")).collect()
    assert(evs.length === 2)
    assert(evs.head.getAs[String]("severity") === "error")
    assert(evs.head.getAs[String]("ref_file") === "src/main.c")
    assert(evs.head.getAs[String]("fingerprint") !== null)

    // visible through the analytics surface
    val flat = Views.eventsFlat(store)
    assert(flat.filter(col("severity") === "error").count() === 1)
    assert(flat.select(col("run_serial")).distinct().collect().head.getLong(0) === 1L)
  }

  test("exec: clean run is OK and serials increment") {
    val (runner, store) = mkRunner()
    val r1 = runner.exec(Seq("sh", "-c", "echo all good"))
    val r2 = runner.exec(Seq("sh", "-c", "echo still good"))
    assert(r1.status === "OK" && r2.status === "OK")
    assert(r1.runSerial === 1L && r2.runSerial === 2L)
    assert(store.events.count() === 0) // nothing parseable
    val status = Views.attemptStatus(store)
      .select(col("status")).distinct().collect().map(_.getString(0)).toSet
    assert(status === Set("ok"))
  }

  test("exec: command format hint dispatches the right parser") {
    val (runner, store) = mkRunner()
    val script = "printf 'a.py:1: error: bad type  [assignment]\\n'; exit 1"
    // command contains 'mypy' -> mypy_text hint
    val r = runner.exec(Seq("sh", "-c", s"true mypy; $script"))
    assert(r.errors === 1)
    val tool = store.events.select(col("tool_name")).collect().head.getString(0)
    assert(tool === "mypy")
  }

  test("exec: output row written; body retrievable; orphan blobs detected") {
    val root = Files.createTempDirectory("runner_out").toString
    val store = new EventStore(spark, root)
    val blobs = new BlobStore(s"$root/blobs", inlineThreshold = 16)
    val runner = new Runner(store, blobs)
    val r = runner.exec(Seq("sh", "-c", "printf 'a long enough output body here'"))
    val out = store.outputs.collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("invocation_id") === r.invocationId)
    assert(out.head.getAs[String]("storage_type") === "blob") // > 16 bytes
    // round-trip through the engine facade path
    val body = blobs.loadString(out.head.getAs[String]("storage_type"),
      out.head.getAs[String]("storage_ref"))
    assert(body === "a long enough output body here")
    // referenced blob is NOT an orphan; a planted one is
    val m = new graft.store.Maintenance(store)
    assert(m.orphanBlobs(blobs).isEmpty)
    val (_, _, orphanHash) = blobs.store(("x" * 100).getBytes)
    assert(m.orphanBlobs(blobs) === Seq(orphanHash))
  }

  test("exec: missing binary yields exit 127 FAIL, lifecycle intact") {
    val (runner, store) = mkRunner()
    val r = runner.exec(Seq("/nonexistent/binary_xyz"))
    assert(r.exitCode === 127)
    assert(r.status === "FAIL")
    assert(store.outcomes.count() === 1)
  }

  test("exec: real git context captured from the run's cwd") {
    val repo = Files.createTempDirectory("runner_git").toString
    def git(args: String*): Option[String] =
      ExecContext.runGit(Some(repo), 5000, args: _*)
    git("init", "-b", "trunk")
    Files.writeString(java.nio.file.Paths.get(repo, "hello.txt"), "hi\n")
    git("add", "hello.txt")
    git("-c", "user.email=t@example.com", "-c", "user.name=t",
      "commit", "-m", "initial")

    val (runner, store) = mkRunner()
    runner.exec(Seq("sh", "-c", "echo captured"), cwd = Some(repo))
    val inv = store.invocations.collect().head
    val commit = inv.getAs[String]("git_commit")
    assert(commit != null && commit.matches("[0-9a-f]{40}"))
    assert(inv.getAs[String]("git_branch") === "trunk")
    assert(inv.getAs[Boolean]("git_dirty") === false)
    // attempts carry the same denormalized context
    val att = store.attempts.collect().head
    assert(att.getAs[String]("git_commit") === commit)
    assert(att.getAs[String]("git_branch") === "trunk")
    // environment snapshot present (PATH/HOME exist in any test env)
    val env = att.getAs[Map[String, String]]("environment")
    assert(env != null && env.nonEmpty && env.keySet.subsetOf(
      ExecContext.DefaultCaptureEnv.toSet))

    // an untracked file flips dirty on the next run
    Files.writeString(java.nio.file.Paths.get(repo, "scratch.txt"), "wip\n")
    runner.exec(Seq("sh", "-c", "echo again"), cwd = Some(repo))
    val dirtyRun = store.invocations
      .orderBy(col("run_serial").desc).collect().head
    assert(dirtyRun.getAs[Boolean]("git_dirty") === true)
    assert(dirtyRun.getAs[String]("git_commit") === commit)
  }

  test("exec: non-repo cwd degrades to null git context, run still succeeds") {
    val plain = Files.createTempDirectory("runner_nogit").toString
    val (runner, store) = mkRunner()
    val r = runner.exec(Seq("sh", "-c", "echo fine"), cwd = Some(plain))
    assert(r.status === "OK")
    val inv = store.invocations.collect().head
    assert(inv.getAs[String]("git_commit") === null)
    assert(inv.getAs[String]("git_branch") === null)
  }

  test("ciContext: provider detection, short keys, generic fallback") {
    val gh = ExecContext.ciContext(Map(
      "GITHUB_ACTIONS" -> "true", "GITHUB_RUN_ID" -> "12345",
      "GITHUB_REF" -> "refs/heads/main", "IRRELEVANT" -> "x")).get
    assert(gh("provider") === "github")
    assert(gh("run_id") === "12345") // GITHUB_ prefix stripped, lowered
    assert(gh("ref") === "refs/heads/main")
    assert(!gh.contains("irrelevant"))

    val gl = ExecContext.ciContext(Map(
      "GITLAB_CI" -> "true", "CI_JOB_ID" -> "9", "GITLAB_USER_LOGIN" -> "u")).get
    assert(gl("provider") === "gitlab")
    assert(gl("job_id") === "9")
    assert(gl("gitlab_user_login") === "u") // no matching prefix: kept whole

    // generic CI=true with no recognized provider
    assert(ExecContext.ciContext(Map("CI" -> "true")) ===
      Some(Map("provider" -> "unknown", "ci" -> "true")))
    // not in CI at all
    assert(ExecContext.ciContext(Map("HOME" -> "/root")) === None)
    // provider detection var present but empty does not trigger
    assert(ExecContext.ciContext(Map("GITHUB_ACTIONS" -> "")) === None)
  }

  test("captureEnvironment: present vars only; empty snapshot is None") {
    val got = ExecContext.captureEnvironment(
      Seq("CC", "CXX", "NOPE"), Map("CC" -> "gcc", "CXX" -> "g++", "OTHER" -> "x"))
    assert(got === Some(Map("CC" -> "gcc", "CXX" -> "g++")))
    assert(ExecContext.captureEnvironment(Seq("NOPE"), Map("A" -> "b")) === None)
  }

  test("importContent: injected synthetic context lands on the invocation row") {
    val (runner, store) = mkRunner()
    runner.importContent("src/x.c:1:1: error: e\n", format = "gcc_text",
      context = Some(ExecContext.Captured(
        ExecContext.GitContext(Some("c" * 40), Some("release-1.2"), Some(true)),
        ci = Some(Map("provider" -> "github", "run_id" -> "77")),
        environment = None)))
    val inv = store.invocations.collect().head
    assert(inv.getAs[String]("git_branch") === "release-1.2")
    assert(inv.getAs[Boolean]("git_dirty") === true)
    assert(inv.getAs[Map[String, String]]("ci") ===
      Map("provider" -> "github", "run_id" -> "77"))
  }

  test("one refresh per run commit: imports fire 1, exec fires 3") {
    // a refresh is one store generation (EventStore.commitRun)
    val (runner, store) = mkRunner()
    def generationsFor(body: => Unit): Long = {
      val before = store.snapshot.generation
      body
      store.snapshot.generation - before
    }
    assert(generationsFor(runner.importContent(
      "src/x.c:1:1: error: e\n", format = "gcc_text")) === 1)
    val dir = Files.createTempDirectory("refresh_logs")
    Files.writeString(dir.resolve("a.log"), "src/a.c:1:1: error: e\n")
    assert(generationsFor(runner.importDirectory(s"$dir/*.log")) === 1)
    // attempt, outcome, then the run commit
    assert(generationsFor(runner.exec(Seq("sh", "-c",
      "echo 'src/b.c:2:1: warning: w'"))) === 3)
  }

  test("importDirectory: many files parse and land in one distributed job") {
    val (runner, store) = mkRunner()
    val dir = Files.createTempDirectory("bulk_logs")
    (0 until 40).foreach { i =>
      val content =
        if (i % 2 == 0)
          s"src/f$i.c:${i + 1}:2: error: broken thing $i\nsrc/f$i.c:${i + 10}:4: warning: sketchy $i\n"
        else
          s"a$i.py:3: error: bad type  [assignment]\nFound 1 error in 1 file\n"
      Files.writeString(dir.resolve(f"build_$i%03d.log"), content)
    }
    val r = runner.importDirectory(s"$dir/*.log", format = "auto", tag = Some("bulk"))
    assert(r.status === "FAIL")
    assert(r.errors === 40 && r.warnings === 20)

    // single invocation; every event under it, origin file in metadata JSON
    assert(store.invocations.count() === 1)
    val ev = store.events
    assert(ev.count() === 60)
    assert(ev.filter(col("invocation_id") === r.invocationId).count() === 60)
    val files = ev.select(get_json_object(col("metadata"), "$.log_file").as("f"))
      .distinct().count()
    assert(files === 40)
    // fingerprints assigned on errors/warnings (queryable downstream)
    assert(ev.filter(col("severity") === "error" && col("fingerprint").isNull).count() === 0)
    // mixed formats dispatched per file: both tools present
    val tools = ev.select(col("tool_name")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(tools === Set("gcc", "mypy"))
  }

  test("importContent: a driver-side run commits one events file") {
    val (runner, store) = mkRunner()
    val log = new String(Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/logs/gcc_errors.log").toURI)), "UTF-8")
    val r = runner.importContent(log, format = "auto")
    val events = store.events.filter(col("invocation_id") === r.invocationId).count()
    assert(events >= 4, s"fixture must carry several events, got $events")
    val dates = new java.io.File(s"${store.root}/events").listFiles()
      .filter(_.getName.startsWith("date="))
    assert(dates.length === 1)
    val parts = dates.head.list().filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.length === 1, parts.mkString(", "))
  }

  test("importContent: a driver-side run commit runs no Spark job") {
    val (runner, store) = mkRunner()
    val log = new String(Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/logs/gcc_errors.log").toURI)), "UTF-8")
    // the first commit into an empty store and one onto a committed run
    assert(jobsFor(runner.importContent(log)) === 0)
    assert(jobsFor(runner.importContent(log)) === 0)
    assert(store.invocations.count() === 2)
  }
}
