package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.{GraftEngine, Tables}
import graft.api.Serve
import graft.parse.FormatRegistry

/** The measuring side of the benchmark: one JVM, one closed-loop client,
  * Spark in-process. It runs one workload over the inputs that
  * `gen.py` wrote, checks every reply, and writes raw records (ops,
  * spans, Spark jobs, Catalyst phases, setup clocks) as JSON; `run.py`
  * turns them into metrics.
  *
  * {{{
  *   perfbench.Main <workload> <inputsDir> <workDir> <storeDir>
  *     <seconds> <traced 0|1> <cores> <rawOut.json>
  *   perfbench.Main prep <storeInputsDir> <storeDir> <cores>
  * }}}
  *
  * `prep` builds agent_session's store in a JVM of its own, so no
  * measured run starts in a JVM that has already run Spark.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val code =
      try {
        argv match {
          case Array("prep", inputs, store, cores) =>
            prepStore(inputs, store, cores.toInt)
          case Array(workload, inputs, work, store, secs, tr, cores, out) =>
            val b = new Bench(workload, inputs, work, store, secs.toDouble,
              tr == "1", cores.toInt)
            try { b.run(); Files.writeString(Paths.get(out), b.raw()) }
            finally b.stop()
        }
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = Tables.configure(SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** agent_session's prebuilt store: the seed-free store logs imported
    * one run each through the program's own `GraftEngine.importLog`, by
    * the build under test. `_COMPLETE` records the runs and log bytes. */
  private def prepStore(inputs: String, store: String, cores: Int): Unit = {
    val plan = Json.readFile(s"$inputs/plan.json")
    val tmp = s"$store.tmp-${ProcessHandle.current().pid()}"
    val spark = session(cores, System.getProperty("user.dir"))
    try {
      val g = GraftEngine(spark, tmp)
      val logs = plan.get("store").elements().asScala.toSeq
      logs.foreach(l => g.importLog(s"$inputs/${l.get("path").asText}"))
      Files.writeString(Paths.get(tmp, "_COMPLETE"), Json.render(Map(
        "runs" -> logs.size, "log_bytes" -> plan.get("log_bytes").asLong)))
    } finally spark.stop()
    Files.createDirectories(Paths.get(store).getParent)
    Files.move(Paths.get(tmp), Paths.get(store), StandardCopyOption.ATOMIC_MOVE)
  }
}

final class Bench(workload: String, inputs: String, work: String,
    storeCache: String, seconds: Double, traced: Boolean, cores: Int) {

  val rec = new Recorder(traced)
  val trace = new SparkTrace
  private val plan = Json.readFile(s"$inputs/plan.json")
  private val storeRoot = s"$work/store"
  private var spark: SparkSession = _
  private var engine: GraftEngine = _
  private var serve: Serve = _

  private var sessionMs = 0.0
  private var installMs = 0.0
  private var warmupMs = 0.0
  private var logBytesTotal = 0L
  /** Op id -> parquet files in the store (before, after) the op. */
  private val storeFiles = scala.collection.mutable.Map[Int, (Long, Long)]()
  private var loopGcMs = 0L
  private var probe = (0.0, 0.0)
  private var storeFinal = (0L, 0L)
  /** (phase, epoch ns) marks: where a run's wall goes outside the loop. */
  private val timeline = ArrayBuffer[(String, Long)]("start" -> Clock.now())
  private def mark(phase: String): Unit = timeline += phase -> Clock.now()

  private def ms(a: Long, b: Long): Double = (b - a) / 1e6
  private def path(rel: String) = s"$inputs/$rel"
  private def read(rel: String) =
    new String(Files.readAllBytes(Paths.get(path(rel))), StandardCharsets.UTF_8)
  private def nodes(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  // ------------------------------------------------------------ session

  /** Setup, the first Spark work in this JVM: the session starts and
    * the engine is installed on the store. The warm pass follows. */
  private def setup(): Unit = {
    val t0 = Clock.now()
    spark = rec.span("setup.session")(Main.session(cores, work))
    val t1 = Clock.now()
    engine = rec.span("setup.install")(GraftEngine(spark, storeRoot))
    serve = new Serve(engine)
    sessionMs = ms(t0, t1)
    installMs = ms(t1, Clock.now())
  }

  private def warm(body: => Unit): Unit = {
    val t = Clock.now()
    rec.span("setup.warmup")(body)
    warmupMs = ms(t, Clock.now())
  }

  /** Attach the benchmark's listeners (traced runs only). */
  private def attachTrace(): Unit = if (traced) {
    spark.sparkContext.addSparkListener(trace)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(trace)
  }

  /** Wait until the listener bus has delivered everything posted so far:
    * a marker job's end event arrives after every earlier event. */
  private def drain(): Unit = if (traced) {
    val g = s"perfbench-marker-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(g, "drain")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 20000
    while (!trace.markerSeen.contains(g) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  private def listStore(): (Long, Long) = {
    val p = Paths.get(storeRoot)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.count(_.toString.endsWith(".parquet")).toLong,
          files.map(Files.size).sum)
      } finally s.close()
    }
  }

  /** One timed op. The job group carries the op id, so jobs the client
    * thread starts are tagged; jobs from the program's own threads are
    * attributed by time (there is only one client). */
  private def op(kind: String, phase: String)(
      body: => (Boolean, String, Map[String, Any])): Op = {
    val before = if (traced) listStore()._1 else 0L
    if (traced) spark.sparkContext.setJobGroup(s"op-${rec.ops.size}", kind)
    val o = rec.op(kind, phase)(body)
    if (traced) {
      spark.sparkContext.clearJobGroup()
      storeFiles(o.id) = (before, listStore()._1)
    }
    o
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Fixed-work CPU probe (no Spark, no IO): min of three timings. */
  private def cpuProbe(): Double = (0 until 3).map { _ =>
    val t = System.nanoTime()
    var x = 88172645463325252L; var i = 0
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("") // keeps the loop from being optimised away
    (System.nanoTime() - t) / 1e6
  }.min

  // ------------------------------------------------------------- checks

  /** A reply is good when it is JSON and not an error document. `info`
    * (on the run just imported) must also report the planted errors,
    * warnings and events. */
  private def replyOk(tool: String, reply: String, planted: JsonNode)
      : (Boolean, String) =
    try {
      val j = Json.read(reply)
      if (j == null || (j.isObject && j.has("error"))) (false, s"$tool: $reply")
      else if (tool == "info") {
        val r = j.get(0)
        val got = Seq("errors", "warnings", "event_count").map(r.get(_).asLong)
        val want = Seq("errors", "warnings", "events").map(planted.get(_).asLong)
        if (got == want) (true, "")
        else (false, s"info errors/warnings/events ${got.mkString("/")}, " +
          s"expected ${want.mkString("/")}")
      } else if (tool == "ci_check" && !j.has("pass")) (false, s"ci_check: $reply")
      else (true, "")
    } catch {
      case scala.util.control.NonFatal(_) =>
        (false, s"$tool: unparsable reply ${reply.take(120)}")
    }

  /** A read's arguments, with `prev`/`cur` bound to run serials. */
  private def readArgs(r: JsonNode, prev: Long, cur: Long): Map[String, String] =
    r.get("args").properties().asScala.map { e =>
      e.getKey -> (e.getValue.asText match {
        case "prev" => prev.toString
        case "cur" => cur.toString
        case v => v
      })
    }.toMap

  /** One "blq run, then ask" session: import a log, then the reads. */
  private def session(s: JsonNode, phase: String, prevSerial: Long): Long = {
    val log = s.get("import")
    val content = if (traced) read(log.get("path").asText) else ""
    logBytesTotal += log.get("bytes").asLong
    var cur = -1L
    op("import", phase) {
      if (traced) rec.span("parse")(FormatRegistry.parse(content))
      val reply = rec.span("api.import")(
        serve.call("import", Map("path" -> path(log.get("path").asText))))
      val j = Json.read(reply)
      val ok = j.isObject && j.has("run_serial")
      if (ok) cur = j.get("run_serial").asLong
      (ok, if (ok) "" else reply.take(300),
        Map("bytes" -> log.get("bytes").asLong,
          "events" -> log.get("events").asLong,
          "parse_bytes" -> (if (traced) content.length.toLong else 0L)))
    }
    nodes(s.get("reads")).foreach { r =>
      val tool = r.get("tool").asText
      val args = readArgs(r, prevSerial, cur)
      op(tool, phase) {
        val reply = rec.span(s"api.$tool")(serve.call(tool, args))
        val (ok, note) = replyOk(tool, reply, log)
        (ok, note, Map.empty[String, Any])
      }
    }
    cur
  }

  /** Run the warm pass's legs at once, one thread each. A leg that fails
    * is reported on stderr and does not stop the run: the loop that
    * follows calls the same paths and checks them. */
  private def warmLegs(legs: (() => Any)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(legs.size)
    try legs.map(l => pool.submit(() => l())).foreach { f =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        System.err.println(s"[perfbench] warm leg failed: ${e.getCause}") }
    } finally pool.shutdown()
  }

  /** An import path on a scratch store: the `Runner` that
    * `GraftEngine.importLog`/`importDirectory` delegate to, without
    * registering that store's views on the session. The warm pass
    * imports there, so its legs can overlap without racing for run
    * serials, and the measured store starts as the workload says. */
  private def scratchRunner(name: String): graft.exec.Runner = {
    val root = s"$work/$name"
    new graft.exec.Runner(new graft.store.EventStore(spark, root),
      new graft.store.BlobStore(s"$root/blobs"))
  }

  private def lastSerial(): Long =
    engine.runs.agg(org.apache.spark.sql.functions.max("run_serial"))
      .head().getLong(0)

  // ---------------------------------------------------------- workloads

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Copy the prebuilt store (see [[Main.prepStore]]) so every run starts
    * from the same state; returns its number of runs. Prep, not setup:
    * it is not timed. */
  private def prepareStore(): Long = {
    val meta = Json.readFile(s"$storeCache/_COMPLETE")
    copyTree(Paths.get(storeCache), Paths.get(storeRoot))
    logBytesTotal += meta.get("log_bytes").asLong
    meta.get("runs").asLong
  }

  private def agentSession(): Unit = {
    val n = prepareStore()
    mark("prep")
    setup()
    mark("setup")
    // The warm pass overlaps its legs: serial it took ~30 s of a ~70 s
    // run on 4 cores, and the run budget (README) has no room for that.
    // It imports into a scratch store and asks every read of the
    // prebuilt one (runs 1..n).
    val w = plan.get("warm")
    warm {
      warmLegs((() => scratchRunner("warm-store").importContent(
        read(w.get("import").get("path").asText))) +:
        nodes(w.get("reads")).map(r => () =>
          serve.call(r.get("tool").asText, readArgs(r, n - 1, n))): _*)
    }
    var prev = n
    mark("warm")
    attachTrace()
    val sessions = nodes(plan.get("sessions"))
    val gc0 = gcMs()
    val t0 = Clock.now()
    var i = 0
    // whole sessions only, so every run has the same call mix
    while (i == 0 || Clock.now() - t0 < seconds * 1e9) {
      prev = session(sessions(i % sessions.size), "loop", prev)
      i += 1
    }
    loopGcMs = gcMs() - gc0
    mark("loop")
    if (traced) execPass(plan.get("exec"))
  }

  /** One `GraftEngine.importLog` op; in traced runs the parser also runs
    * on the same content as a sibling span. Returns the op, the run
    * serial and the number of events the parser finds. */
  private def importOp(kind: String, phase: String, log: JsonNode): (Op, Long, Long) = {
    val content = read(log.get("path").asText)
    val events = FormatRegistry.parse(content).size.toLong
    logBytesTotal += log.get("bytes").asLong
    var serial = -1L
    val o = op(kind, phase) {
      if (traced) rec.span("parse")(FormatRegistry.parse(content))
      serial = rec.span("exec.import")(engine.importLog(path(log.get("path").asText)))
      (true, "", Map("bytes" -> log.get("bytes").asLong, "events" -> events,
        "parse_bytes" -> (if (traced) content.length.toLong else 0L)))
    }
    (o, serial, events)
  }

  /** One `GraftEngine.importDirectory` op over `files`. */
  private def importDirOp(kind: String, phase: String, files: Seq[JsonNode],
      glob: String): (Op, Long, Long) = {
    val bytes = files.map(_.get("bytes").asLong).sum
    val events = files.map(f => FormatRegistry.parse(read(f.get("path").asText)).size.toLong).sum
    logBytesTotal += bytes
    var serial = -1L
    val o = op(kind, phase) {
      serial = rec.span("exec.import_dir")(engine.importDirectory(path(glob))).runSerial
      (true, "", Map("bytes" -> bytes, "events" -> events))
    }
    (o, serial, events)
  }

  /** Traced runs only: the exec layer called directly (a single-log
    * import and a bulk directory import), outside the timed loop. */
  private def execPass(x: JsonNode): Unit = {
    importOp("exec_import", "extra", x.get("log"))
    importDirOp("exec_import_dir", "extra", nodes(x.get("dir")), x.get("glob").asText)
  }

  private def logIngest(): Unit = {
    setup()
    mark("setup")
    // both warm imports at once, each into its own scratch store, so the
    // measured store starts empty
    val w = plan.get("warm")
    warm {
      warmLegs(
        () => scratchRunner("warm-log").importContent(read(w.get("log").get("path").asText)),
        () => scratchRunner("warm-dir").importDirectory(path(w.get("glob").asText)))
    }
    mark("warm")
    attachTrace()
    val ops = nodes(plan.get("ops"))
    val cycle = plan.get("cycle").asInt
    // op id -> (run serial, events FormatRegistry.parse finds)
    val expected = scala.collection.mutable.Map[Int, (Long, Long)]()
    val gc0 = gcMs()
    val t0 = Clock.now()
    var i = 0
    // whole cycles only, so every run has the same size mix
    while (i % cycle != 0 || i == 0 || Clock.now() - t0 < seconds * 1e9) {
      val o = ops(i % ops.size)
      i += 1
      val (rop, serial, events) =
        if (o.get("kind").asText == "import")
          importOp(s"import_s${o.get("stratum").asInt}", "loop", o.get("log"))
        else importDirOp("import_dir", "loop", nodes(o.get("files")),
          o.get("glob").asText)
      expected(rop.id) = (serial, events)
    }
    loopGcMs = gcMs() - gc0
    mark("loop")
    // stored events per run must equal what the parser finds in the log
    val stored = engine.runs.select("run_serial", "event_count").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rec.ops.indices.foreach { k =>
      expected.get(rec.ops(k).id).foreach { case (serial, want) =>
        val got = stored.getOrElse(serial, -1L)
        if (got != want && rec.ops(k).ok)
          rec.ops(k) = rec.ops(k).copy(ok = false,
            note = s"run $serial stored $got events, parser finds $want")
      }
    }
    mark("check")
    if (traced) {
      engine.install()
      session(plan.get("ask"), "extra", lastSerial())
    }
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(work))
    probe = (cpuProbe(), 0.0)
    workload match {
      case "agent_session" => agentSession()
      case "log_ingest" => logIngest()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    mark("extra")
    drain()
    storeFinal = listStore()
    probe = (probe._1, cpuProbe())
    mark("end")
  }

  def stop(): Unit = if (spark != null) spark.stop()

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def raw(): String = {
    Json.render(Map(
      "meta" -> Map("workload" -> workload, "traced" -> traced,
        "cores" -> cores, "master" -> spark.sparkContext.master,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "setup" -> Map("session_ms" -> sessionMs, "install_ms" -> installMs,
        "warmup_ms" -> warmupMs,
        "setup_s" -> (sessionMs + installMs + warmupMs) / 1e3),
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "phase" -> o.phase, "start" -> o.start, "end" -> o.end,
        "ok" -> o.ok, "note" -> o.note, "info" -> o.info,
        "store_files" -> storeFiles.get(o.id).map(f => Seq(f._1, f._2)))),
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start" -> s.start, "end" -> s.end)),
      "jobs" -> trace.jobs.map(j => Map("id" -> j.jobId, "group" -> j.group,
        "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "stages" -> j.stages,
        "tasks" -> j.tasks, "empty_tasks" -> j.emptyTasks, "run_ms" -> j.runMs,
        "cpu_ns" -> j.cpuNs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes, "output_bytes" -> j.outputBytes)),
      "plans" -> trace.plans.map(p => Map("start_ms" -> p.startMs,
        "analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs,
        "planning_ms" -> p.planningMs)),
      "store" -> Map("parquet_files" -> storeFinal._1, "bytes" -> storeFinal._2,
        "log_bytes" -> logBytesTotal),
      "loop_gc_ms" -> loopGcMs,
      "timeline_ms" -> timeline.map { case (k, t) =>
        Map("phase" -> k, "ms" -> (t - timeline.head._2) / 1e6) },
      "trace_handler_ms" -> trace.handlerNs / 1e6,
      "cpu_probe_ms" -> Map("before" -> probe._1, "after" -> probe._2),
      "peak_rss_mb" -> peakRssMb()))
  }
}
