package graft.api

import org.apache.spark.sql.DataFrame
import graft.GraftEngine

/** Agent/MCP serving surface — the Spark-side mapping of the
  * reference's serve.py tool registry (/root/reference/src/blq/serve.py,
  * `@mcp.tool` functions). Transport-agnostic by design: an MCP (or any
  * RPC) layer deserializes a tool call to (name, string-keyed args) and
  * gets JSON text back; nothing here depends on a protocol library, so
  * the same dispatcher serves MCP, HTTP, or a REPL. [[JsonRpcServe]]
  * is the shipped stdio binding (line-delimited JSON-RPC 2.0 — the
  * wire format MCP itself runs over).
  *
  * Tool mapping (reference → here):
  *  - query            → FilterLang mini-language over the flat events view
  *  - events           → run-scoped event listing (ref syntax via RefResolver)
  *  - errors/warnings  → recency-limited severity slices
  *  - status           → per-source latest-run board
  *  - history          → run history
  *  - summary          → grouped error rollup
  *  - diff             → run-vs-run fingerprint/count diff
  *  - report           → markdown status report
  *  - ci_check         → CiGate verdict (new/fixed/unchanged + samples)
  *  - output           → captured output body / line window / grep
  *  - import           → file or directory ingest (distributed for globs)
  *  - sql              → read-only SQL over the registered views
  *  - source_context   → P10-guarded source window around an event ref
  *  - register_command / commands / unregister_command
  *                     → named-command registry (CommandRegistry,
  *                       reference serve.py:1986-2177)
  *  - run              → execute a registered command by name with
  *                       template args (serve.py's run tool; expansion
  *                       shell-quotes every caller value)
  *  - event            → single-event detail by full ref, with the
  *                       fingerprint's history + regression flag
  *                       (serve.py:1034; events.py:585-648)
  *  - info             → run detail by ref/uuid/source (serve.py:1583)
  *  - last             → most recent run summary + optional event
  *                       slice (serve.py:2792)
  *  - exec             → ad-hoc command run, registry-prefix matched
  *                       (serve.py:2334,2350)
  *  - clean            → confirm-gated store maintenance: data/schema
  *                       clear, prune by days/runs/MB, full removal
  *                       (serve.py:3299 via store.Maintenance)
  *  - inspect          → composite single-call event detail: event
  *                       core + log/source/git context + fingerprint
  *                       history behind include_* flags, with a batch
  *                       refs mode (serve.py:2485, _inspect_impl
  *                       serve.py:1177)
  *  - config           → read/update/reset the in-memory session
  *                       config, env-seeded at construction
  *                       (serve.py:3655)
  *
  * Deliberately NOT here (driver/CLI concerns with no DataFrame
  * surface, same scoping as COVERAGE.md P10/F6): sandbox_info (local
  * sandbox introspection).
  */
final class Serve(private[api] val engine: GraftEngine) {
  import Serve._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Registry file lives beside the store — named commands are
    * project-durable state, like the reference's .lq/commands.toml. */
  private val registry =
    new CommandRegistry(java.nio.file.Paths.get(engine.root, "commands.json"))

  private val maintenance = new graft.store.Maintenance(engine.store)

  /** Set by `clean mode=full` — the store root no longer exists, so
    * every subsequent dispatch short-circuits to an explicit
    * store-removed error instead of surfacing raw FS failures. */
  @volatile private var storeRemoved = false

  /** Session config (the reference's in-memory runtime, serve.py:3655):
    * env-seeded at construction, mutated by the `config` tool, wiped
    * with the instance — persistent state stays in the store. The
    * defaults below are what the reference documents; active_root
    * falls back to the engine root (it is the source/workspace root
    * `inspect` resolves files under when the caller sends none). */
  private val configSeed: Map[String, String] = Map(
    "active_root" -> sys.env.getOrElse("GRAFT_ACTIVE_ROOT", engine.root),
    "log_level" -> sys.env.getOrElse("GRAFT_LOG_LEVEL", "info"),
    "default_lines_window" -> sys.env.getOrElse("GRAFT_DEFAULT_LINES_WINDOW", "20"),
    "default_history_limit" -> sys.env.getOrElse("GRAFT_DEFAULT_HISTORY_LIMIT", "20"))

  @volatile private var sessionConfig: Map[String, String] = configSeed

  private def configInt(k: String): Int =
    sessionConfig.get(k).flatMap(_.toIntOption).getOrElse(20)

  /** Parse a JSON-object-valued string arg ({"k":"v",...}) — the wire
    * layer only passes flat scalars, so map args ride JSON-encoded. */
  private def mapArg(args: Map[String, String], k: String): Map[String, String] =
    args.get(k).filter(_.trim.nonEmpty).map { s =>
      val n = mapper.readTree(s)
      require(n.isObject, s"'$k' must be a JSON object")
      import scala.jdk.CollectionConverters._
      n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)

  private def seqArg(args: Map[String, String], k: String): Seq[String] =
    args.get(k).filter(_.trim.nonEmpty).map { s =>
      val n = mapper.readTree(s)
      require(n.isArray, s"'$k' must be a JSON array")
      import scala.jdk.CollectionConverters._
      n.elements().asScala.map(_.asText()).toSeq
    }.getOrElse(Nil)

  val tools: Seq[String] = Serve.toolSpecs.map(_.name)

  /** Dispatch one tool call; returns a JSON document (or for `report`,
    * markdown). Unknown tools and bad args return a JSON error object
    * rather than throwing — serving surfaces must not kill the session
    * over a malformed call. */
  def call(tool: String, args: Map[String, String] = Map.empty): String =
    try dispatch(tool, args)
    catch {
      case e: NoSuchElementException => err(s"missing argument: ${e.getMessage}")
      // Malformed args surface as AnalysisException/ParseException/
      // NumberFormatException/IO errors — ALL of them must become an
      // error document, not a dead serving session.
      case scala.util.control.NonFatal(e) =>
        err(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    }

  private def dispatch(tool: String, args: Map[String, String]): String =
    if (storeRemoved)
      err("store removed (clean mode=full); re-create the store or restart the server")
    else dispatchTool(tool, args)

  private def dispatchTool(tool: String, args: Map[String, String]): String = tool match {
    case "query" =>
      val filters = args.get("filter").toSeq.flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      var df = engine.query.df()
      FilterLang.parseAll(filters).foreach(c => df = df.filter(c))
      args.get("select").foreach { s =>
        df = df.select(s.split(",").map(c => org.apache.spark.sql.functions.col(c.trim)).toIndexedSeq: _*)
      }
      val limit = intArg(args, "limit", 100)
      json(df.limit(limit), limit)
    case "events" =>
      // default = most recent run ("~1"); a "-1" literal would parse as
      // run_serial -1, which can never match
      engine.invocation(args.getOrElse("ref", "~1")).select("invocation_id", "date")
        .collect().headOption match {
        case Some(row) =>
          json(engine.analytics.eventsForRun(row.getString(0), row.getDate(1)),
            intArg(args, "limit", 100))
        case None => err(s"no run matches ref '${args.getOrElse("ref", "~1")}'")
      }
    case "errors" =>
      val n = intArg(args, "limit", 10); json(engine.errors(n), n)
    case "warnings" =>
      val n = intArg(args, "limit", 10); json(engine.warnings(n), n)
    case "status" => json(engine.status())
    case "history" =>
      json(engine.history(intArg(args, "limit", configInt("default_history_limit"))))
    case "summary" => json(engine.summary())
    case "diff" =>
      json(engine.diff(longArg(args, "run1"), longArg(args, "run2")))
    case "report" => engine.analytics.report(
      intArg(args, "history", 10), intArg(args, "files", 10))
    case "ci_check" =>
      val v = new graft.exec.CiGate(engine.analytics)
        .check(longArg(args, "baseline"), longArg(args, "candidate"))
      s"""{"pass":${v.pass},"new_errors":${v.newErrors},"fixed_errors":${v.fixedErrors},""" +
        s""""unchanged_errors":${v.unchangedErrors},""" +
        s""""samples":[${v.newSamples.map(quote).mkString(",")}]}"""
    case "output" =>
      val id = args("invocation_id")
      (args.get("grep"), args.get("lines")) match {
        case (Some(pat), _) =>
          json(engine.grepOutput(id, pat, intArg(args, "ctx", 2)))
        case (None, Some(spec)) => json(engine.outputLines(id, spec))
        case _ => engine.output(id)
            .map(b => s"""{"body":${quote(b)}}""")
            .getOrElse(err(s"no output for $id"))
      }
    case "import" =>
      val path = args("path")
      val fmt = args.getOrElse("format", "auto")
      if (path.contains("*")) {
        val r = engine.importDirectory(path, fmt, args.get("tag"))
        s"""{"run_serial":${r.runSerial},"status":"${r.status}",""" +
          s""""errors":${r.errors},"warnings":${r.warnings}}"""
      } else {
        val serial = engine.importLog(path, fmt, args.get("tag"))
        s"""{"run_serial":$serial}"""
      }
    case "sql" =>
      // Read-only, registered-views-only contract: the reference serve
      // surface exposes only query-style tools over the store's views,
      // and a served session must survive any caller. Parse first and
      // reject (a) commands/writes (DDL/SET/DROP/INSERT), (b) relations
      // outside the session catalog — `SELECT * FROM text.`/etc/passwd``
      // style direct-path scans would otherwise read arbitrary host
      // files — and (c) JVM-reflection functions (reflect/java_method),
      // the env-var/exfiltration escape hatch.
      val q = args("q")
      engine.install() // views must exist before the catalog check below
      val parsed = engine.spark.sessionState.sqlParser.parsePlan(q)
      Serve.sqlGuardViolation(engine.spark, parsed) match {
        case Some(reason) => err(reason)
        // spark.sql directly — engine.sql would run install() a second
        // time on this hot path
        case None => json(engine.spark.sql(q), intArg(args, "limit", 100))
      }
    case "register_command" =>
      val name = args("name")
      val rc = CommandRegistry.RegisteredCommand(
        name = name,
        cmd = args.get("cmd").filter(_.nonEmpty),
        tpl = args.get("tpl").filter(_.nonEmpty),
        defaults = mapArg(args, "defaults"),
        description = args.getOrElse("description", ""),
        timeoutMs = args.get("timeout").map(_.toLong),
        // auto-detect from the command text, like the reference
        format = args.get("format").filter(_.nonEmpty).getOrElse(
          graft.parse.FormatRegistry.detectFormatFromCommand(
            args.get("tpl").orElse(args.get("cmd")).getOrElse(""))))
      registry.register(rc, force = args.get("force").exists(_.toBoolean)) match {
        case Left(reason) => err(reason)
        case Right((cmd, existed)) =>
          s"""{"success":true,"existing":$existed,"name":${quote(cmd.name)},""" +
            s""""command":${quote(cmd.template)},"format":${quote(cmd.format)}}"""
      }
    case "commands" =>
      val entries = registry.list().map { c =>
        s"""{"name":${quote(c.name)},""" +
          (if (c.isTemplate) s""""tpl":${quote(c.template)},"""
           else s""""cmd":${quote(c.template)},""") +
          (if (c.defaults.nonEmpty)
            s""""defaults":{${c.defaults.toSeq.sortBy(_._1)
              .map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString(",")}},"""
           else "") +
          s""""description":${quote(c.description)},"format":${quote(c.format)}}"""
      }
      s"""{"commands":[${entries.mkString(",")}]}"""
    case "unregister_command" =>
      registry.unregister(args("name")) match {
        case Left(reason) => err(reason)
        case Right(_) => s"""{"success":true,"name":${quote(args("name"))}}"""
      }
    case "run" =>
      val name = args("command")
      registry.get(name) match {
        case None =>
          err(s"command '$name' not registered (see the commands tool)")
        case Some(rc) =>
          // registry-level defaults fill known placeholders only (an
          // unused default is config noise, not a caller error — the
          // unknown-arg check is for CALLER args)
          val known = CommandRegistry.parsePlaceholders(rc.template).map(_.name).toSet
          val rendered = CommandRegistry.expand(rc.template,
            rc.defaults.view.filterKeys(known).toMap ++ mapArg(args, "args"),
            seqArg(args, "positional"), seqArg(args, "extra"))
          val r = engine.exec(Seq("sh", "-c", rendered), tag = Some(name),
            sourceName = Some(name), formatHint = rc.format,
            timeoutMs = rc.timeoutMs.getOrElse(600000L))
          s"""{"run_serial":${r.runSerial},"invocation_id":${quote(r.invocationId)},""" +
            s""""status":${quote(r.status)},"exit_code":${r.exitCode},""" +
            s""""errors":${r.errors},"warnings":${r.warnings},""" +
            s""""command":${quote(rendered)}}"""
      }
    case "event" =>
      val ref = args("ref")
      val parsed = RefResolver.parse(ref)
      parsed.eventId match {
        case None => err(s"ref '$ref' has no event index (use run:serial:event)")
        case Some(eventId) =>
          import org.apache.spark.sql.functions.col
          val run = engine.invocation(ref).select("invocation_id").collect().headOption
          run match {
            case None => err(s"no run matches ref '$ref'")
            case Some(row) =>
              val df = engine.events
                .filter(col("invocation_id") === row.getString(0) &&
                  col("event_index") === eventId)
                .select("ref", "run_ref", "run_serial", "event_index", "severity",
                  "ref_file", "ref_line", "ref_column", "message", "tool_name",
                  "category", "fingerprint", "raw_text", "log_line_start",
                  "log_line_end", "cwd", "executable_path", "hostname",
                  "platform", "arch", "git_commit", "git_branch", "git_dirty")
              val rows = df.limit(1).collect()
              if (rows.isEmpty) err(s"no event $eventId in run '$ref'")
              else {
                // Fingerprint history rides along (events.py:585-648):
                // first/last seen, occurrences, and is_regression =
                // the fingerprint skipped >=1 intervening run and came
                // back. The fingerprint filter pushes through the
                // history's window AND groupBy (it is the partition /
                // grouping key), so this scans one fingerprint's rows,
                // not the store.
                val hist = Option(rows.head.getAs[String]("fingerprint"))
                  .filter(_.nonEmpty).map { fp =>
                    json(engine.analytics.fingerprintHistory()
                      .filter(col("fingerprint") === fp), 1)
                  }.getOrElse("null")
                s"""{"event":${json(df, 1)},"history":$hist}"""
              }
          }
      }
    case "info" =>
      val ref = args.getOrElse("ref", "~1")
      // rendered once: an emptiness check first would run the runs
      // rollup twice
      val out = json(engine.run(ref)
        .select("run_ref", "run_serial", "invocation_id", "source_name", "tag",
          "command", "status_badge", "exit_code", "started_at", "duration_ms",
          "event_count", "errors", "warnings", "unique_errors", "hostname",
          "platform", "arch", "git_commit", "git_branch", "git_dirty"), 1)
      if (out == "[]") err(s"no run matches ref '$ref'") else out
    case "last" =>
      import org.apache.spark.sql.functions.col
      val lastRun = engine.runs
        .orderBy(col("run_serial").desc).limit(1)
        .select("run_ref", "run_serial", "invocation_id", "source_name",
          "command", "status_badge", "exit_code", "started_at",
          "errors", "warnings", "git_branch", "git_commit")
      lastRun.collect().headOption match {
        case None => err("no runs found")
        case Some(row) =>
          // render the COLLECTED row (a local relation), never a
          // second execution of the query: with concurrent ingestion
          // a re-run can pick up a NEWER run than the one whose
          // run_serial filters the events slice below — a silently
          // inconsistent response (summary of run N+1, events of N).
          val summary = json(engine.spark.createDataFrame(
            java.util.List.of(row), lastRun.schema), 1)
          val sev = args.get("severity")
            .orElse(if (args.get("errors").exists(_.toBoolean)) Some("error") else None)
          val evs = sev.map { s =>
            val slice = engine.events
              .filter(col("run_serial") === row.getAs[Long]("run_serial") &&
                col("severity") === s)
              .orderBy(col("event_index"))
              .select("ref", "severity", "location", "message")
            s""","events":${json(slice,
              intArg(args, "limit", configInt("default_lines_window")))}"""
          }.getOrElse("")
          s"""{"run":$summary$evs}"""
      }
    case "source_context" =>
      // P10 surface: ref_file is untrusted parser output — the resolve
      // refuses absolute/.. escapes out of `root` (SourceContext).
      SourceContext.readSourceContext(args("ref_file"),
          intArg(args, "ref_line", 1), args("root"), intArg(args, "context", 5))
        .map(c => s"""{"context":${quote(c)}}""")
        .getOrElse(err("no source context (missing file, bad line, or path escapes root)"))
    case "exec" =>
      // Ad-hoc command execution (serve.py:2334). A command line that
      // extends a registered placeholder-free command is routed
      // through the registry instead (serve.py:2350 — same tag and
      // source as the `run` tool would assign, for cleaner refs).
      val command = args("command").trim
      require(command.nonEmpty, "command must be non-empty")
      val extra = seqArg(args, "args")
      val shell = args.get("shell").exists(_.toBoolean)
      val timeoutMs = intArg(args, "timeout", 600000).toLong
      def result(r: graft.exec.Runner.RunResult, rendered: String,
          matched: Option[String]): String = {
        val m = matched.map(n => s""","matched_command":${quote(n)}""").getOrElse("")
        s"""{"run_serial":${r.runSerial},"invocation_id":${quote(r.invocationId)},""" +
          s""""status":${quote(r.status)},"exit_code":${r.exitCode},""" +
          s""""errors":${r.errors},"warnings":${r.warnings},""" +
          s""""command":${quote(rendered)}$m}"""
      }
      // shell mode skips the match (serve.py:625's `if not shell:`) —
      // quoting pipe tokens into a registered template would run a
      // different command than the caller wrote
      val matched =
        if (shell) None
        else registry.list().find { rc =>
          !rc.isTemplate && rc.template.nonEmpty &&
            (command == rc.template || command.startsWith(rc.template + " "))
        }
      matched match {
        case Some(rc) =>
          val rest = command.stripPrefix(rc.template).trim
          val extras = (if (rest.nonEmpty) shlexSplit(rest) else Nil) ++ extra
          val rendered = CommandRegistry.expand(rc.template, Map.empty, Nil, extras)
          // caller-supplied timeout wins over the registered one (the
          // reference forwards it through _run_impl); the registered
          // value is the default when the caller sent none
          val effTimeout = args.get("timeout").map(_.trim.toLong)
            .orElse(rc.timeoutMs).getOrElse(timeoutMs)
          val r = engine.exec(Seq("sh", "-c", rendered), tag = Some(rc.name),
            sourceName = Some(rc.name), formatHint = rc.format,
            timeoutMs = effTimeout)
          result(r, rendered, Some(rc.name))
        case None =>
          val argv =
            if (shell)
              Seq("sh", "-c",
                (command +: extra.map(CommandRegistry.shQuote)).mkString(" "))
            else shlexSplit(command) ++ extra
          val r = engine.exec(argv, formatHint = args.getOrElse("format", "auto"),
            timeoutMs = timeoutMs)
          result(r, argv.mkString(" "), None)
      }
    case "inspect" =>
      // Composite event detail (serve.py:2485): what the reference
      // answers in ONE call — event core + log/source/git context +
      // fingerprint history behind include_* flags — instead of the
      // 3-4 round-trips an agent would pay composing event +
      // source_context + output + history itself. Batch mode takes a
      // JSON array of refs and reports per-ref errors without failing
      // the whole call.
      val refsList = seqArg(args, "refs")
      val lines = intArg(args, "lines", 5)
      val incLog = args.get("include_log_context").forall(_.toBoolean)
      val incSrc = args.get("include_source_context").forall(_.toBoolean)
      val incGit = args.get("include_git_context").exists(_.toBoolean)
      val incFp = args.get("include_fingerprint_history").exists(_.toBoolean)
      val root = args.get("root").filter(_.nonEmpty)
        .orElse(sessionConfig.get("active_root")).getOrElse(engine.root)
      if (refsList.nonEmpty) {
        val results = refsList.map(r =>
          r -> inspectOne(r, lines, incLog, incSrc, incGit, incFp, root))
        val entries = results.map {
          case (r, Right(doc)) => s"""{"ref":${quote(r)},"event":$doc}"""
          case (r, Left(e)) =>
            s"""{"ref":${quote(r)},"event":null,"error":${quote(e)}}"""
        }
        s"""{"events":[${entries.mkString(",")}],""" +
          s""""found":${results.count(_._2.isRight)},"total":${refsList.size}}"""
      } else inspectOne(args("ref"), lines, incLog, incSrc, incGit, incFp, root)
        .fold(err, identity)
    case "config" =>
      // In-memory session config (serve.py:3655): read / merge-update /
      // reset-to-env-seed. Invalid updates leave the config unchanged.
      def render(c: Map[String, String]): String =
        c.toSeq.sortBy(_._1).map { case (k, v) =>
          val vv = v.toLongOption.map(_.toString).getOrElse(quote(v))
          s"${quote(k)}:$vv"
        }.mkString("{", ",", "}")
      if (args.get("reset").exists(_.toBoolean)) {
        sessionConfig = configSeed
        render(sessionConfig)
      } else mapArg(args, "set") match {
        case s if s.isEmpty => render(sessionConfig)
        case set =>
          val unknown = set.keySet -- configSeed.keySet
          val invalid =
            if (unknown.nonEmpty)
              Some(s"unknown config key(s): ${unknown.toSeq.sorted.mkString(", ")}" +
                s" (known: ${configSeed.keySet.toSeq.sorted.mkString(", ")})")
            else set.collectFirst {
              case ("log_level", v) if !Set("debug", "info", "warn", "error")(v) =>
                s"log_level must be one of debug|info|warn|error (got '$v')"
              case (k@("default_lines_window" | "default_history_limit"), v)
                  if v.toIntOption.forall(_ <= 0) =>
                s"$k must be a positive integer (got '$v')"
            }
          invalid match {
            case Some(m) => err(m)
            case None => sessionConfig = sessionConfig ++ set; render(sessionConfig)
          }
      }
    case "clean" =>
      // Store maintenance (serve.py:3299). Every destructive mode is
      // confirm-gated: confirm=false returns a PREVIEW document with
      // the delete targets, never touches data.
      val mode = args.getOrElse("mode", "data")
      val confirm = args.get("confirm").exists(_.toBoolean)
      val tables = Seq("attempts", "outcomes", "invocations", "events", "outputs")
      def jarr(xs: Seq[String]): String = xs.map(quote).mkString("[", ",", "]")
      mode match {
        case "prune" =>
          val days = args.get("days").map(_.trim.toInt)
          val maxRuns = args.get("max_runs").map(_.trim.toInt)
          val maxMb = args.get("max_size_mb").map(_.trim.toLong)
          require(days.isDefined || maxRuns.isDefined || maxMb.isDefined,
            "prune needs at least one of: days, max_runs, max_size_mb")
          val partTargets = (
            days.toSeq.flatMap(d => tables.flatMap(t => maintenance.pruneByAge(t, d))) ++
              maxMb.toSeq.flatMap(mb => maintenance.pruneBySizeTotal(
                Seq("events", "outputs"), mb * 1024L * 1024L))
            ).distinct
          if (!confirm) {
            val runsToPrune = maxRuns
              .map(m => maintenance.pruneByCount(m).count()).getOrElse(0L)
            s"""{"success":false,"preview":true,"mode":"prune",""" +
              s""""partition_targets":${jarr(partTargets)},""" +
              s""""runs_to_prune":$runsToPrune,""" +
              s""""message":"set confirm=true to delete"}"""
          } else {
            val removed = maintenance.deleteTargets(partTargets)
            val prunedRuns = maxRuns.map(maintenance.applyPruneByCount)
              .getOrElse(Seq.empty)
            s"""{"success":true,"mode":"prune","partitions_removed":$removed,""" +
              s""""runs_pruned":${prunedRuns.size}}"""
          }
        case "compact" =>
          // r10: small-file compaction (preview/confirm like prune).
          // Continuous ingest appends one small file per batch; this
          // bin-packs each date partition back to ~target_mb files,
          // preserving (re-establishing, range-partitioned) the events
          // table's (severity, timestamp) clustering.
          val targetMb = args.get("target_mb").map(_.trim.toLong).getOrElse(128L)
          val minFiles = args.get("min_files").map(_.trim.toInt).getOrElse(4)
          // mirror prune's param validation: target_mb=0 would divide
          // by zero in compactionCandidates; negatives produce
          // nonsense targets
          require(targetMb > 0, s"target_mb must be positive (got $targetMb)")
          require(minFiles >= 2, s"min_files must be at least 2 (got $minFiles)")
          val clusterCols = Map("events" -> Seq("severity", "timestamp"))
          def tjson(ts: Seq[graft.store.Maintenance.CompactionTarget]): String =
            ts.map(t => s"""{"table":${quote(t.table)},"date":${quote(t.date)},""" +
              s""""files":${t.files},"bytes":${t.bytes},""" +
              s""""target_files":${t.targetFiles}}""").mkString("[", ",", "]")
          if (!confirm) {
            val cands = tables.flatMap(t =>
              maintenance.compactionCandidates(t, targetMb << 20, minFiles))
            s"""{"success":false,"preview":true,"mode":"compact",""" +
              s""""targets":${tjson(cands)},""" +
              s""""message":"set confirm=true to compact"}"""
          } else {
            val done = tables.flatMap(t => maintenance.applyCompaction(
              t, targetMb << 20, minFiles, clusterCols.getOrElse(t, Seq.empty)))
            s"""{"success":true,"mode":"compact","compacted":${tjson(done)}}"""
          }
        case "compact_index" =>
          // r11 (the r10 verdict's stretch #7): the three stored
          // index families (BandIndex main/keys, IvfIndex cells,
          // bucketed postings) append one file per (task, bucket) per
          // batch — at a continuous-ingest cadence this is routine
          // maintenance, behind the same preview/confirm gate as the
          // store modes. `table` names catalog tables (comma-
          // separated); preview reports measured files-per-bucket,
          // confirm compacts every named table at or above the debt
          // threshold via the crash-safe rename-aside swap.
          val named = args.getOrElse("table",
            throw new IllegalArgumentException(
              "compact_index needs table=<catalog table>[,<table>...]"))
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          require(named.nonEmpty, "compact_index needs at least one table")
          val minPerBucket = args.get("min_files_per_bucket")
            .map(_.trim.toDouble).getOrElse(2.0)
          require(minPerBucket >= 1.0,
            s"min_files_per_bucket must be >= 1 (got $minPerBucket)")
          val debts = named.map { t =>
            t -> graft.store.Bucketing.filesPerBucket(engine.spark, t)
          }
          def djson(ds: Seq[(String, Double)]): String = ds.map { case (t, d) =>
            s"""{"table":${quote(t)},"files_per_bucket":${math.rint(d * 100) / 100}}"""
          }.mkString("[", ",", "]")
          if (!confirm)
            s"""{"success":false,"preview":true,"mode":"compact_index",""" +
              s""""tables":${djson(debts)},"threshold":$minPerBucket,""" +
              s""""message":"set confirm=true to compact"}"""
          else {
            val done = debts.filter(_._2 >= minPerBucket).map(_._1)
            done.foreach(t =>
              graft.store.Bucketing.compactBucketed(engine.spark, t))
            s"""{"success":true,"mode":"compact_index",""" +
              s""""compacted":${jarr(done)},"skipped":${jarr(
                debts.filterNot(d => done.contains(d._1)).map(_._1))}}"""
          }
        case "data" | "schema" | "full" =>
          // data/schema: clear run data (all table dirs + blobs), keep
          // the command registry and any other config beside the store;
          // a parquet store has no DDL, so the two reference modes
          // coincide here. full: delete the whole store root.
          val targets =
            if (mode == "full") Seq(engine.root)
            else tables.map(t => s"${engine.root}/$t") :+ s"${engine.root}/blobs"
          if (!confirm)
            s"""{"success":false,"preview":true,"mode":${quote(mode)},""" +
              s""""targets":${jarr(targets)},""" +
              s""""message":"set confirm=true to delete"}"""
          else if (mode == "full") {
            // The store root itself is gone after this — refreshing
            // views against it would throw, and every later tool call
            // would fail with a raw FS error. Delete directly, skip
            // the refresh, and flip the dispatcher into an explicit
            // store-removed state instead.
            val p = new org.apache.hadoop.fs.Path(engine.root)
            val fs = p.getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
            val removed = if (fs.exists(p) && fs.delete(p, true)) 1 else 0
            storeRemoved = true
            s"""{"success":true,"mode":"full","removed":$removed,"store_removed":true}"""
          } else {
            val removed = maintenance.deleteTargets(targets)
            s"""{"success":true,"mode":${quote(mode)},"removed":$removed}"""
          }
        case other =>
          err(s"unknown clean mode: $other " +
            "(data, prune, compact, compact_index, schema, full)")
      }
    case other => err(s"unknown tool: $other (available: ${tools.mkString(", ")})")
  }

  /** One event's composite inspect document (reference _inspect_impl,
    * serve.py:1177): Left(error) when the ref/run/event is missing,
    * Right(json) otherwise. Context fields resolve to null rather
    * than erroring — a missing source file or non-repo root must not
    * take down the event core. */
  private def inspectOne(ref: String, lines: Int, incLog: Boolean,
      incSrc: Boolean, incGit: Boolean, incFp: Boolean,
      root: String): Either[String, String] = {
    import org.apache.spark.sql.functions.col
    RefResolver.parse(ref).eventId match {
      case None => Left(s"ref '$ref' has no event index (use run:serial:event)")
      case Some(eventId) =>
        engine.invocation(ref).select("invocation_id").collect().headOption match {
          case None => Left(s"no run matches ref '$ref'")
          case Some(runRow) =>
            val inv = runRow.getString(0)
            val rows = engine.events
              .filter(col("invocation_id") === inv && col("event_index") === eventId)
              .select("ref", "run_ref", "severity", "ref_file", "ref_line",
                "ref_column", "message", "tool_name", "category", "code",
                "rule", "fingerprint", "log_line_start", "log_line_end")
              .limit(1).collect()
            if (rows.isEmpty) Left(s"no event $eventId in run '$ref'")
            else {
              val row = rows.head
              def str(c: String): Option[String] = Option(row.getAs[String](c))
              def int(c: String): Option[Int] =
                if (row.isNullAt(row.fieldIndex(c))) None
                else Some(row.getAs[Number](c).intValue())
              def js(o: Option[String]) = o.map(quote).getOrElse("null")
              def ji(o: Option[Int]) = o.map(_.toString).getOrElse("null")
              val fields = Seq.newBuilder[(String, String)]
              fields ++= Seq(
                "ref" -> js(str("ref")), "run_ref" -> js(str("run_ref")),
                "severity" -> js(str("severity")),
                "ref_file" -> js(str("ref_file")),
                "ref_line" -> ji(int("ref_line")),
                "ref_column" -> ji(int("ref_column")),
                "message" -> js(str("message")),
                "tool_name" -> js(str("tool_name")),
                "category" -> js(str("category")),
                // the reference coalesces code to rule (serve.py:1236)
                "code" -> js(str("code").orElse(str("rule"))),
                "fingerprint" -> js(str("fingerprint")))
              if (incLog) fields += "log_context" -> (for {
                start <- int("log_line_start")
                body <- engine.output(inv)
              } yield {
                val end = int("log_line_end").getOrElse(start)
                val all = body.split("\n", -1).toIndexedSeq
                val lo = math.max(1, start - lines)
                val hi = math.min(all.size, end + lines)
                val window = (lo to hi).map { n =>
                  val mark = if (n >= start && n <= end) ">" else " "
                  f"$mark$n%5d\t${all(n - 1)}"
                }.mkString("\n")
                quote(s"Line $start:\n$window")
              }).getOrElse("null")
              if (incSrc) fields += "source_context" -> (for {
                f <- str("ref_file"); l <- int("ref_line")
                c <- SourceContext.readSourceContext(f, l, root, lines)
              } yield quote(c)).getOrElse("null")
              if (incGit) fields += "git_context" -> (for {
                f <- str("ref_file"); l <- int("ref_line")
                b <- GitAnnotator.blame(root, f, l)
              } yield {
                val hist = GitAnnotator.fileHistory(root, f, 5).map(c =>
                  s"""{"hash":${quote(c.hash)},"author":${quote(c.author)},""" +
                    s""""time":${c.time},"message":${quote(c.message)}}""")
                  .mkString("[", ",", "]")
                s"""{"last_commit":${quote(b.commit)},""" +
                  s""""last_author":${quote(b.author)},""" +
                  s""""last_modified":${b.authorTime},"recent_commits":$hist}"""
              }).getOrElse("null")
              if (incFp) fields += "fingerprint_history" ->
                str("fingerprint").filter(_.nonEmpty).map { fp =>
                  json(engine.analytics.fingerprintHistory()
                    .filter(col("fingerprint") === fp), 1)
                }.getOrElse("null")
              Right(fields.result()
                .map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}"))
            }
        }
    }
  }
}

object Serve {
  import org.apache.spark.sql.SparkSession

  /** One declared tool argument: `tpe` is a JSON-Schema primitive type
    * name ("string"/"integer"). The wire layer coerces every scalar to
    * the string args [[Serve.call]] takes; the declared type is client
    * guidance (and what an MCP client renders in its tool UI). */
  final case class ToolParam(name: String, tpe: String, description: String,
      required: Boolean = false)

  /** Transport-agnostic tool metadata: enough for any RPC binding to
    * render a registry entry — MCP's tools/list `{name, description,
    * inputSchema}` shape is generated 1:1 from this by
    * [[JsonRpcServe]]. Tool semantics mirror the reference's serve
    * surface (serve.py's @mcp.tool functions); see the class scaladoc
    * mapping table. */
  final case class ToolSpec(name: String, description: String,
      params: Seq[ToolParam])

  val toolSpecs: Seq[ToolSpec] = Seq(
    ToolSpec("query",
      "Filter the flat events view with the filter mini-language; returns matching events as JSON rows.",
      Seq(
        ToolParam("filter", "string",
          "';'-separated filter clauses, e.g. \"severity=error;ref_file~src/%\""),
        ToolParam("select", "string", "comma-separated column list to project"),
        ToolParam("limit", "integer", "max rows to return (default 100)"))),
    ToolSpec("events",
      "List events for one run, addressed by run ref (serial, ~N for N-back, or source:last).",
      Seq(
        ToolParam("ref", "string", "run reference; default ~1 (most recent run)"),
        ToolParam("limit", "integer", "max rows to return (default 100)"))),
    ToolSpec("errors", "Most recent error events across runs.",
      Seq(ToolParam("limit", "integer", "max rows (default 10)"))),
    ToolSpec("warnings", "Most recent warning events across runs.",
      Seq(ToolParam("limit", "integer", "max rows (default 10)"))),
    ToolSpec("status", "Latest-run status board per source.", Seq.empty),
    ToolSpec("history", "Run history, newest first.",
      Seq(ToolParam("limit", "integer", "max rows (default 20)"))),
    ToolSpec("summary", "Grouped error rollup (fingerprint, count, example).",
      Seq.empty),
    ToolSpec("diff", "Fingerprint/count diff between two runs.",
      Seq(
        ToolParam("run1", "integer", "baseline run serial", required = true),
        ToolParam("run2", "integer", "candidate run serial", required = true))),
    ToolSpec("report", "Markdown status report (history + hot files).",
      Seq(
        ToolParam("history", "integer", "history depth (default 10)"),
        ToolParam("files", "integer", "hot-file count (default 10)"))),
    ToolSpec("ci_check",
      "CI gate verdict between a baseline and candidate run: new/fixed/unchanged errors plus samples.",
      Seq(
        ToolParam("baseline", "integer", "baseline run serial", required = true),
        ToolParam("candidate", "integer", "candidate run serial", required = true))),
    ToolSpec("output",
      "Captured output of an invocation: full body, a line window, or grep with context.",
      Seq(
        ToolParam("invocation_id", "string", "invocation to read", required = true),
        ToolParam("grep", "string", "regex to search for"),
        ToolParam("ctx", "integer", "grep context lines (default 2)"),
        ToolParam("lines", "string", "line window spec, e.g. 10:20"))),
    ToolSpec("import",
      "Ingest a log file (or glob of files, parsed distributed) into the store.",
      Seq(
        ToolParam("path", "string", "file path or glob", required = true),
        ToolParam("format", "string", "named format or 'auto' (default auto)"),
        ToolParam("tag", "string", "optional run tag"))),
    ToolSpec("sql",
      "Read-only SQL over the registered views (SELECT/WITH only; registered relations only).",
      Seq(
        ToolParam("q", "string", "the SQL text", required = true),
        ToolParam("limit", "integer", "max rows to return (default 100)"))),
    ToolSpec("source_context",
      "Source window around an event's file:line; refuses paths escaping the given root.",
      Seq(
        ToolParam("ref_file", "string", "file path from the event", required = true),
        ToolParam("ref_line", "integer", "line number (default 1)"),
        ToolParam("root", "string", "source root the path must stay under", required = true),
        ToolParam("context", "integer", "lines of context each side (default 5)"))),
    ToolSpec("register_command",
      "Register a named command or {param} template in the durable command registry.",
      Seq(
        ToolParam("name", "string", "command name", required = true),
        ToolParam("cmd", "string", "simple command (exclusive with tpl)"),
        ToolParam("tpl", "string",
          "template with {name}/{name=default}/{name:}/{name:=default} placeholders"),
        ToolParam("defaults", "string", "JSON object of default placeholder values"),
        ToolParam("description", "string", "human description"),
        ToolParam("timeout", "integer", "timeout in milliseconds"),
        ToolParam("format", "string", "log format (default: detected from the command)"),
        ToolParam("force", "string", "overwrite an existing different command (true/false)"))),
    ToolSpec("commands", "List registered commands.", Seq.empty),
    ToolSpec("unregister_command", "Remove a command from the registry.",
      Seq(ToolParam("name", "string", "command name", required = true))),
    ToolSpec("run",
      "Execute a registered command by name; caller values are shell-quoted into the template.",
      Seq(
        ToolParam("command", "string", "registered command name", required = true),
        ToolParam("args", "string", "JSON object of named template args"),
        ToolParam("positional", "string", "JSON array of positional args"),
        ToolParam("extra", "string", "JSON array of passthrough args appended quoted"))),
    ToolSpec("event",
      "Full detail of one event, addressed by a ref that includes an event index (e.g. build:5:2).",
      Seq(ToolParam("ref", "string", "run:serial:event reference", required = true))),
    ToolSpec("info",
      "Run detail by ref, invocation UUID, or source name (latest run of that source).",
      Seq(ToolParam("ref", "string", "run reference; default ~1 (most recent)"))),
    ToolSpec("last",
      "Most recent run summary, optionally with a severity-filtered event slice.",
      Seq(
        ToolParam("severity", "string", "include events of this severity"),
        ToolParam("errors", "string", "true = shorthand for severity=error"),
        ToolParam("limit", "integer", "max events to include (default 20)"))),
    ToolSpec("exec",
      "Execute an ad-hoc command and capture/parse/store its output; a command extending a registered command runs through the registry (matched_command in the response).",
      Seq(
        ToolParam("command", "string", "command line to run (no shell syntax unless shell=true)", required = true),
        ToolParam("args", "string", "JSON array of extra arguments"),
        ToolParam("timeout", "integer", "timeout in milliseconds (default 600000)"),
        ToolParam("shell", "string", "true = run via sh -c (allows pipes/redirects)"),
        ToolParam("format", "string", "log format hint (default auto)"))),
    ToolSpec("inspect",
      "Comprehensive event detail in one call: event core plus log/source/git context and fingerprint history behind include_* flags; refs= (JSON array) batches multiple events.",
      Seq(
        ToolParam("ref", "string", "run:serial:event reference (ignored when refs= is set)"),
        ToolParam("refs", "string", "JSON array of event references for batch mode"),
        ToolParam("lines", "integer", "context lines each side (default 5)"),
        ToolParam("include_log_context", "string", "include surrounding output lines (default true)"),
        ToolParam("include_source_context", "string", "include source file window (default true)"),
        ToolParam("include_git_context", "string", "include git blame + recent commits (default false)"),
        ToolParam("include_fingerprint_history", "string", "include occurrence history (default false)"),
        ToolParam("root", "string", "source root for source/git context (default: config active_root)"))),
    ToolSpec("config",
      "Read or update the in-memory session config (active_root, log_level, default_lines_window, default_history_limit); env-seeded at launch, reset=true reverts to the seed.",
      Seq(
        ToolParam("set", "string", "JSON object of keys to update; invalid updates leave config unchanged"),
        ToolParam("reset", "string", "true = revert to env-seeded values"))),
    ToolSpec("clean",
      "Store maintenance: preview or delete run data (mode=data/schema), prune by age/count/size (mode=prune), bin-pack small part files (mode=compact), compact append-grown bucketed index tables (mode=compact_index), or remove the whole store (mode=full). confirm=true required to modify.",
      Seq(
        ToolParam("mode", "string", "data | prune | compact | compact_index | schema | full (default data)"),
        ToolParam("confirm", "string", "must be true to actually delete/compact; false returns a preview"),
        ToolParam("days", "integer", "prune: remove partitions older than this many days"),
        ToolParam("max_runs", "integer", "prune: keep at most N runs per source"),
        ToolParam("max_size_mb", "integer", "prune: keep events+outputs under N MB total"),
        ToolParam("target_mb", "integer", "compact: target part-file size (default 128)"),
        ToolParam("min_files", "integer", "compact: only partitions with at least N part files (default 4)"),
        ToolParam("table", "string", "compact_index: comma-separated bucketed catalog tables"),
        ToolParam("min_files_per_bucket", "number", "compact_index: only tables at/above this measured debt (default 2)"))))
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedRelation}
  import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
  import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, ParsedStatement}

  /** JVM-reflection SQL functions a serving surface must never run. */
  private[api] val bannedSqlFunctions: Set[String] =
    Set("reflect", "java_method")

  /** POSIX shlex-style tokenizer for the non-shell exec paths —
    * behavior-matches the reference's `shlex.split(command)`
    * (serve.py:648): single quotes are fully literal, double quotes
    * group with `\"`/`\\` escapes, a bare backslash escapes the next
    * character, unquoted whitespace splits. Unbalanced quotes are a
    * caller error (→ the error document, like Python's ValueError). */
  private[graft] def shlexSplit(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var hasToken = false
    var inSingle = false
    var inDouble = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inSingle) {
        if (c == '\'') inSingle = false else cur.append(c)
      } else if (inDouble) {
        if (c == '"') inDouble = false
        else if (c == '\\' && i + 1 < s.length &&
            (s.charAt(i + 1) == '"' || s.charAt(i + 1) == '\\')) {
          cur.append(s.charAt(i + 1)); i += 1
        } else cur.append(c)
      } else c match {
        case '\'' => inSingle = true; hasToken = true
        case '"' => inDouble = true; hasToken = true
        case '\\' if i + 1 < s.length =>
          cur.append(s.charAt(i + 1)); i += 1; hasToken = true
        case w if w.isWhitespace =>
          if (hasToken) { out += cur.result(); cur.clear(); hasToken = false }
        case other => cur.append(other); hasToken = true
      }
      i += 1
    }
    require(!inSingle && !inDouble, "unbalanced quotes in command")
    if (hasToken) out += cur.result()
    out.result()
  }

  /** The parsed plan plus every plan nested inside subquery
    * expressions (EXISTS / IN / scalar subqueries) — TreeNode.collect
    * alone does not descend into expression-embedded plans. */
  private def allPlans(p: LogicalPlan): Seq[LogicalPlan] = {
    val subs = p.flatMap(_.expressions.flatMap(_.collect {
      case s: SubqueryExpression => s.plan
    }))
    p +: subs.flatMap(allPlans)
  }

  /** Why a parsed SQL statement must not be served, or None if safe:
    * commands/writes, relations outside the session catalog (blocks
    * direct-path scans like ``text.`/etc/passwd` ``), and
    * JVM-reflection functions. */
  private[api] def sqlGuardViolation(spark: SparkSession,
      parsed: LogicalPlan): Option[String] = {
    val plans = allPlans(parsed)
    val mutating = parsed.isInstanceOf[Command] || plans.exists(_.exists {
      case _: InsertIntoStatement => true
      case _: ParsedStatement => true
      case _ => false
    })
    // CTE-defined names are legitimate relations local to the query —
    // WITH t AS (...) SELECT ... FROM t must not be rejected as unknown
    lazy val cteNames: Set[String] = plans.flatMap(_.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase(java.util.Locale.ROOT))
    }.flatten).toSet
    lazy val unknownRelations = plans.flatMap(_.collect {
      case r: UnresolvedRelation
          if !cteNames.contains(
            r.multipartIdentifier.mkString(".").toLowerCase(java.util.Locale.ROOT)) &&
            !spark.catalog.tableExists(r.multipartIdentifier.mkString(".")) =>
        r.multipartIdentifier.mkString(".")
    }).distinct
    lazy val bannedFns = plans.flatMap(_.flatMap(_.expressions.flatMap(_.collect {
      case f: UnresolvedFunction
          if bannedSqlFunctions.contains(
            f.nameParts.last.toLowerCase(java.util.Locale.ROOT)) =>
        f.nameParts.mkString(".")
    }))).distinct
    if (mutating)
      Some("sql tool is read-only: only SELECT-style queries are served")
    else if (unknownRelations.nonEmpty)
      Some(s"sql tool serves registered views only; unknown relation(s): " +
        unknownRelations.mkString(", "))
    else if (bannedFns.nonEmpty)
      Some(s"sql tool refuses reflection functions: ${bannedFns.mkString(", ")}")
    else None
  }

  private def json(df: DataFrame, limit: Int = 100): String = Formatters.json(df, limit)
  private def intArg(args: Map[String, String], k: String, dflt: Int): Int =
    args.get(k).map(_.toInt).getOrElse(dflt)
  private def longArg(args: Map[String, String], k: String): Long =
    args.getOrElse(k, throw new NoSuchElementException(k)).toLong
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def err(msg: String): String = s"""{"error":${quote(msg)}}"""
}
