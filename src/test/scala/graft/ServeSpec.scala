package graft

import java.nio.file.Files
import graft.api.Serve

/** Serving-surface dispatch: the MCP-tool mapping over the engine
  * facade (reference serve.py tool registry). */
class ServeSpec extends SparkSpec {
  import graft.store.EventStore

  /** Jobs one agent session runs on the Fixtures store, as measured
    * (77 before reads used one declared-schema snapshot, 35 before the
    * import committed driver rows and `events` resolved its ref once). */
  private val SessionJobs = 31

  private def mkServe(): Serve = {
    val g = GraftEngine(spark, Files.createTempDirectory("serve").toString)
    g.importContent(
      """a.py:1: error: bad type  [assignment]
        |b.py:5: warning: unused import  [unused-import]
        |Found 1 error in 1 file""".stripMargin, format = "mypy_text",
      tag = Some("types"))
    g.importContent(
      """a.py:1: error: bad type  [assignment]
        |c.py:9: error: not callable  [misc]
        |Found 2 errors in 2 files""".stripMargin, format = "mypy_text",
      tag = Some("types"))
    new Serve(g)
  }

  test("command registry: register → run → query round-trip, durable on disk") {
    val root = Files.createTempDirectory("serve_reg").toString
    val g = GraftEngine(spark, root)
    val s = new Serve(g)
    // template with a positional-able required param and a kw default
    val reg = s.call("register_command", Map(
      "name" -> "fakecc",
      "tpl" -> "printf '%s:1:2: error: broken\\n' {file:} {flags=}",
      "description" -> "fake compiler", "format" -> "gcc_text"))
    assert(reg.contains("\"success\":true") && reg.contains("\"existing\":false"))
    // idempotent re-register of the identical command
    assert(s.call("register_command", Map("name" -> "fakecc",
      "tpl" -> "printf '%s:1:2: error: broken\\n' {file:} {flags=}"))
      .contains("\"existing\":true"))
    // same name, different command: refused without force
    assert(s.call("register_command",
      Map("name" -> "fakecc", "cmd" -> "true")).contains("error"))
    // run by name with a positional arg; value lands shell-quoted
    val run = s.call("run", Map(
      "command" -> "fakecc", "positional" -> """["src/x.c"]"""))
    assert(run.contains("\"status\":\"FAIL\"") && run.contains("\"errors\":1"), run)
    // the parsed event is queryable through the normal surface
    assert(s.call("errors", Map("limit" -> "5")).contains("src/x.c"))
    // registry survives a fresh Serve over the same root (file-backed)
    val s2 = new Serve(GraftEngine(spark, root))
    assert(s2.call("commands").contains("fakecc"))
    assert(s2.call("unregister_command", Map("name" -> "fakecc"))
      .contains("\"success\":true"))
    assert(!s2.call("commands").contains("fakecc"))
    assert(s2.call("run", Map("command" -> "fakecc")).contains("not registered"))
  }

  test("run tool shell-quotes caller values (injection stays literal)") {
    val root = Files.createTempDirectory("serve_inj").toString
    val g = GraftEngine(spark, root)
    val s = new Serve(g)
    s.call("register_command", Map(
      "name" -> "echoer", "tpl" -> "echo {msg}", "format" -> "auto"))
    val evil = """x"; touch /tmp/serve_pwned_graft; echo "y"""
    val run = s.call("run", Map("command" -> "echoer",
      "args" -> s"""{"msg":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build().writeValueAsString(evil)}}"""))
    assert(run.contains("\"exit_code\":0"))
    assert(!Files.exists(java.nio.file.Paths.get("/tmp/serve_pwned_graft")))
    // the echoed output contains the literal value, not its execution
    val outs = g.output(run.split("\"invocation_id\":\"")(1).takeWhile(_ != '"'))
    assert(outs.exists(_.contains("touch /tmp/serve_pwned_graft")))

    // cross-placeholder injection: a VALUE carrying a later
    // placeholder's literal ("{b}") must never be re-expanded — the
    // pre-fix single-replaceFirst loop substituted b's payload INSIDE
    // a's already-added quotes, splicing an unquoted command in.
    s.call("register_command", Map(
      "name" -> "two", "tpl" -> "echo {a} {b}", "format" -> "auto"))
    val run2 = s.call("run", Map("command" -> "two",
      "args" -> """{"a":"{b}","b":"x; touch /tmp/serve_pwned_graft2"}"""))
    assert(run2.contains("\"exit_code\":0"), run2)
    assert(!Files.exists(java.nio.file.Paths.get("/tmp/serve_pwned_graft2")))
    val outs2 = g.output(run2.split("\"invocation_id\":\"")(1).takeWhile(_ != '"'))
    // literal "{b}" printed, payload printed as text — nothing ran
    assert(outs2.exists(o => o.contains("{b}") &&
      o.contains("touch /tmp/serve_pwned_graft2")), outs2.mkString("|"))
  }

  test("event / info / last tools resolve refs against stored runs") {
    val s = mkServe()
    // event detail by tag:serial:event_index
    val ev = s.call("event", Map("ref" -> "types:2:1"))
    assert(ev.contains("not callable") && ev.contains("\"severity\""), ev)
    // ref without an event index is a usage error, not a crash
    assert(s.call("event", Map("ref" -> "types:2")).contains("error"))
    // info by explicit ref, by source name, and default (most recent)
    val info = s.call("info", Map("ref" -> "types:1"))
    assert(info.contains("\"run_serial\": 1") || info.contains("\"run_serial\":1"))
    assert(s.call("info", Map("ref" -> "types")).contains("\"run_ref\""))
    assert(s.call("info").contains("\"run_ref\""))
    assert(s.call("info", Map("ref" -> "nope:99")).contains("error"))
    // last: newest run summary + error slice on demand
    val last = s.call("last", Map("errors" -> "true"))
    assert(last.contains("\"run\":"))
    assert(last.contains("not callable")) // error events included
    val bare = s.call("last")
    assert(bare.contains("\"run\":") && !bare.contains("\"events\":"))
  }

  test("query tool: filter mini-language + select + limit → json") {
    val s = mkServe()
    val out = s.call("query", Map(
      "filter" -> "severity=error", "select" -> "message,ref_file", "limit" -> "10"))
    assert(out.contains("\"message\"") && out.contains("bad type"))
    assert(!out.contains("unused import")) // warning filtered out
  }

  test("errors / history / status / summary / events tools return rows") {
    val s = mkServe()
    assert(s.call("errors", Map("limit" -> "5")).contains("not callable"))
    assert(s.call("history").contains("\"run_serial\""))
    assert(s.call("status").contains("[FAIL]"))
    assert(s.call("summary").contains("mypy"))
    assert(s.call("events", Map("ref" -> "types:2")).contains("not callable"))
  }

  test("diff and ci_check tools compare runs") {
    val s = mkServe()
    val diff = s.call("diff", Map("run1" -> "1", "run2" -> "2"))
    assert(diff.contains("delta"))
    val ci = s.call("ci_check", Map("baseline" -> "1", "candidate" -> "2"))
    assert(ci.contains("\"pass\":false"))
    assert(ci.contains("\"new_errors\":1"))
    assert(ci.contains("not callable")) // sample from the new set
  }

  test("report tool renders markdown; sql tool queries views") {
    val s = mkServe()
    assert(s.call("report").contains("#"))
    val out = s.call("sql", Map(
      "q" -> "SELECT count(*) AS n FROM blq_events WHERE severity = 'error'"))
    assert(out.contains("\"n\": 3") || out.contains("\"n\": 3"))
  }

  test("import tool: glob path dispatches the distributed ingest") {
    val s = mkServe()
    val dir = Files.createTempDirectory("serve_logs")
    Files.writeString(dir.resolve("one.log"), "x.c:1:2: error: nope\n")
    Files.writeString(dir.resolve("two.log"), "y.c:3:4: warning: meh\n")
    val out = s.call("import", Map("path" -> s"$dir/*.log", "format" -> "gcc_text"))
    assert(out.contains("\"errors\":1") && out.contains("\"warnings\":1"))
  }

  test("unknown tool and malformed args degrade to json errors") {
    val s = mkServe()
    assert(s.call("frobnicate").contains("\"error\""))
    assert(s.call("diff", Map("run1" -> "1")).contains("\"error\""))
    assert(s.call("events", Map("ref" -> "nope:99")).contains("\"error\""))
    // engine-level exceptions (AnalysisException, parse errors, bad
    // paths, bad numbers) must also come back as error documents
    assert(s.call("query", Map("filter" -> "sevrity=error")).contains("\"error\""))
    assert(s.call("sql", Map("q" -> "SELEC 1")).contains("\"error\""))
    assert(s.call("import", Map("path" -> "/nope/nowhere/*.log")).contains("\"error\""))
    assert(s.call("errors", Map("limit" -> "many")).contains("\"error\""))
  }

  test("sql tool is read-only: DDL/SET/DROP rejected, session intact") {
    val s = mkServe()
    for (stmt <- Seq(
        "DROP VIEW blq_events",
        "SET spark.sql.shuffle.partitions=1",
        "CREATE TABLE boom AS SELECT 1",
        "CREATE OR REPLACE TEMP VIEW blq_events AS SELECT 1 AS x")) {
      val out = s.call("sql", Map("q" -> stmt))
      assert(out.contains("read-only"), s"'$stmt' was not rejected: $out")
    }
    // the session survived and the view is untouched
    assert(s.call("sql", Map("q" -> "SELECT count(*) AS n FROM blq_events"))
      .contains("\"n\""))
  }

  test("sql tool: direct-path scans and reflection functions refused") {
    val s = mkServe()
    val secret = Files.createTempFile("serve_secret", ".txt")
    Files.writeString(secret, "top-secret-content")
    // direct-path table scan would read arbitrary host files
    val scan = s.call("sql", Map("q" -> s"SELECT * FROM text.`$secret`"))
    assert(scan.contains("\"error\"") && !scan.contains("top-secret-content"))
    // subquery placement must not dodge the relation check
    val sub = s.call("sql", Map("q" ->
      s"SELECT 1 WHERE EXISTS (SELECT * FROM text.`$secret`)"))
    assert(sub.contains("\"error\"") && !sub.contains("top-secret-content"))
    // JVM reflection reads env vars / invokes arbitrary statics
    for (fn <- Seq("reflect", "java_method")) {
      val out = s.call("sql", Map("q" ->
        s"SELECT $fn('java.lang.System','getenv','HOME') AS v"))
      assert(out.contains("\"error\""), s"$fn was served: $out")
    }
    // plain view queries still fine after all the rejections
    assert(s.call("sql", Map("q" -> "SELECT count(*) AS n FROM blq_events"))
      .contains("\"n\""))
    // CTE names are query-local relations, not unknown tables
    val cte = s.call("sql", Map("q" ->
      "WITH t AS (SELECT severity FROM blq_events) SELECT count(*) AS n FROM t"))
    assert(!cte.contains("\"error\""), cte)
    assert(cte.contains("\"n\""))
  }

  test("events tool without a ref defaults to the most recent run") {
    val s = mkServe()
    val out = s.call("events")
    assert(!out.startsWith("""{"error""""), out)
    assert(out.contains("not callable")) // run 2's event
  }

  test("source_context tool: P10 path-escape guard refuses traversal") {
    import graft.api.SourceContext
    val root = Files.createTempDirectory("srcroot")
    val outside = Files.createTempDirectory("srcout")
    Files.createDirectories(root.resolve("sub"))
    Files.writeString(root.resolve("sub/ok.c"), (1 to 9).map(i => s"line$i").mkString("\n"))
    Files.writeString(outside.resolve("secret.txt"), "secret")
    // direct util: relative, legit-absolute-inside, escape forms
    assert(SourceContext.resolveUnderRoot(root.toString, "sub/ok.c").isDefined)
    assert(SourceContext.resolveUnderRoot(root.toString,
      root.resolve("sub/ok.c").toString).isDefined)
    assert(SourceContext.resolveUnderRoot(root.toString,
      s"../${outside.getFileName}/secret.txt").isEmpty)
    assert(SourceContext.resolveUnderRoot(root.toString,
      outside.resolve("secret.txt").toString).isEmpty)
    assert(SourceContext.resolveUnderRoot(root.toString,
      "sub/../../escape.txt").isEmpty)
    // through the tool: context window renders; traversal errors
    val s = mkServe()
    val ok = s.call("source_context", Map("ref_file" -> "sub/ok.c",
      "ref_line" -> "5", "root" -> root.toString, "context" -> "2"))
    assert(ok.contains("line5") && ok.contains(">") && !ok.contains("line1"))
    val bad = s.call("source_context", Map(
      "ref_file" -> s"../${outside.getFileName}/secret.txt",
      "ref_line" -> "1", "root" -> root.toString))
    assert(bad.contains("\"error\"") && !bad.contains("secret"))
  }

  test("json-rpc transport drives tools end-to-end over a stream pair") {
    import graft.api.JsonRpcServe
    val rpc = new JsonRpcServe(mkServe())
    val requests = Seq(
      """{"jsonrpc":"2.0","id":1,"method":"tools/list"}""",
      """{"jsonrpc":"2.0","id":2,"method":"errors","params":{"limit":"5"}}""",
      """{"jsonrpc":"2.0","id":3,"method":"diff","params":{"run1":"1","run2":"2"}}""",
      """{"jsonrpc":"2.0","id":4,"method":"report"}""",
      """{"jsonrpc":"2.0","method":"status"}""",
      """{"jsonrpc":"2.0","id":5,"method":"nope"}""",
      """this is not json""").mkString("\n")
    val in = new java.io.ByteArrayInputStream(
      requests.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new java.io.ByteArrayOutputStream()
    rpc.loop(in, out)
    val lines = out.toString("UTF-8").trim.split("\n")
    // 7 requests, one notification (no id) → 6 responses
    assert(lines.length === 6, lines.mkString("\n"))
    assert(lines(0).contains("\"tools\"") && lines(0).contains("source_context"))
    assert(lines(1).contains("\"id\":2") && lines(1).contains("not callable"))
    assert(lines(2).contains("\"id\":3") && lines(2).contains("delta"))
    assert(lines(3).contains("\"markdown\""))
    assert(lines(4).contains("-32601"))
    assert(lines(5).contains("-32700"))
  }

  test("mcp: initialize → initialized → tools/list → tools/call → errors through the stdio loop") {
    import graft.api.JsonRpcServe
    val rpc = new JsonRpcServe(mkServe())
    // a stock MCP client's opening frames, then tool traffic
    val requests = Seq(
      """{"jsonrpc":"2.0","id":0,"method":"initialize","params":{"protocolVersion":"2024-11-05","capabilities":{},"clientInfo":{"name":"test-client","version":"1.0"}}}""",
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
      """{"jsonrpc":"2.0","id":1,"method":"tools/list"}""",
      """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"errors","arguments":{"limit":5}}}""",
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"diff","arguments":{"run1":"1","run2":"2"}}}""",
      """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{"name":"output","arguments":{"invocation_id":"nope"}}}""",
      """{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{"name":"no_such_tool","arguments":{}}}""",
      """{"jsonrpc":"2.0","id":6,"method":"ping"}""").mkString("\n")
    val in = new java.io.ByteArrayInputStream(
      requests.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new java.io.ByteArrayOutputStream()
    rpc.loop(in, out)
    val lines = out.toString("UTF-8").trim.split("\n")
    // 8 frames, one notification → 7 responses
    assert(lines.length === 7, lines.mkString("\n"))
    // initialize: echoes the requested protocol version, declares tools
    assert(lines(0).contains("\"protocolVersion\":\"2024-11-05\""))
    assert(lines(0).contains("\"tools\"") && lines(0).contains("\"serverInfo\""))
    // tools/list: MCP-shaped entries with JSON-Schema inputSchema
    assert(lines(1).contains("\"inputSchema\""))
    assert(lines(1).contains("\"type\":\"object\""))
    assert(lines(1).contains("\"source_context\""))
    assert(lines(1).contains("\"required\":[\"run1\",\"run2\"]"))
    // tools/call: content envelope; integer argument coerced
    assert(lines(2).contains("\"content\"") && lines(2).contains("not callable"))
    assert(lines(2).contains("\"isError\":false"))
    assert(lines(3).contains("delta"))
    // tool-level failure → isError:true inside the result
    assert(lines(4).contains("\"isError\":true"))
    // unknown tool → protocol-level -32602
    assert(lines(5).contains("-32602") && lines(5).contains("no_such_tool"))
    // ping → empty result
    assert(lines(6).contains("\"id\":6") && lines(6).contains("\"result\":{}"))
  }

  test("mcp prompts: list + get return data-grounded templates") {
    import graft.api.JsonRpcServe
    val rpc = new JsonRpcServe(mkServe())
    val init = rpc.handle(
      """{"jsonrpc":"2.0","id":0,"method":"initialize","params":{"protocolVersion":"2024-11-05"}}""").get
    assert(init.contains("\"prompts\""))
    val list = rpc.handle("""{"jsonrpc":"2.0","id":1,"method":"prompts/list"}""").get
    for (p <- Seq("fix-errors", "analyze-regression", "summarize-run", "investigate-flaky"))
      assert(list.contains("\"" + p + "\""), list)
    assert(list.contains("\"arguments\"") && list.contains("\"required\":false"))
    // fix-errors: the stored error rows are interpolated into the body
    val fix = rpc.handle(
      """{"jsonrpc":"2.0","id":2,"method":"prompts/get","params":{"name":"fix-errors","arguments":{"limit":"5"}}}""").get
    assert(fix.contains("\"messages\"") && fix.contains("\"role\":\"user\""))
    assert(fix.contains("Errors to Fix") && fix.contains("not callable"), fix.take(600))
    // summarize-run: newest run's counts
    val sum = rpc.handle(
      """{"jsonrpc":"2.0","id":3,"method":"prompts/get","params":{"name":"summarize-run"}}""").get
    assert(sum.contains("Run Details") && sum.contains("**Errors:** 2"))
    // analyze-regression: defaults pick newest run as bad
    val reg = rpc.handle(
      """{"jsonrpc":"2.0","id":4,"method":"prompts/get","params":{"name":"analyze-regression"}}""").get
    assert(reg.contains("Error Deltas") && reg.contains("New Errors"))
    // flaky: history table over both runs
    val flaky = rpc.handle(
      """{"jsonrpc":"2.0","id":5,"method":"prompts/get","params":{"name":"investigate-flaky","arguments":{"lookback":"5"}}}""").get
    assert(flaky.contains("Test History"))
    // unknown prompt: protocol-level -32602
    val bad = rpc.handle(
      """{"jsonrpc":"2.0","id":6,"method":"prompts/get","params":{"name":"nope"}}""").get
    assert(bad.contains("-32602") && bad.contains("nope"))
    // malformed numeric argument: an error document, not a dead loop
    val nan = rpc.handle(
      """{"jsonrpc":"2.0","id":7,"method":"prompts/get","params":{"name":"fix-errors","arguments":{"limit":"abc"}}}""").get
    assert(nan.contains("-32602") && nan.contains("invalid prompt argument"), nan)
    // and the server still answers afterwards
    val again = rpc.handle(
      """{"jsonrpc":"2.0","id":8,"method":"prompts/get","params":{"name":"summarize-run"}}""").get
    assert(again.contains("Run Details"), again.take(300))
  }

  test("mcp resources: list, templates, and reads over blq:// uris") {
    import graft.api.JsonRpcServe
    val rpc = new JsonRpcServe(mkServe())
    val init = rpc.handle(
      """{"jsonrpc":"2.0","id":0,"method":"initialize","params":{"protocolVersion":"2024-11-05"}}""").get
    assert(init.contains("\"resources\""))
    val list = rpc.handle("""{"jsonrpc":"2.0","id":1,"method":"resources/list"}""").get
    for (u <- Seq("blq://status", "blq://runs", "blq://errors", "blq://guide"))
      assert(list.contains(u), list)
    val tpl = rpc.handle("""{"jsonrpc":"2.0","id":2,"method":"resources/templates/list"}""").get
    assert(tpl.contains("blq://event/{ref}") && tpl.contains("blq://errors/{run_serial}"))
    // static read: stored error rows in the body
    val errs = rpc.handle(
      """{"jsonrpc":"2.0","id":3,"method":"resources/read","params":{"uri":"blq://errors"}}""").get
    assert(errs.contains("\"contents\"") && errs.contains("not callable"))
    // templated read: run-scoped errors via the filter mini-language
    val run2 = rpc.handle(
      """{"jsonrpc":"2.0","id":4,"method":"resources/read","params":{"uri":"blq://errors/2"}}""").get
    assert(run2.contains("not callable"), run2.take(400))
    val run1 = rpc.handle(
      """{"jsonrpc":"2.0","id":5,"method":"resources/read","params":{"uri":"blq://errors/1"}}""").get
    assert(!run1.contains("not callable") && run1.contains("bad type"))
    // guide is markdown
    val guide = rpc.handle(
      """{"jsonrpc":"2.0","id":6,"method":"resources/read","params":{"uri":"blq://guide"}}""").get
    assert(guide.contains("text/markdown") && guide.contains("Quick Reference"))
    // unknown uri → -32002 (MCP resource-not-found)
    val bad = rpc.handle(
      """{"jsonrpc":"2.0","id":7,"method":"resources/read","params":{"uri":"blq://nope"}}""").get
    assert(bad.contains("-32002"))
  }

  test("json-rpc: explicit null id answered; structured params rejected") {
    import graft.api.JsonRpcServe
    val rpc = new JsonRpcServe(mkServe())
    // "id":null is NOT a notification per spec — it must get a response
    val nullId = rpc.handle("""{"jsonrpc":"2.0","id":null,"method":"status"}""")
    assert(nullId.isDefined && nullId.get.contains("\"id\":null"))
    // object-valued params would be flattened to "" by asText and
    // silently serve unfiltered results — must be -32602 instead
    val structured = rpc.handle(
      """{"jsonrpc":"2.0","id":9,"method":"query","params":{"filter":{"severity":"error"}}}""")
    assert(structured.isDefined && structured.get.contains("-32602"))
    assert(structured.get.contains("filter"))
  }

  test("query tool honors limits above the formatter default (100)") {
    val g = GraftEngine(spark, Files.createTempDirectory("serve_big").toString)
    val lines = (1 to 120).map(i => s"f$i.py:$i: error: broken $i  [misc]")
    g.importContent(lines.mkString("\n"), format = "mypy_text")
    val s = new Serve(g)
    val out = s.call("query", Map("select" -> "ref_file", "limit" -> "150"))
    val rows = "\"ref_file\"".r.findAllIn(out).length
    assert(rows === 120, s"expected all 120 rows, got $rows")
  }

  test("event detail carries fingerprint history with a regression flag") {
    val g = GraftEngine(spark, Files.createTempDirectory("serve_hist").toString)
    // run 1: the flaky error present; run 2: FIXED (absent); run 3: back
    g.importContent("a.py:1: error: flaky thing  [misc]",
      format = "mypy_text", tag = Some("t"))
    g.importContent("b.py:2: error: other thing  [misc]",
      format = "mypy_text", tag = Some("t"))
    g.importContent("a.py:1: error: flaky thing  [misc]",
      format = "mypy_text", tag = Some("t"))
    val s = new Serve(g)
    val ev = s.call("event", Map("ref" -> "t:3:0"))
    assert(ev.contains("\"event\":") && ev.contains("\"history\":"), ev.take(400))
    assert(ev.contains("flaky thing"))
    // skipped run 2 → gap of 2 in the run-serial sequence → regression
    assert(ev.replaceAll("\\s", "").contains("\"is_regression\":true"), ev.take(800))
    assert(ev.replaceAll("\\s", "").contains("\"occurrences\":2"), ev.take(800))
    // the steady error (present only once) is NOT a regression
    val ev2 = s.call("event", Map("ref" -> "t:2:0"))
    assert(ev2.replaceAll("\\s", "").contains("\"is_regression\":false"), ev2.take(800))
  }

  test("exec tool: ad-hoc run stored; registered-command prefix match routes through the registry") {
    val g = GraftEngine(spark, Files.createTempDirectory("serve_exec").toString)
    val s = new Serve(g)
    // direct argv exec (no shell) — parsed, stored, summarized
    val out = s.call("exec", Map("command" -> "echo hello world"))
    assert(out.contains("\"run_serial\":1") && out.contains("\"exit_code\":0"), out)
    assert(!out.contains("matched_command"))
    // shell mode allows pipes
    val sh = s.call("exec", Map("command" -> "printf 'x:1:2: error: boom\\n' | cat",
      "shell" -> "true", "format" -> "gcc_text"))
    assert(sh.contains("\"errors\":1"), sh)
    // a command line extending a registered simple command runs via
    // the registry: tagged with the registered name, matched_command set
    assert(s.call("register_command", Map("name" -> "greet",
      "cmd" -> "echo hi", "format" -> "auto")).contains("\"success\":true"))
    val m = s.call("exec", Map("command" -> "echo hi there"))
    assert(m.contains("\"matched_command\":\"greet\""), m)
    assert(m.contains("\"exit_code\":0"))
    // its run is addressable by the registered name
    assert(s.call("info", Map("ref" -> "greet")).contains("\"run_ref\""))
    // shell mode skips the prefix match (quoting pipe tokens into the
    // registered template would run a different command) — the pipe
    // must actually pipe
    val shm = s.call("exec", Map("command" -> "echo hi there | cat",
      "shell" -> "true"))
    assert(!shm.contains("matched_command"), shm)
    assert(shm.contains("\"exit_code\":0"), shm)
  }

  test("exec tool: quoted arguments tokenize shlex-style, not on whitespace") {
    val g = GraftEngine(spark, Files.createTempDirectory("serve_shlex").toString)
    val s = new Serve(g)
    // printf repeats its format per extra argument: a whitespace split
    // of 'a b' into two args would print [x:'a][x:b'], the shlex split
    // prints exactly [x:a b]
    val out = s.call("exec", Map("command" -> "printf [x:%s] 'a b'"))
    val inv = "\"invocation_id\":\"([^\"]+)\"".r
      .findFirstMatchIn(out).map(_.group(1)).getOrElse(fail(out))
    val body = s.call("output", Map("invocation_id" -> inv))
    assert(body.contains("[x:a b]"), body)
    assert(!body.contains("[x:'a]"), body)
    // the registry-matched path gets the same treatment for its rest
    assert(s.call("register_command", Map("name" -> "say",
      "cmd" -> "printf [y:%s]", "format" -> "auto")).contains("\"success\":true"))
    val m = s.call("exec", Map("command" -> "printf [y:%s] 'c d'"))
    assert(m.contains("\"matched_command\":\"say\""), m)
    val inv2 = "\"invocation_id\":\"([^\"]+)\"".r
      .findFirstMatchIn(m).map(_.group(1)).getOrElse(fail(m))
    assert(s.call("output", Map("invocation_id" -> inv2)).contains("[y:c d]"))
    // unbalanced quotes are an error document, not a dead session
    assert(s.call("exec", Map("command" -> "echo 'oops")).contains("error"))
    // tokenizer unit pins (reference: Python shlex.split, posix mode)
    assert(Serve.shlexSplit("""grep 'a b' f""") === Seq("grep", "a b", "f"))
    assert(Serve.shlexSplit("""a "b \" c" d""") === Seq("a", "b \" c", "d"))
    assert(Serve.shlexSplit("""x\ y z""") === Seq("x y", "z"))
    assert(Serve.shlexSplit("  padded   ws  ") === Seq("padded", "ws"))
    assert(Serve.shlexSplit("a ''") === Seq("a", ""))
  }

  test("inspect tool: composite detail, include_* flags, batch refs") {
    val g = GraftEngine(spark, Files.createTempDirectory("serve_insp").toString)
    // a real source tree so source_context resolves
    val srcRoot = Files.createTempDirectory("serve_insp_src")
    Files.writeString(srcRoot.resolve("a.py"),
      (1 to 8).map(i => s"line number $i").mkString("\n"))
    g.importContent("prelude noise\na.py:3: error: boom  [misc]",
      format = "mypy_text", tag = Some("t"))
    g.importContent("a.py:3: error: boom  [misc]",
      format = "mypy_text", tag = Some("t"))
    val s = new Serve(g)
    // defaults: log + source context in, git + fingerprint out
    val one = s.call("inspect",
      Map("ref" -> "t:1:0", "root" -> srcRoot.toString))
    assert(one.contains("\"message\":\"boom\""), one.take(600))
    assert(one.contains("\"log_context\":"), one.take(600))
    assert(one.contains("line number 3"), one.take(800))
    assert(!one.contains("git_context") && !one.contains("fingerprint_history"))
    // flags flip each section independently
    val flags = s.call("inspect", Map("ref" -> "t:1:0",
      "root" -> srcRoot.toString,
      "include_source_context" -> "false",
      "include_fingerprint_history" -> "true"))
    assert(!flags.contains("source_context"), flags.take(600))
    assert(flags.replaceAll("\\s", "").contains("\"occurrences\":2"), flags.take(900))
    // git context on a non-repo root degrades to null, not an error
    val git = s.call("inspect", Map("ref" -> "t:1:0",
      "root" -> srcRoot.toString, "include_git_context" -> "true"))
    assert(git.contains("\"git_context\":null"), git.take(700))
    // batch mode: per-ref errors don't fail the call
    val batch = s.call("inspect",
      Map("refs" -> """["t:1:0","t:1:99"]""", "root" -> srcRoot.toString))
    assert(batch.contains("\"found\":1") && batch.contains("\"total\":2"), batch.take(400))
    assert(batch.contains("\"event\":null"), batch.take(900))
    // a ref without an event index is a usage error
    assert(s.call("inspect", Map("ref" -> "t:1")).contains("error"))
  }

  test("config tool: read, validated update, reset; defaults feed history") {
    val g = GraftEngine(spark, Files.createTempDirectory("serve_cfg").toString)
    for (i <- 1 to 3)
      g.importContent(s"f$i.py:$i: error: e$i  [misc]", format = "mypy_text")
    val s = new Serve(g)
    val base = s.call("config")
    assert(base.contains("\"active_root\"") && base.contains("\"log_level\":\"info\""), base)
    assert(base.contains("\"default_history_limit\":20"), base)
    // merge-update, then the new value is the history tool's default
    val upd = s.call("config",
      Map("set" -> """{"log_level":"debug","default_history_limit":"1"}"""))
    assert(upd.contains("\"log_level\":\"debug\"") &&
      upd.contains("\"default_history_limit\":1"), upd)
    val hist = s.call("history")
    assert("\"run_serial\"".r.findAllIn(hist).length === 1, hist.take(400))
    // invalid value: error document, config unchanged
    assert(s.call("config", Map("set" -> """{"log_level":"loud"}""")).contains("error"))
    assert(s.call("config").contains("\"log_level\":\"debug\""))
    // unknown key: error names it and the known set
    val unk = s.call("config", Map("set" -> """{"nope":"x"}"""))
    assert(unk.contains("unknown config key") && unk.contains("active_root"), unk)
    // reset reverts to the env-seeded state
    val back = s.call("config", Map("reset" -> "true"))
    assert(back.contains("\"log_level\":\"info\"") &&
      back.contains("\"default_history_limit\":20"), back)
    assert("\"run_serial\"".r.findAllIn(s.call("history")).length === 3)
  }

  test("clean mode=full flips the dispatcher to an explicit store-removed state") {
    val root = Files.createTempDirectory("serve_full").toString
    val g = GraftEngine(spark, root)
    g.importContent("f.py:1: error: boom  [misc]", format = "mypy_text")
    val s = new Serve(g)
    val prev = s.call("clean", Map("mode" -> "full"))
    assert(prev.contains("\"preview\":true"), prev)
    val full = s.call("clean", Map("mode" -> "full", "confirm" -> "true"))
    assert(full.contains("\"success\":true") && full.contains("\"store_removed\":true"), full)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root)))
    // every follow-up call — including another clean — is the explicit
    // error, not a raw FileNotFound from planning against the dead root
    val after = s.call("status")
    assert(after.contains("store removed"), after)
    assert(s.call("clean", Map("mode" -> "data")).contains("store removed"))
  }

  test("clean tool: preview never deletes; prune by count rewrites runs; data clear keeps commands") {
    val root = Files.createTempDirectory("serve_clean").toString
    val g = GraftEngine(spark, root)
    for (i <- 1 to 3)
      g.importContent(s"f$i.py:$i: error: e$i  [misc]",
        format = "mypy_text", tag = Some("t"))
    val s = new Serve(g)
    // preview: targets listed, nothing removed
    val prev = s.call("clean", Map("mode" -> "prune", "max_runs" -> "1"))
    assert(prev.contains("\"preview\":true") && prev.contains("\"runs_to_prune\":2"), prev)
    assert(g.history(10).count() === 3)
    // confirmed prune: keep newest 1 run per source, others rewritten away
    val pr = s.call("clean", Map("mode" -> "prune", "max_runs" -> "1",
      "confirm" -> "true"))
    assert(pr.contains("\"success\":true") && pr.contains("\"runs_pruned\":2"), pr)
    assert(g.history(10).count() === 1)
    // the surviving run is the newest and its events survived intact
    assert(s.call("errors", Map("limit" -> "5")).contains("e3"))
    // mode=data requires confirm, then clears runs but keeps commands
    assert(s.call("register_command",
      Map("name" -> "keepme", "cmd" -> "echo x")).contains("\"success\":true"))
    assert(s.call("clean", Map("mode" -> "data")).contains("\"preview\":true"))
    assert(s.call("clean", Map("mode" -> "data", "confirm" -> "true"))
      .contains("\"success\":true"))
    assert(g.history(10).count() === 0)
    assert(s.call("commands").contains("keepme"))
    // the REGISTERED VIEWS must survive the delete too: without view
    // re-registration the next sql call plans against the snapshot
    // listing of deleted part files and throws FileNotFound
    val sql = s.call("sql", Map("q" -> "SELECT count(*) AS n FROM blq_events"))
    assert(sql.contains("\"n\": 0") || sql.contains("\"n\":0"), sql)
    // prune without any bound is a usage error document
    assert(s.call("clean", Map("mode" -> "prune")).contains("error"))
  }

  test("clean mode=compact: preview names targets, confirm bin-packs, queries unchanged") {
    val root = Files.createTempDirectory("serve_compact").toString
    val g = GraftEngine(spark, root)
    // five imports on one date -> five-plus small event part files
    for (i <- 1 to 5)
      g.importContent(s"f$i.py:$i: error: e$i  [misc]", format = "mypy_text")
    val s = new Serve(g)
    val nBefore = g.events.count()
    def partFiles() = new java.io.File(s"$root/events")
      .listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    val filesBefore = partFiles().length
    assert(filesBefore >= 4, s"expected >=4 part files, got $filesBefore")
    // preview: events partition named, nothing rewritten
    val prev = s.call("clean", Map("mode" -> "compact"))
    assert(prev.contains("\"preview\":true") &&
      prev.contains("\"table\":\"events\"") &&
      prev.contains("\"target_files\":1"), prev)
    assert(partFiles().length === filesBefore, "preview must not rewrite")
    // confirm: packed to the target, row set intact, queries still work
    val done = s.call("clean", Map("mode" -> "compact", "confirm" -> "true"))
    assert(done.contains("\"success\":true") &&
      done.contains("\"table\":\"events\""), done)
    assert(partFiles().length === 1)
    assert(g.events.count() === nBefore)
    assert(s.call("errors", Map("limit" -> "10")).contains("e3"))
  }

  test("clean mode=compact_index: preview measures debt, confirm packs, low-debt skipped") {
    import spark.implicits._
    import graft.store.Bucketing
    def tableFiles(t: String): Int = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      new java.io.File(loc).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    }
    try {
      // an append-grown index table (3+ files/bucket) and a freshly
      // written one (at the 1-file-per-bucket floor)
      Bucketing.writeBucketed(
        (1L to 400L).map(i => (i, s"k${i % 37}")).toDF("id", "key"),
        "g_srv_idx", "key", 4)
      for (b <- 1 to 2)
        ((400L * b + 1) to (400L * b + 400L)).map(i => (i, s"k${i % 37}"))
          .toDF("id", "key")
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .option("compression", "zstd")
          .bucketBy(4, "key").sortBy("key").saveAsTable("g_srv_idx")
      Bucketing.writeBucketed(
        (1L to 100L).map(i => (i, s"k${i % 7}")).toDF("id", "key"),
        "g_srv_fresh", "key", 4)
      // writeBucketed emits one file per (task, bucket); pack the
      // "fresh" table to the 1-file-per-bucket floor so it sits below
      // the debt threshold
      Bucketing.compactBucketed(spark, "g_srv_fresh")
      val before = tableFiles("g_srv_idx")
      assert(before > 4, s"expected append debt, got $before files")
      val nRows = spark.table("g_srv_idx").count()

      val s = mkServe()
      // preview: debt measured per table, nothing rewritten
      val prev = s.call("clean", Map("mode" -> "compact_index",
        "table" -> "g_srv_idx,g_srv_fresh"))
      assert(prev.contains("\"preview\":true") &&
        prev.contains("\"table\":\"g_srv_idx\"") &&
        prev.contains("\"files_per_bucket\""), prev)
      assert(tableFiles("g_srv_idx") === before, "preview must not rewrite")
      // confirm: the debt table packs to one file per bucket; the
      // fresh table is below threshold and skipped
      val done = s.call("clean", Map("mode" -> "compact_index",
        "table" -> "g_srv_idx,g_srv_fresh", "confirm" -> "true"))
      assert(done.contains("\"success\":true") &&
        done.contains("\"compacted\":[\"g_srv_idx\"]") &&
        done.contains("\"skipped\":[\"g_srv_fresh\"]"), done)
      assert(tableFiles("g_srv_idx") === 4)
      assert(spark.table("g_srv_idx").count() === nRows)
      // malformed calls are error documents, not dead sessions
      assert(s.call("clean", Map("mode" -> "compact_index")).contains("error"))
      assert(s.call("clean", Map("mode" -> "compact_index",
        "table" -> "no_such_table")).contains("error"))
      assert(s.call("errors", Map("limit" -> "5")).contains("error"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_srv_idx")
      spark.sql("DROP TABLE IF EXISTS g_srv_fresh")
    }
  }

  /** A Serve over the Fixtures store (runs 1..3 on two dates, a
    * pending attempt), plus the import log the sessions below use. */
  private def fixtureServe(tag: String): (GraftEngine, Serve, String) = {
    val root = Files.createTempDirectory(tag).toString
    val g = GraftEngine(spark, root)
    Fixtures.populate(g.store)
    val log = Files.createTempFile(tag, ".log")
    Files.writeString(log,
      "src/a.c:1:1: error: first thing\nsrc/b.c:2:2: warning: second thing\n" +
        "src/c.c:3:3: error: third thing\n")
    (g, new Serve(g), log.toString)
  }

  private def reply(s: Serve, tool: String, args: (String, String)*): String = {
    val r = s.call(tool, args.toMap)
    assert(!r.startsWith("{\"error\""), s"$tool: $r")
    r
  }

  test("one agent session (import + the 8 read tools) runs a pinned number of jobs") {
    val (_, s, log) = fixtureServe("serve_jobs")
    def session(): Unit = {
      reply(s, "import", "path" -> log)
      reply(s, "errors", "limit" -> "10")
      reply(s, "events", "ref" -> "~1", "limit" -> "50")
      reply(s, "diff", "run1" -> "3", "run2" -> "4")
      reply(s, "ci_check", "baseline" -> "3", "candidate" -> "4")
      reply(s, "info", "ref" -> "~1")
      reply(s, "query", "filter" -> "severity=error", "limit" -> "20")
      reply(s, "sql", "q" -> "SELECT severity, count(*) AS n FROM blq_events GROUP BY severity", "limit" -> "50")
      reply(s, "history", "limit" -> "10")
    }
    val jobs = jobsFor(session())
    // no schema-merge job per table read, no re-registration per sql
    // call, no serial aggregate once the snapshot knows the max
    assert(jobs <= SessionJobs, s"one session ran $jobs jobs")
  }

  test("events tool: a ref resolved once against the invocations dimension gives the rollup route's replies") {
    val (g, s, log) = fixtureServe("serve_refs")
    reply(s, "import", "path" -> log) // runs 4 and 5
    reply(s, "import", "path" -> log)
    val uuid = g.store.invocations.filter(org.apache.spark.sql.functions.col("run_serial") === 4L)
      .select("id").head().getString(0)
    // the route through blq_runs: resolve, then look the serial up again
    def viaRollup(ref: String): Option[String] =
      g.run(ref).select("run_serial").collect().headOption.map(r =>
        graft.api.Formatters.json(g.analytics.eventsForRun(r.getLong(0)), 100))
    for (ref <- Seq("~1", "~2", "2", "build:2", uuid)) {
      val expected = viaRollup(ref)
      assert(expected.exists(_ != "[]"), s"$ref must name a run with events")
      assert(s.call("events", Map("ref" -> ref)) === expected.get, ref)
    }
    for (ref <- Seq("99", "nope:7"))
      assert(s.call("events", Map("ref" -> ref)) ===
        s"""{"error":"no run matches ref '$ref'"}""")
    assert(reply(s, "event", "ref" -> "build:2:0").contains("expected ';'"))
    assert(s.call("event", Map("ref" -> "99:0")) === """{"error":"no run matches ref '99:0'"}""")
  }

  test("snapshot: a foreign writer and an external delete reach the next call; concurrent reads never throw") {
    val (g, a, log) = fixtureServe("serve_foreign")
    def history = reply(a, "history", "limit" -> "10")
    def sqlCount(t: String) = reply(a, "sql", "q" -> s"SELECT count(*) AS n FROM $t")
    assert(history.split("run_serial").length - 1 === 3)
    assert(reply(a, "events", "ref" -> "~1") === "[]") // run 3 has no events
    assert(sqlCount("events_raw").contains("\"n\": 5"))

    // a second EventStore on the root commits run 4 into the existing
    // 2026-08-02 partitions; the 2026-08-01 events are removed from
    // outside the engine
    val b = new EventStore(spark, g.root)
    b.commitRun(Fixtures.inv("i4", b.nextRunSerial(), Some("build"),
        "2026-08-02 13:00:00", Some(1), date = Fixtures.d2),
      EventStore.EventFrame(spark.createDataFrame(Seq(Fixtures.ev("e6", "i4", 0, "error",
        "foreign boom", date = Fixtures.d2)))))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"${g.root}/events/date=2026-08-01"))

    assert(history.split("run_serial").length - 1 === 4)
    assert(reply(a, "events", "ref" -> "~1").contains("foreign boom"))
    assert(sqlCount("events_raw").contains("\"n\": 3"))
    assert(sqlCount("blq_events").contains("\"n\": 3"))
    assert(reply(a, "info", "ref" -> "1").contains("\"event_count\": 0"))
    assert(g.store.nextRunSerial() === 5L)

    // read tools on 4 threads while this engine commits runs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    try {
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val writer = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          try (1 to 3).foreach(_ => reply(a, "import", "path" -> log))
          finally done.set(true)
      })
      val readers = (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            val tools = Seq[() => String](
              () => reply(a, "history", "limit" -> "5"),
              () => reply(a, "events", "ref" -> "~1"),
              () => reply(a, "sql", "q" -> "SELECT count(*) AS n FROM blq_runs"),
              () => reply(a, "errors", "limit" -> "5"))
            var n = 0
            while (!done.get() || n < 4) { tools((i + n) % tools.size)(); n += 1 }
            n
          }
        })
      }
      writer.get(5, java.util.concurrent.TimeUnit.MINUTES)
      readers.foreach(r => assert(r.get(5, java.util.concurrent.TimeUnit.MINUTES) >= 4))
    } finally pool.shutdown()
    assert(history.split("run_serial").length - 1 === 7)
    assert(g.store.nextRunSerial() === 8L)
  }
}
