package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import graft.analytics.{Analytics, Lines}
import graft.api.RefResolver
import graft.api.RefResolver.ParsedRef
import graft.store.EventStore
import graft.views.Views

/** Specs for the table-macro facade (Analytics), ref grammar, and the
  * read_lines/search_lines operators. */
class AnalyticsSpec extends SparkSpec {
  import Fixtures._

  private lazy val store: EventStore = {
    val root = Files.createTempDirectory("analytics_store").toString
    val s = new EventStore(spark, root)
    s.commitRun(inv("i1", 1L, Some("build"), "2026-08-01 10:00:00", Some(1)),
      EventStore.EventFrame(spark.createDataFrame(Seq(
        ev("e1", "i1", 0, "error", "undefined variable spam",
          file = Some("a.c"), line = Some(10), fp = Some("fp_spam")),
        ev("e2", "i1", 1, "error", "missing include guard",
          file = Some("a.c"), line = Some(2), fp = Some("fp_guard")),
        ev("e3", "i1", 2, "warning", "unused parameter x",
          file = Some("b.c"), line = Some(5), fp = Some("fp_unused"))))))
    s.commitRun(inv("i2", 2L, Some("build"), "2026-08-01 11:00:00", Some(1)),
      EventStore.EventFrame(spark.createDataFrame(Seq(
        ev("e4", "i2", 0, "error", "undefined variable spam",
          file = Some("a.c"), line = Some(10), fp = Some("fp_spam")),
        ev("e5", "i2", 1, "error", "new null deref",
          file = Some("c.c"), line = Some(7), fp = Some("fp_null")),
        ev("e6", "i2", 2, "error", "double free of ptr",
          file = Some("a.c"), line = Some(30), fp = Some("fp_free"))))))
    s
  }

  private lazy val analytics = new Analytics(store)

  test("errors/warnings: recency-ordered limited slices") {
    val errs = analytics.errors(10).collect()
    assert(errs.length === 5)
    // newest run first
    assert(errs.head.getAs[Long]("run_serial") === 2L)
    assert(analytics.warnings(10).count() === 1)
  }

  test("history and summary") {
    val hist = analytics.history(10).collect()
    assert(hist.map(_.getAs[Long]("run_serial")).toSeq === Seq(2L, 1L))
    val sum = analytics.summary().collect()
    assert(sum.head.getAs[Long]("errors") === 5L) // gcc/compile rollup
  }

  test("diff: per-category error delta between runs") {
    val d = analytics.diff(1L, 2L).collect()
    assert(d.length === 1)
    assert(d.head.getAs[Long]("delta") === 1L) // 2 -> 3 compile errors
  }

  test("fingerprintDiff: fixed / new / unchanged set algebra") {
    val fd = analytics.fingerprintDiff(1L, 2L).collect()
      .groupBy(_.getAs[String]("status")).view.mapValues(_.length).toMap
    // fp_spam unchanged; fp_guard fixed; fp_null + fp_free new
    assert(fd("unchanged") === 1)
    assert(fd("fixed") === 1)
    assert(fd("new") === 2)
  }

  test("newErrors: regression gate via anti-join on history") {
    val ne = analytics.newErrors(2L).collect()
    assert(ne.map(_.getAs[String]("message")).toSet ===
      Set("new null deref", "double free of ptr"))
  }

  test("eventsForRun prunes to the run's date partition") {
    val evs = analytics.eventsForRun(1L)
    assert(evs.count() === 3)
    // the physical scan must carry the date partition filter
    val physical = evs.queryExecution.executedPlan.toString()
    assert(physical.contains("date"))
    assert(analytics.eventsForRun(99L).count() === 0)
  }

  test("flat view keeps the events partition column for pruning") {
    val flat = Views.eventsFlat(store)
    val filtered = flat.filter(col("date") === java.sql.Date.valueOf("2026-08-01"))
    assert(filtered.count() === 6) // all fixture events are on d1
    val plan = filtered.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), "date filter must prune partitions")
  }

  test("errorsByFile ranks hot files") {
    val top = analytics.errorsByFile(5).collect()
    assert(top.head.getAs[String]("ref_file") === "a.c")
    assert(top.head.getAs[Long]("n") === 4L) // e1, e2, e4, e6
  }

  test("queryEvents: severity IN + suppression + file pattern + run scope") {
    assert(analytics.queryEvents(severities = Seq("error")).count() === 5)
    assert(analytics.queryEvents(severities = Seq("error"),
      suppressFingerprints = Seq("fp_spam")).count() === 3)
    assert(analytics.queryEvents(filePattern = Some("c.c")).count() === 1)
    assert(analytics.queryEvents(severities = Seq("error"),
      runSerial = Some(1L)).count() === 2)
    assert(analytics.queryEvents(limit = 2).count() === 2)
  }

  test("fingerprintHistory flags fixed-then-reappeared as regression") {
    // FIXTURES.md §4 regression scenario: fp_flaky in runs 1,2, absent
    // 3-4, reappears in 5; fp_steady in every run.
    val root = Files.createTempDirectory("regression_store").toString
    val s = new EventStore(spark, root)
    for (serial <- 1L to 5L) {
      val evs = Seq.newBuilder[graft.model.Event]
      if (serial <= 2 || serial == 5)
        evs += ev(s"fl$serial", s"r$serial", 0, "error", "flaky boom",
          fp = Some("fp_flaky"))
      evs += ev(s"st$serial", s"r$serial", 1, "error", "steady boom",
        fp = Some("fp_steady"))
      s.commitRun(inv(s"r$serial", serial, Some("build"),
        s"2026-08-01 0$serial:00:00", Some(1)),
        EventStore.EventFrame(spark.createDataFrame(evs.result())))
    }
    val h = new Analytics(s).fingerprintHistory().collect()
      .map(r => r.getAs[String]("fingerprint") ->
        (r.getAs[Boolean]("is_regression"), r.getAs[Long]("occurrences"))).toMap
    assert(h("fp_flaky") === ((true, 3L)))   // gap 2→5 ⇒ regression
    assert(h("fp_steady") === ((false, 5L))) // contiguous 1..5
  }

  test("report: markdown sections render from store relations") {
    val r = analytics.report()
    assert(r.startsWith("# Build log report"))
    assert(r.contains("## Source status"))
    assert(r.contains("## Tool summary"))
    assert(r.contains("a.c")) // hot file appears
    assert(r.contains("| run_serial |"))
  }

  test("ref grammar parses every documented form") {
    assert(RefResolver.parse("5") === ParsedRef(runSerial = Some(5)))
    assert(RefResolver.parse("build:3") === ParsedRef(tag = Some("build"), runSerial = Some(3)))
    assert(RefResolver.parse("test:5:2") ===
      ParsedRef(tag = Some("test"), runSerial = Some(5), eventId = Some(2)))
    assert(RefResolver.parse("5:2") === ParsedRef(runSerial = Some(5), eventId = Some(2)))
    assert(RefResolver.parse("~1") === ParsedRef(relative = Some(1)))
    assert(RefResolver.parse("test:~2") === ParsedRef(tag = Some("test"), relative = Some(2)))
    assert(RefResolver.parse("test:~2:4") ===
      ParsedRef(tag = Some("test"), relative = Some(2), eventId = Some(4)))
    val u = "123e4567-e89b-12d3-a456-426614174000"
    assert(RefResolver.parse(u) === ParsedRef(uuid = Some(u)))
    assert(RefResolver.parse("mybuild") === ParsedRef(tag = Some("mybuild")))
    intercept[IllegalArgumentException](RefResolver.parse("a:b:c"))
  }

  test("ref resolution: serial, relative, tag-latest") {
    val runs = Views.runs(store)
    assert(RefResolver.resolveRun(runs, "1").collect()
      .head.getAs[String]("invocation_id") === "i1")
    assert(RefResolver.resolveRun(runs, "~1").collect()
      .head.getAs[String]("invocation_id") === "i2") // most recent
    assert(RefResolver.resolveRun(runs, "~2").collect()
      .head.getAs[String]("invocation_id") === "i1")
    assert(RefResolver.resolveRun(runs, "build").collect()
      .head.getAs[String]("invocation_id") === "i2") // latest for tag
    assert(RefResolver.resolveRun(runs, "nosuch:99").count() === 0)
  }

  test("readLines: spec windows and marks range-join") {
    val content = (1 to 10).map(i => s"line$i").mkString("\n")
    val r = Lines.readLines(spark, content, "4 +/-1",
      marks = Seq((5, 5, ">>>")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(r.toSeq === Seq((3, "line3", ""), (4, "line4", ""), (5, "line5", ">>>")))
    assert(Lines.parseSpec("100-200") === (100, 200))
    assert(Lines.parseSpec("10-") === (10, Int.MaxValue))
    assert(Lines.parseSpec("-20") === (1, 20))
    assert(Lines.parseSpec("7") === (7, 7))
  }

  test("searchLines: grep with context window") {
    val content = "a\nb\nERROR here\nc\nd\ne"
    val r = Lines.searchLines(spark, content, "error", ctx = 1)
      .collect().map(x => (x.getInt(0), x.getBoolean(2)))
    assert(r.toSeq === Seq((2, false), (3, true), (4, false)))
    val exact = Lines.searchLines(spark, content, "error", ctx = 0,
      caseInsensitive = false)
    assert(exact.count() === 0) // case-sensitive: no match
  }
}
