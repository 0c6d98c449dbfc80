package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model._
import graft.plans.GraftExtensions
import graft.store.EventStore

/** InvocationDatePruning: the optimizer rule that turns a raw
  * `WHERE invocation_id = '…'` over the events table into a date
  * partition filter via the invocations dimension. */
class PruningRuleSpec extends SparkSpec {

  private def mkInv(id: String, serial: Long, d: String) = Invocation(
    id = id, run_serial = serial, session_id = "s", source_name = None,
    source_type = SourceType.Import, tag = None, command = None, cwd = None,
    executable_path = None, started_at = new Timestamp(0L), duration_ms = None,
    exit_code = Some(0), hostname = None, platform = None, arch = None,
    git_commit = None, git_branch = None, git_dirty = None, environment = None,
    ci = None, metadata = None, date = Date.valueOf(d))

  private def mkEvent(inv: String, i: Long, d: String) = Event(
    id = s"$inv-$i", invocation_id = inv, event_index = i,
    timestamp = new Timestamp(0L), severity = Severity.Error,
    message = Some(s"boom $i"), raw_text = None, tool_name = Some("t"),
    category = None, code = None, rule = None, test_name = None,
    ref_file = None, ref_line = None, ref_column = None, fingerprint = None,
    log_line_start = None, log_line_end = None, context = None,
    metadata = None, date = Date.valueOf(d))

  test("invocation_id filter gains a date partition filter; guards hold") {
    // force the shared context into existence first: the fresh builder
    // below reuses it (a second same-JVM context cannot be created)
    assert(spark.sparkContext.isLocal)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = Tables.configure(SparkSession.builder()
        .withExtensions(new GraftExtensions))
        .getOrCreate()
      val root = java.nio.file.Files.createTempDirectory("prune_store").toString
      val store = new EventStore(s2, root)
      store.commitRun(mkInv("inv-a", 1, "2026-08-01"),
        Some(s2.createDataFrame((0L until 3L).map(i => mkEvent("inv-a", i, "2026-08-01")))))
      store.commitRun(mkInv("inv-b", 2, "2026-08-02"),
        Some(s2.createDataFrame((0L until 2L).map(i => mkEvent("inv-b", i, "2026-08-02")))))

      val q = store.events.filter(col("invocation_id") === "inv-b")
      // logical: the rule added the date conjunct
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("2026-08-02"), s"no date conjunct injected:\n$opt")
      // physical: it became a PARTITION filter on the scan, not a data filter
      val phys = q.queryExecution.executedPlan.toString
      val scanLine = phys.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(scanLine.contains("2026-08-02"),
        s"date predicate did not reach PartitionFilters:\n$phys")
      // correctness
      assert(q.count() === 2L)

      // IN-list form prunes to both dates
      val q2 = store.events.filter(col("invocation_id").isin("inv-a", "inv-b"))
      assert(q2.queryExecution.optimizedPlan.toString.contains("2026-08-01"))
      assert(q2.count() === 5L)

      // guard: unknown id → untouched plan (no date literal), empty result
      val q3 = store.events.filter(col("invocation_id") === "inv-zzz")
      assert(!q3.queryExecution.optimizedPlan.toString.contains("2026-08-"))
      assert(q3.count() === 0L)

      // guard: existing date predicate → no second conjunct (idempotent)
      val q4 = store.events.filter(col("invocation_id") === "inv-b" &&
        col("date") === "2026-08-01")
      val cnt = "2026-08-01".r.findAllIn(q4.queryExecution.optimizedPlan.toString).size
      assert(cnt === 1, "rule must not stack date predicates")
      assert(q4.count() === 0L) // contradictory on purpose

      // appended runs are visible without reloading the store
      store.commitRun(mkInv("inv-c", 3, "2026-08-03"),
        Some(s2.createDataFrame(Seq(mkEvent("inv-c", 0, "2026-08-03")))))
      val q5 = store.events.filter(col("invocation_id") === "inv-c")
      assert(q5.queryExecution.optimizedPlan.toString.contains("2026-08-03"))
      assert(q5.count() === 1L)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
