package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.LiveStreams
import graft.streaming.LiveStreams.{AttemptStatus, LifecycleEvent}

/** Structured Streaming specs: lifecycle state machine, debounce
  * session windows, windowed severity counts, live-tail parse. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("lifecycle: attempt then outcome transitions pending -> ok") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LifecycleEvent]
    val query = LiveStreams.lifecycle(input.toDS())
      .writeStream.format("memory").queryName("lifecycle_t")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(LifecycleEvent("a1", "attempt", 1000L, None, timeout = false))
      query.processAllAvailable()
      val afterStart = spark.table("lifecycle_t").as[AttemptStatus].collect()
      assert(afterStart.map(_.status).toSeq === Seq("pending"))

      input.addData(LifecycleEvent("a1", "outcome", 2500L, Some(0), timeout = false))
      query.processAllAvailable()
      val all = spark.table("lifecycle_t").as[AttemptStatus].collect()
      assert(all.map(_.status).toSet === Set("pending", "ok"))
      val ok = all.find(_.status == "ok").get
      assert(ok.started_ms === 1000L && ok.completed_ms.contains(2500L))
    } finally query.stop()
  }

  test("lifecycle: failure, timeout and null-exit statuses") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LifecycleEvent]
    val query = LiveStreams.lifecycle(input.toDS())
      .writeStream.format("memory").queryName("lifecycle_t2")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        LifecycleEvent("f1", "attempt", 1L, None, timeout = false),
        LifecycleEvent("f1", "outcome", 2L, Some(3), timeout = false),
        LifecycleEvent("t1", "attempt", 1L, None, timeout = false),
        LifecycleEvent("t1", "outcome", 2L, None, timeout = true),
        LifecycleEvent("o1", "outcome", 2L, None, timeout = false))
      query.processAllAvailable()
      val statuses = spark.table("lifecycle_t2").as[AttemptStatus]
        .collect().map(s => s.attempt_id -> s.status).toMap
      assert(statuses("f1") === "failed")
      assert(statuses("t1") === "timeout")
      assert(statuses("o1") === "orphaned") // outcome with NULL exit code
    } finally query.stop()
  }

  test("debounce: session window coalesces change bursts per path") {
    val changes = Seq(
      ("a.txt", Timestamp.valueOf("2026-08-01 10:00:00.000")),
      ("a.txt", Timestamp.valueOf("2026-08-01 10:00:00.200")),
      ("a.txt", Timestamp.valueOf("2026-08-01 10:00:00.400")),
      ("a.txt", Timestamp.valueOf("2026-08-01 10:00:05.000")),
      ("b.txt", Timestamp.valueOf("2026-08-01 10:00:00.100")))
      .toDF("path", "ts")
    val bursts = LiveStreams.debounceChanges(changes, "ts").collect()
    val aBursts = bursts.filter(_.getString(0) == "a.txt")
    assert(aBursts.length === 2) // 3-change burst + isolated change
    assert(aBursts.map(_.getLong(3)).toSet === Set(3L, 1L))
    assert(bursts.count(_.getString(0) == "b.txt") === 1)
  }

  test("severity counts: tumbling window aggregation (batch parity)") {
    val events = Seq(
      ("error", Timestamp.valueOf("2026-08-01 10:00:10")),
      ("error", Timestamp.valueOf("2026-08-01 10:00:50")),
      ("warning", Timestamp.valueOf("2026-08-01 10:00:30")),
      ("error", Timestamp.valueOf("2026-08-01 10:01:10")))
      .toDF("severity", "ts")
    val counts = LiveStreams.severityCounts(events, "ts", "1 minute", "10 minutes")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(counts === Set(
      ("2026-08-01 10:00:00.0", "error", 2L),
      ("2026-08-01 10:00:00.0", "warning", 1L),
      ("2026-08-01 10:01:00.0", "error", 1L)))
  }

  test("dedup stream: re-delivered ids dropped within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = LiveStreams.dedupStream(
      input.toDF().toDF("event_id", "ts", "payload"),
      Seq("event_id"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = Timestamp.valueOf("2026-08-01 10:00:00")
      input.addData((1L, t0, "a"), (2L, t0, "b"))
      query.processAllAvailable()
      // at-least-once source re-delivers id 1 (same and later batch)
      input.addData((1L, t0, "a"), (3L, t0, "c"), (3L, t0, "c"))
      query.processAllAvailable()
      val ids = spark.table("dedup_t").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 2L, 3L))
    } finally query.stop()
  }

  test("events stream: appended runs surface as micro-batches") {
    import Fixtures._
    val store = new graft.store.EventStore(spark,
      java.nio.file.Files.createTempDirectory("stream_store").toString)
    store.commitRun(inv("i1", 1L, Some("b"), "2026-08-01 10:00:00", Some(1)),
      Some(spark.createDataFrame(Seq(ev("e1", "i1", 0, "error", "first batch")))))
    val query = store.eventsStream
      .writeStream.format("memory").queryName("events_stream_t")
      .outputMode(OutputMode.Append()).start()
    try {
      query.processAllAvailable()
      assert(spark.table("events_stream_t").count() === 1)
      // a new run appended AFTER the stream started appears incrementally
      store.commitRun(inv("i2", 2L, Some("b"), "2026-08-01 11:00:00", Some(0)),
        Some(spark.createDataFrame(Seq(
          ev("e2", "i2", 0, "warning", "second batch"),
          ev("e3", "i2", 1, "info", "third")))))
      query.processAllAvailable()
      assert(spark.table("events_stream_t").count() === 3)
    } finally query.stop()
  }

  test("alerting composition: windowed severity counts over the store stream") {
    import Fixtures._
    val store = new graft.store.EventStore(spark,
      java.nio.file.Files.createTempDirectory("alert_store").toString)
    store.commitRun(inv("i1", 1L, Some("b"), "2026-08-01 10:00:00", Some(1)),
      Some(spark.createDataFrame(Seq(ev("e1", "i1", 0, "error", "boom"),
        ev("e2", "i1", 1, "error", "boom2"),
        ev("e3", "i1", 2, "warning", "warn")))))
    val counts = LiveStreams.severityCounts(
      store.eventsStream, "timestamp", "1 minute", "10 minutes")
    val query = counts.writeStream.format("memory").queryName("alert_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      query.processAllAvailable()
      val rows = spark.table("alert_t")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(rows === Map("error" -> 2L, "warning" -> 1L))
    } finally query.stop()
  }

  test("error-storm detector: hot fingerprints cross the threshold, cold ones don't") {
    import Fixtures._
    val store = new graft.store.EventStore(spark,
      java.nio.file.Files.createTempDirectory("storm_store").toString)
    store.commitRun(inv("i1", 1L, Some("b"), "2026-08-01 10:00:00", Some(1)),
      Some(spark.createDataFrame(Seq(
        ev("e1", "i1", 0, "error", "boom", fp = Some("fp_hot")),
        ev("e2", "i1", 1, "error", "boom again", fp = Some("fp_hot")),
        ev("e3", "i1", 2, "error", "boom third", fp = Some("fp_hot")),
        ev("e4", "i1", 3, "error", "once only", fp = Some("fp_cold")),
        ev("e5", "i1", 4, "error", "no fp"), // null fingerprint skipped
        ev("e6", "i1", 5, "warning", "warn", fp = Some("fp_warn"))))))
    val hot = LiveStreams.hotFingerprints(
      store.eventsStream, "timestamp", "5 minutes", "10 minutes", minCount = 2L)
    val query = hot.writeStream.format("memory").queryName("storm_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      query.processAllAvailable()
      val rows = spark.table("storm_t")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(rows === Map("fp_hot" -> 3L)) // cold/warning/null excluded
      val sample = spark.table("storm_t").collect().head.getString(3)
      assert(sample.startsWith("boom"))
    } finally query.stop()
  }

  test("streaming dedup: batches screened against a static corpus index") {
    import graft.streaming.StreamingDedup
    import graft.ml.TextDedup
    import org.apache.spark.sql.functions.{col, lit}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the yard today"),
      (2L, "completely different content about distributed query engines here"),
      (3L, "training data pipelines need deduplication at petabyte scale now"),
      (4L, "a third unrelated corpus document about streaming watermarks"))
      .toDF("doc_id", "text")
    val index = StreamingDedup.indexCorpus(corpus, n = 3, k = 12, bands = 4)

    // batch: one near-dup of corpus doc 1, one internal dup pair, one clean
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog in the yard tonight"),
      (102L, "brand new text that matches nothing else in any collection"),
      (103L, "brand new text that matches nothing else in any collection"),
      (104L, "entirely fresh material with no duplicate partner anywhere"))
      .toDF("doc_id", "text")
    val got = StreamingDedup.checkBatch(batch, index, n = 3, k = 12, bands = 4,
      threshold = 0.3)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getString(3))).toSet
    got.unpersist()
    assert(rows.map(t => (t._1, t._2, t._4)) ===
      Set((101L, 1L, "corpus"), (102L, 103L, "batch")))
    assert(rows.forall(_._3 >= 0.3))

    // differential: same pairs as the incremental batch operator on the
    // unioned corpus (canonical min/max orientation)
    val union = corpus.unionByName(batch)
    val expected = TextDedup
      .minhashLshPairsIncremental(union, col("doc_id") >= lit(100L),
        n = 3, k = 12, bands = 4, threshold = 0.3)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    assert(rows.map(t => (math.min(t._1, t._2), math.max(t._1, t._2), t._3)) ===
      expected)

    // end-to-end through a streaming query: two micro-batches
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.Map[Long, Set[(Long, Long, String)]]()
    val q = StreamingDedup.run(
      input.toDF().toDF("doc_id", "text"), index,
      n = 3, k = 12, bands = 4, threshold = 0.3) { (batchId, matches) =>
      collected.synchronized {
        collected(batchId) = matches.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
      }
    }
    try {
      input.addData((201L,
        "training data pipelines need deduplication at petabyte scale soon"))
      q.processAllAvailable()
      input.addData(
        (202L, "nothing at all like anything that ever came before this"),
        (203L, "the quick brown fox jumps over the lazy dog in the yard today"))
      q.processAllAvailable()
    } finally q.stop()
    assert(collected(0L) === Set((201L, 3L, "corpus")))
    assert(collected(1L) === Set((203L, 1L, "corpus")))
  }

  test("streaming containment screen: batch-vs-corpus matches the batch operator") {
    import graft.streaming.StreamingDedup
    import graft.ml.TextDedup
    import org.apache.spark.sql.functions.col
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, s"$base ${(1 to 30).map(i => s"long$i").mkString(" ")}"),
      (2L, "completely different corpus content about catalyst internals"))
      .toDF("doc_id", "text")
    val index = StreamingDedup.indexCorpusContainment(corpus, n = 4, dfCap = 50)
    // batch doc 101 IS the base prefix of corpus doc 1 -> containment 1.0;
    // 102 matches nothing
    val batch = Seq(
      (101L, base),
      (102L, "novel words sharing no four gram with anything stored"))
      .toDF("doc_id", "text")
    val got = StreamingDedup.checkBatchContainment(batch, index, n = 4,
      threshold = 0.6)
    val rows = got.collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    got.unpersist()
    assert(rows === Set((1L, 101L, 7L, 1.0))) // 10 tokens -> 7 4-grams

    // differential: on a union whose combined dfs stay under the cap,
    // the screen equals the full batch operator restricted to
    // new×corpus pairs (orientation: full emits doc_a < doc_b)
    val union = corpus.unionByName(batch)
    val expected = TextDedup.containmentPairsPostings(union, n = 4,
        threshold = 0.6)
      .filter((col("doc_a") >= 100) =!= (col("doc_b") >= 100))
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows === expected)

    // end-to-end: two micro-batches through the foreachBatch wrapper
    // (which owns each batch result's unpersist)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
    val q = StreamingDedup.runContainment(
      input.toDF().toDF("doc_id", "text"), index, n = 4, threshold = 0.6) {
      (batchId, matches) =>
        collected.synchronized {
          collected(batchId) = matches.collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
    }
    try {
      input.addData((201L, base))
      q.processAllAvailable()
      input.addData((202L, "still nothing resembling stored corpus content at all"))
      q.processAllAvailable()
      assert(collected(0L) === Set((201L, 1L)))
      assert(collected(1L) === Set.empty)
    } finally q.stop()
  }

  test("live tail: streaming file source parses appended diagnostics") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("live_tail").toString
    val stream = LiveStreams.liveTail(spark, dir, "gcc_text")
    val query = stream.writeStream.format("memory").queryName("tail_t")
      .outputMode(OutputMode.Append()).start()
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "out1.log"),
        "src/main.c:15:5: error: expected ';'\nok line\nsrc/main.c:20:1: warning: unused\n")
      query.processAllAvailable()
      val parsed = spark.table("tail_t")
        .select($"severity", $"ref_file", $"ref_line").collect()
      assert(parsed.length === 2)
      assert(parsed.map(_.getString(0)).toSet === Set("error", "warning"))
    } finally query.stop()
  }
}
