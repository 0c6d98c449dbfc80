package graft

import org.apache.spark.sql.functions._
import graft.store.Maintenance
import graft.ml.CorpusPipeline

/** Right-to-be-forgotten on the source-of-truth store (r17 — VERDICT
  * r16 #6): Maintenance.forgetRows must rewrite ONLY the affected
  * partitions of a Hive-partitioned parquet dir (anti-join, rename-
  * aside swap), remove fully-doomed partitions, replay to a no-op,
  * and recover every constructed mid-swap crash state; the composed
  * CorpusPipeline.forgetWithStore must leave a forgotten id visible
  * NOWHERE — not in the store, not in any index probe — under one
  * idempotence contract. */
class ForgetStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mkStore(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"g_fstore_$tag").toString
    (1L to 9L).map(i => (i, s"src${(i % 3) + 1}", s"text of doc $i"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    dir
  }

  private def storeIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("doc_id").as[Long].collect().sorted.toSeq

  private def partFiles(dir: String, part: String): Set[String] = {
    val d = new java.io.File(dir, part)
    if (!d.exists) Set.empty
    else d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
  }

  test("forgetRows rewrites only affected partitions; unaffected dirs untouched; replay is a no-op") {
    val dir = mkStore("basic")
    try {
      // ids 1 (src2) and 4 (src2) and 2 (src3): touches src2+src3 only
      val untouchedBefore = partFiles(dir, "source=src1")
      val touched = Maintenance.forgetRows(spark, dir, "source",
        Seq(1L, 4L, 2L).toDF("doc_id"), "doc_id")
      assert(touched.toSet === Set("source=src2", "source=src3"), touched)
      assert(storeIds(dir) === Seq(3L, 5L, 6L, 7L, 8L, 9L))
      // src1's physical files are byte-identical (never rewritten)
      assert(partFiles(dir, "source=src1") === untouchedBefore)
      // replay: nothing left to forget — no partition touched
      val again = Maintenance.forgetRows(spark, dir, "source",
        Seq(1L, 4L, 2L).toDF("doc_id"), "doc_id")
      assert(again.isEmpty)
      assert(storeIds(dir) === Seq(3L, 5L, 6L, 7L, 8L, 9L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a fully-doomed partition is removed, not left as a fileless husk") {
    val dir = mkStore("doom")
    try {
      // src1 holds exactly docs 3, 6, 9
      val touched = Maintenance.forgetRows(spark, dir, "source",
        Seq(3L, 6L, 9L).toDF("doc_id"), "doc_id")
      assert(touched === Seq("source=src1"))
      assert(!new java.io.File(dir, "source=src1").exists)
      assert(storeIds(dir) === Seq(1L, 2L, 4L, 5L, 7L, 8L))
      assert(spark.read.parquet(dir).select("source").distinct()
        .as[String].collect().sorted.toSeq === Seq("src2", "src3"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a completed full-corpus takedown leaves a store forgetRows can still be called on") {
    val dir = mkStore("full")
    try {
      val t1 = Maintenance.forgetRows(spark, dir, "source",
        (1L to 9L).toDF("doc_id"), "doc_id")
      assert(t1.toSet === Set("source=src1", "source=src2", "source=src3"))
      // every partition removed; a replay (or a later request) must
      // be a quiet no-op, not a schema-inference crash on zero files
      assert(Maintenance.forgetRows(spark, dir, "source",
        Seq(1L).toDF("doc_id"), "doc_id").isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("crash states recover: aside without live restores; aside with live drops; tmp drops") {
    val dir = mkStore("crash")
    try {
      val base = new java.io.File(dir)
      // state 1: crash between rename-aside and rename-in — live
      // missing, full copy under the aside
      assert(new java.io.File(base, "source=src1")
        .renameTo(new java.io.File(base, ".forget_old_source=src1")))
      // state 2: an uncommitted rewrite left behind
      val tmp = new java.io.File(base, ".forget_tmp_source=src2")
      assert(tmp.mkdir())
      // entry recovery runs inside forgetRows; ids here match nothing
      // so the call is otherwise a no-op
      val touched = Maintenance.forgetRows(spark, dir, "source",
        Seq(999L).toDF("doc_id"), "doc_id")
      assert(touched.isEmpty)
      assert(new java.io.File(base, "source=src1").exists)
      assert(!new java.io.File(base, ".forget_old_source=src1").exists)
      assert(!tmp.exists)
      assert(storeIds(dir) === (1L to 9L))
      // state 3: crash between rename-in and delete-aside — aside is
      // the PRE-rewrite copy, live already serves the rewrite
      Maintenance.forgetRows(spark, dir, "source",
        Seq(3L).toDF("doc_id"), "doc_id")
      val live = new java.io.File(base, "source=src1")
      val aside = new java.io.File(base, ".forget_old_source=src1")
      org.apache.commons.io.FileUtils.copyDirectory(live, aside)
      val handled = Maintenance.recoverForgetLeftovers(spark, dir)
      assert(handled === Seq(".forget_old_source=src1"))
      assert(!aside.exists)
      assert(storeIds(dir) === Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("forgetWithStore: one call — the id appears nowhere (store + band probe); a crash between halves is finished by replay") {
    val victim =
      "crimson harbors shelter weary sailors beneath amber lighthouse beams each evening"
    val corpusDocs = Seq((10L, victim),
      (11L, "eleven elephants wander dusty savannah trails seeking distant water holes"))
      .toDF("doc_id", "text")
    // the store holds the same two docs, partitioned
    val storeDir = java.nio.file.Files.createTempDirectory("g_fstore_c2").toString
    corpusDocs.withColumn("source",
        concat(lit("s"), (col("doc_id") % 2).cast("string")))
      .write.mode("overwrite").partitionBy("source").parquet(storeDir)
    val batch = Seq((90L,
      "crimson harbors shelter weary sailors beneath amber lighthouse beams each morning"))
      .toDF("doc_id", "text")
    val maint = CorpusPipeline.IndexMaintenance("g_fws_band",
      n = 3, k = 12, bands = 4, threshold = 0.3)
    val store = CorpusPipeline.CorpusStore(storeDir, "source")
    def bandMentions10: Boolean =
      graft.ml.BandIndex.probe(spark, "g_fws_band", batch,
          n = 3, k = 12, bands = 4, threshold = 0.3)
        .filter($"doc_a" === 10L || $"doc_b" === 10L).count() > 0L
    try {
      Seq("g_fws_band", "g_fws_band_keys")
        .foreach(t => graft.store.Bucketing.dropWithDir(spark, t))
      graft.ml.BandIndex.write(corpusDocs, "g_fws_band", n = 3, k = 12,
        bands = 4, buckets = 4)
      assert(bandMentions10, "fixture must bite")
      // crash between halves: only the index half ran
      CorpusPipeline.forget(spark, maint, Seq(10L).toDF("doc_id"))
      assert(!bandMentions10)
      assert(storeIds(storeDir).contains(10L), "store rewrite still owed")
      // the REPLAY is the full composed call — it finishes the store
      val touched = CorpusPipeline.forgetWithStore(spark, maint, store,
        Seq(10L).toDF("doc_id"))
      assert(touched === Seq("source=s0"))
      assert(!bandMentions10)
      assert(storeIds(storeDir) === Seq(11L))
      // and a further replay is a complete no-op
      assert(CorpusPipeline.forgetWithStore(spark, maint, store,
        Seq(10L).toDF("doc_id")).isEmpty)
      assert(storeIds(storeDir) === Seq(11L))
    } finally {
      Seq("g_fws_band", "g_fws_band_keys")
        .flatMap(t => Seq(t, t + "_tombstones"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storeDir))
    }
  }

  test("id column resolves by NAME on a multi-column ids frame; a frame lacking it is refused") {
    val dir = mkStore("byname")
    try {
      // doc_id deliberately NOT first — the r17 positional head would
      // have keyed the rewrite on req_id and deleted nothing (or worse)
      val reqs = Seq((101L, 3L), (102L, 6L))
        .toDF("req_id", "doc_id")
      val touched = Maintenance.forgetRows(spark, dir, "source",
        reqs, "doc_id")
      assert(touched === Seq("source=src1"), touched)
      assert(storeIds(dir) === Seq(1L, 2L, 4L, 5L, 7L, 8L, 9L))
      // multi-column frame with no matching name: refused loudly, not
      // silently keyed on the wrong column
      val bad = Seq((1L, 2L)).toDF("a", "b")
      intercept[IllegalArgumentException] {
        Maintenance.forgetRows(spark, dir, "source", bad, "doc_id")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("partition hints skip the detection scan entirely; hint-less rows still scan") {
    val dir = mkStore("hints")
    try {
      // plant a GARBAGE file in an unaffected partition: any detection
      // scan over the whole store dies on it; a hinted request must
      // never read it (the observable form of 'no corpus pass')
      val garbage = new java.io.File(dir, "source=src1/zz_garbage.parquet")
      java.nio.file.Files.write(garbage.toPath,
        "this is not a parquet file".getBytes("UTF-8"))
      // fully-hinted: docs 1 and 4 live in src2 — no scan, no crash
      val reqs = Seq((1L, "src2"), (4L, "src2")).toDF("doc_id", "part")
      val touched = Maintenance.forgetRows(spark, dir, "source",
        reqs, "doc_id", partitionHintCol = Some("part"))
      assert(touched === Seq("source=src2"))
      assert(spark.read.parquet(dir + "/source=src2")
        .select("doc_id").as[Long].collect().sorted.toSeq === Seq(7L))
      // a hint-less row forces the fallback scan, which hits the
      // garbage file — proving the hinted path really never scanned
      val mixed = Seq((2L, null.asInstanceOf[String])).toDF("doc_id", "part")
      intercept[Exception] {
        Maintenance.forgetRows(spark, dir, "source",
          mixed, "doc_id", partitionHintCol = Some("part"))
      }
      // cleanup the garbage and the hint-less request drains normally
      assert(garbage.delete())
      val t2 = Maintenance.forgetRows(spark, dir, "source",
        mixed, "doc_id", partitionHintCol = Some("part"))
      assert(t2 === Seq("source=src3"))
      assert(!storeIds(dir).contains(2L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("forgetWithStore resolves the feed's doc_id to a store with a different idCol, hints intact (r19 advice)") {
    // the r18 regression: a [doc_id, hint] feed against a store keyed
    // on idCol != "doc_id" made every drain throw in forgetRows — the
    // high-water never advanced and the takedown replayed forever.
    // forgetWithStore now aliases the feed's id column to store.idCol.
    val corpusDocs = Seq(
      (10L, "crimson harbors shelter weary sailors beneath amber lighthouse beams each evening"),
      (11L, "eleven elephants wander dusty savannah trails seeking distant water holes"))
      .toDF("doc_id", "text")
    val storeDir = java.nio.file.Files.createTempDirectory("g_fstore_uid").toString
    corpusDocs.withColumnRenamed("doc_id", "uid")
      .withColumn("source", concat(lit("s"), (col("uid") % 2).cast("string")))
      .write.mode("overwrite").partitionBy("source").parquet(storeDir)
    val maint = CorpusPipeline.IndexMaintenance("g_fws_uid_band",
      n = 3, k = 12, bands = 4, threshold = 0.3)
    val store = CorpusPipeline.CorpusStore(storeDir, "source",
      idCol = "uid", partitionHintCol = Some("part"))
    try {
      Seq("g_fws_uid_band", "g_fws_uid_band_keys")
        .foreach(t => graft.store.Bucketing.dropWithDir(spark, t))
      graft.ml.BandIndex.write(corpusDocs, "g_fws_uid_band", n = 3, k = 12,
        bands = 4, buckets = 4)
      // the drain's feed shape: [doc_id, <hint>]
      val feed = Seq((10L, "s0")).toDF("doc_id", "part")
      val touched = CorpusPipeline.forgetWithStore(spark, maint, store, feed)
      assert(touched === Seq("source=s0"))
      assert(spark.read.parquet(storeDir).select("uid").as[Long]
        .collect().toSeq === Seq(11L))
      // replay is a no-op (both halves idempotent)
      assert(CorpusPipeline.forgetWithStore(spark, maint, store, feed).isEmpty)
    } finally {
      Seq("g_fws_uid_band", "g_fws_uid_band_keys")
        .flatMap(t => Seq(t, t + "_tombstones"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storeDir))
    }
  }

  test("hint audit catches a WRONG partition hint; a correct hint audits clean (r19)") {
    val dir = mkStore("audit")
    try {
      // doc 3 lives in src1; the request hints src2 — the hinted path
      // rewrites src2 (a no-op for doc 3) and doc 3 silently survives
      val wrong = Seq((3L, "src2")).toDF("doc_id", "part")
      val touched = Maintenance.forgetRows(spark, dir, "source",
        wrong, "doc_id", partitionHintCol = Some("part"),
        auditHintedSample = 16)
      assert(touched === Seq("source=src2"))
      assert(storeIds(dir).contains(3L), "the wrong hint leaves the row")
      // the audit caught it: a durable miss record exists with the id
      val audit = spark.read.parquet(s"$dir/.forget_audit")
      assert(audit.select("missed_id").as[String].collect().toSeq === Seq("3"),
        "audit must record the surviving id")
      // and the miss record is invisible to partition discovery
      assert(storeIds(dir) === (1L to 9L))
      // a CORRECT hint audits clean: no new miss rows
      val right = Seq((3L, "src1")).toDF("doc_id", "part")
      Maintenance.forgetRows(spark, dir, "source",
        right, "doc_id", partitionHintCol = Some("part"),
        auditHintedSample = 16)
      assert(storeIds(dir) === Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
      assert(spark.read.parquet(s"$dir/.forget_audit").count() === 1L,
        "clean drain must not append misses")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("complianceReport: one bounded frame over feed lag, barred set, tombstone backlogs, export staleness, audit misses (r19)") {
    import graft.ml.{BandIndex, ShardExport}
    val corpusDocs = Seq(
      (10L, "crimson harbors shelter weary sailors beneath amber lighthouse beams each evening"),
      (11L, "eleven elephants wander dusty savannah trails seeking distant water holes"))
      .toDF("doc_id", "text")
    val stateDir = java.nio.file.Files.createTempDirectory("g_rep_state").toString
    val storeDir = java.nio.file.Files.createTempDirectory("g_rep_store").toString + "/corpus"
    val exportDir = java.nio.file.Files.createTempDirectory("g_rep_out").toString + "/shards"
    val feedDir = java.nio.file.Files.createTempDirectory("g_rep_feed").toString + "/requests"
    try {
      Seq("g_rep_band", "g_rep_band_keys", "g_rep_band_tombstones")
        .foreach(t => graft.store.Bucketing.dropWithDir(spark, t))
      BandIndex.write(corpusDocs, "g_rep_band", n = 3, k = 12, bands = 4,
        buckets = 4)
      BandIndex.addTombstones(spark, "g_rep_band", Seq(10L).toDF("doc_id"))
      CorpusPipeline.barIds(spark, stateDir, Seq(10L, 20L).toDF("doc_id"))
      // three requests, none drained yet (no high-water file → hw -1)
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("req_id", "doc_id")
        .write.parquet(feedDir)
      // store + a planted audit miss
      corpusDocs.withColumn("source", lit("s0"))
        .write.partitionBy("source").parquet(storeDir)
      Seq("7").toDF("missed_id").write
        .parquet(storeDir + "/.forget_audit")
      // live export of 2 docs with a persisted debt of 3
      ShardExport.write(corpusDocs, exportDir, 2)
      val st = new java.io.File(exportDir + ".state_")
      st.mkdirs()
      val out = new java.io.FileOutputStream(new java.io.File(st, "export_debt"))
      out.write("3".getBytes("UTF-8")); out.close()

      val maint = CorpusPipeline.IndexMaintenance("g_rep_band",
        n = 3, k = 12, bands = 4, threshold = 0.3,
        exportTo = Some(CorpusPipeline.ExportCadence(exportDir, nShards = 2,
          corpus = s => s.read.parquet(storeDir), staleFraction = 0.5)),
        forgetFeed = Some(CorpusPipeline.ForgetCadence(
          requests = s => s.read.parquet(feedDir),
          stateDir = stateDir,
          store = Some(CorpusPipeline.CorpusStore(storeDir, "source")))))
      val rep = CorpusPipeline.complianceReport(spark, maint)
        .as[(String, String, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(rep(("forget_feed", "high_water")) === -1.0)
      assert(rep(("forget_feed", "pending_requests")) === 3.0)
      assert(rep(("barred", "ids")) === 2.0)
      assert(rep(("tombstones", "band")) === 1.0)
      assert(rep(("store_audit", "misses")) === 1.0)
      assert(rep(("export", "live_docs")) === 2.0)
      assert(rep(("export", "debt")) === 3.0)
      assert(rep(("export", "stale_fraction")) === 1.5)
      // unconfigured legs are absent, not zero-padded
      assert(!rep.contains(("tombstones", "lex")))
    } finally {
      Seq("g_rep_band", "g_rep_band_keys", "g_rep_band_tombstones")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("doomed-partition removal is exactly-once: a crash between rename-aside and delete completes as removal, never restores") {
    val dir = mkStore("doom2")
    try {
      val base = new java.io.File(dir)
      // construct the crash state the r17 protocol left ambiguous:
      // removal intent durable (doom marker), live dir renamed aside,
      // delete not yet run — recovery used to RESTORE the aside,
      // resurrecting physically-deleted rows for any non-same-ids call
      java.nio.file.Files.createFile(
        new java.io.File(base, ".forget_doom_source=src1").toPath)
      assert(new java.io.File(base, "source=src1")
        .renameTo(new java.io.File(base, ".forget_old_source=src1")))
      // a LATER call with unrelated ids runs entry recovery: the
      // removal must complete, not roll back
      val touched = Maintenance.forgetRows(spark, dir, "source",
        Seq(999L).toDF("doc_id"), "doc_id")
      assert(touched.isEmpty)
      assert(!new java.io.File(base, "source=src1").exists,
        "doomed partition resurrected by recovery")
      assert(!new java.io.File(base, ".forget_old_source=src1").exists)
      assert(!new java.io.File(base, ".forget_doom_source=src1").exists)
      assert(storeIds(dir) === Seq(1L, 2L, 4L, 5L, 7L, 8L))
      // a stray marker with the live dir intact (crash BEFORE the
      // rename-aside) is dropped and the partition untouched
      java.nio.file.Files.createFile(
        new java.io.File(base, ".forget_doom_source=src2").toPath)
      val handled = Maintenance.recoverForgetLeftovers(spark, dir)
      assert(handled === Seq(".forget_doom_source=src2"))
      assert(new java.io.File(base, "source=src2").exists)
      assert(storeIds(dir) === Seq(1L, 2L, 4L, 5L, 7L, 8L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("forget drain: a throwing forget leg settles the bar leg first and leaves the high-water") {
    val stateDir = java.nio.file.Files.createTempDirectory("g_drain_state").toString
    val ids = Seq(10L, 20L).toDF("doc_id")
    // the bar leg is slower than the failing forget leg: a drain that
    // propagated the forget failure without awaiting the bar would
    // return before the bar wrote anything
    val bar = () => { Thread.sleep(500); CorpusPipeline.barIds(spark, stateDir, ids) }
    val e = intercept[IllegalStateException] {
      CorpusPipeline.commitDrain(spark, stateDir, newHw = 7L, bar = bar,
        forget = () => throw new IllegalStateException("forget leg down"))
    }
    assert(e.getMessage === "forget leg down")
    assert(CorpusPipeline.barredIds(spark, stateDir)
      .map(_.as[Long].collect().sorted.toSeq) === Some(Seq(10L, 20L)),
      "the bar leg settled before the failure propagated")
    def hwFiles = new java.io.File(stateDir).list().filter(_.startsWith("hw"))
    assert(hwFiles.isEmpty, "the high-water must not move past a failed forget")
    // both legs failing: the first (forget) failure propagates with the
    // bar's attached, neither lost; the high-water still stays
    val both = intercept[IllegalStateException] {
      CorpusPipeline.commitDrain(spark, stateDir, newHw = 7L,
        bar = () => throw new java.io.IOException("bar leg down"),
        forget = () => throw new IllegalStateException("forget leg down"))
    }
    assert(both.getSuppressed.map(_.getMessage).toSeq === Seq("bar leg down"))
    assert(hwFiles.isEmpty)
    // both legs succeeding: the high-water advances
    assert(CorpusPipeline.commitDrain(spark, stateDir, newHw = 7L,
      bar = () => (), forget = () => Seq("source=s1")) === Seq("source=s1"))
    assert(hwFiles.toSeq === Seq("hw"))
  }
}
