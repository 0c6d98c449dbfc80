package graft.store

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Outcome

/** Store maintenance (SURVEY.md §2.5 W3, §2.9 T4; storage.py:624-714,
  * bird.py:1178-1271): prune policies and orphan reconciliation,
  * re-expressed for append-only parquet — pruning selects *partition
  * directories / run ids* for a rewrite job (plain parquet has no row
  * DELETE), and orphaning *appends* synthetic outcomes instead of
  * updating attempts.
  */
object Maintenance {
  /** One date partition eligible for small-file compaction: `files`
    * current part files holding `bytes` total, to be rewritten as
    * `targetFiles` files. */
  final case class CompactionTarget(table: String, date: String,
      files: Int, bytes: Long, targetFiles: Int)

  /** Right-to-be-forgotten on a caller-owned Hive-partitioned parquet
    * store (r17 — VERDICT r16 #6): rewrite ONLY the partitions that
    * contain a doomed id, each without its matching rows — the
    * reference's row-DELETE semantics (storage.py:606-618) expressed
    * as the partition-targeted anti-join rewrite
    * [[Maintenance!.applyPruneByCount]] established, factored out of
    * the EventStore so [[graft.ml.CorpusPipeline]]'s document store
    * (whatever dir `onBatch` lands docs in) gets the same treatment
    * as the derived indexes' tombstone compaction.
    *
    * Scale shape (r18 — VERDICT r17 #2 corrected the claim): the
    * REWRITE half scales with the affected partitions, never the
    * store. The DETECTION half depends on the request feed: a request
    * row carrying a partition hint (`partitionHintCol` — a takedown
    * request usually knows the doc's date/source) names its partition
    * directly and touches NO data; only hint-LESS ids pay the
    * detection semi-join, which is a column-pruned (id + partition
    * column only) scan of the whole store — at 100 TB that is a
    * corpus pass per compliance drain, so feeds should hint. Hints
    * are TRUSTED: a wrong hint rewrites the wrong partition and the
    * row survives elsewhere (the fallback for an unsure feed is a
    * null hint, which buys the scan). `auditHintedSample` > 0 (r19 —
    * the audit path for that trust) re-probes up to that many hinted
    * ids against the whole store after the rewrite and surfaces
    * survivors on stderr plus a durable `.forget_audit` parquet —
    * opt-in because the probe is an id-column store pass; run it
    * sampled / at a lower cadence than the drain. The detection semi-join's
    * output stays bounded (≤ |partitions| rows); the ids frame rides
    * a broadcast anti-join, not an isin literal. A partition whose
    * every row is doomed is REMOVED (the dir disappears, as a DELETE
    * that empties a partition should) under a `.forget_doom_` marker
    * making the removal exactly-once across ANY replay (see below).
    *
    * Crash safety: the `.forget_tmp_`/`.forget_old_` rename protocol
    * (the prune precedent): rewrite to a dot-prefixed sibling
    * (invisible to partition discovery), rename-aside, rename-in,
    * delete-aside — a full copy of every partition exists under its
    * live or aside name at every intermediate point, and
    * [[recoverForgetLeftovers]] (run on entry) restores or finishes
    * an interrupted swap. Replay-idempotent: a re-run with the same
    * ids finds the already-rewritten partitions contain no matching
    * rows and touches nothing. A fully-doomed partition's removal
    * writes a `.forget_doom_` marker BEFORE the rename-aside (r18
    * advice: without it, a crash between rename-aside and delete left
    * an aside recovery would restore — safe only under same-ids
    * replay; the marker makes recovery COMPLETE the removal instead,
    * exactly-once for any later caller whatever ids it carries).
    *
    * `partitionCol` values must round-trip through cast-to-string
    * (string/integral/date layouts — every layout this repo writes);
    * null partition values are not supported (refused loudly). The
    * id column is resolved from `ids` BY NAME when present (r18
    * advice: positional head silently keyed the rewrite on the wrong
    * column for multi-column feeds), positionally only for a
    * single-column frame. Returns the partition dir names rewritten
    * or removed. */
  def forgetRows(spark: org.apache.spark.sql.SparkSession, baseDir: String,
      partitionCol: String, ids: DataFrame, idCol: String,
      partitionHintCol: Option[String] = None,
      auditHintedSample: Int = 0): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    recoverForgetLeftovers(spark, baseDir)
    // a store whose every partition was already removed (a completed
    // full-corpus takedown) has nothing to read — the detection scan
    // would otherwise die on schema inference over zero files
    if (!fs.listStatus(base).exists(s =>
        s.isDirectory && s.getPath.getName.contains("=")))
      return Seq.empty
    val idExpr =
      if (ids.columns.contains(idCol)) col(idCol)
      else if (ids.columns.length == 1) col(ids.columns.head).as(idCol)
      else throw new IllegalArgumentException(
        s"forgetRows: ids frame (${ids.columns.mkString(", ")}) has no " +
          s"'$idCol' column and is not single-column — the positional " +
          "fallback would key the rewrite on the wrong column")
    val idsDf = ids.select(idExpr).distinct()
    val hintCol = partitionHintCol.filter(ids.columns.contains)
    // hinted requests name their partition — no data touched; only
    // hint-less ids pay the detection scan (column-pruned, id +
    // partition column)
    val hinted: Set[String] = hintCol.fold(Set.empty[String]) { h =>
      ids.filter(col(h).isNotNull)
        .select(col(h).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
    }
    val scanIds = hintCol.fold(idsDf)(h =>
      ids.filter(col(h).isNull).select(idExpr).distinct())
    val needScan = hintCol.isEmpty || !scanIds.isEmpty
    // bounded: ≤ |partitions| rows
    val scanned: Set[String] =
      if (!needScan) Set.empty
      else spark.read.parquet(baseDir)
        .join(broadcast(scanIds), Seq(idCol), "left_semi")
        .select(col(partitionCol).cast("string")).distinct()
        .collect().map(r =>
          Option(r.getString(0)).getOrElse(throw new IllegalStateException(
            s"forgetRows: null $partitionCol partition is not supported")))
        .toSet
    val affected = hinted ++ scanned
    if (affected.isEmpty) return Seq.empty
    val prefix = s"$partitionCol="
    val dirs = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath)
      .filter(p => affected.contains(
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(p.getName.stripPrefix(prefix))))
    val touched = Seq.newBuilder[String]
    dirs.foreach { dir =>
      val tmp = new org.apache.hadoop.fs.Path(base, s".forget_tmp_${dir.getName}")
      val old = new org.apache.hadoop.fs.Path(base, s".forget_old_${dir.getName}")
      val doom = new org.apache.hadoop.fs.Path(base, s".forget_doom_${dir.getName}")
      val remaining = spark.read.parquet(dir.toString)
        .join(broadcast(idsDf), Seq(idCol), "left_anti")
      // emptiness decided on the PRE-write frame (isEmpty = a take(1)
      // job): a fully-doomed partition is REMOVED with no tmp at all.
      // Deliberately NOT a read-back of the written tmp — the tmp is
      // a dot-dir and Spark's hidden-path filter can silently ignore
      // its files, which would misread a live partition as empty.
      val emptied = remaining.isEmpty
      if (emptied) {
        // durable removal intent BEFORE the rename-aside: a crash
        // between rename-aside and delete leaves the aside with no
        // live dir, a state recovery would otherwise RESTORE —
        // resurrecting the physically-deleted partition for any
        // caller not replaying the same ids
        fs.create(doom, true).close()
      } else {
        remaining.write.mode("overwrite").option("compression", "zstd")
          .parquet(tmp.toString)
      }
      if (!fs.rename(dir, old))
        throw new java.io.IOException(s"forget rename-aside failed for $dir")
      if (!emptied && !fs.rename(tmp, dir)) {
        fs.rename(old, dir)
        throw new java.io.IOException(s"forget rename failed for $dir")
      }
      fs.delete(old, true)
      if (emptied) fs.delete(doom, false)
      touched += dir.getName
    }
    spark.catalog.refreshByPath(baseDir)
    // sampled HINT AUDIT (r19 — VERDICT r18 #3): hints are trusted,
    // and a wrong hint's failure mode is silent NON-compliance (the
    // row survives in its real partition, which the hinted path never
    // read). When enabled, re-probe a bounded sample of the HINTED
    // ids against the whole store (column-pruned: the id column only
    // — unlike the detection scan this is opt-in, sampled, and can
    // run at a lower cadence than the drain): any survivor is a wrong
    // hint. Misses are surfaced loudly (stderr) AND durably (a
    // dot-prefixed parquet under the store, invisible to partition
    // discovery) so the compliance loop measures its own failure mode.
    if (auditHintedSample > 0 && hinted.nonEmpty &&
        fs.listStatus(base).exists(s =>
          s.isDirectory && s.getPath.getName.contains("="))) {
      val sampled = ids.filter(col(hintCol.get).isNotNull)
        .select(idExpr).distinct().limit(auditHintedSample)
      val survivors = spark.read.parquet(baseDir)
        .select(col(idCol))
        .join(broadcast(sampled), Seq(idCol), "left_semi")
        .distinct()
        .select(col(idCol).cast("string").as("missed_id"))
        .localCheckpoint(true)
      val nMiss = survivors.count()
      if (nMiss > 0) {
        val missIds = survivors.limit(20).collect().map(_.getString(0))
        System.err.println(s"[forget-audit] $baseDir: $nMiss of " +
          s"<=$auditHintedSample sampled hinted ids still present " +
          s"after the drain (wrong partition hints): " +
          missIds.mkString(", "))
        survivors.coalesce(1).write
          .mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(new org.apache.hadoop.fs.Path(base, ".forget_audit")
            .toString)
      }
    }
    touched.result()
  }

  /** Recover a [[forgetRows]] interrupted mid-swap — the prune
    * recovery contract, per partition: a `.forget_doom_` marker means
    * a partition REMOVAL was in flight — COMPLETE it (drop the aside
    * if present, drop the marker; never restore), exactly-once for
    * any later caller regardless of the ids it carries (r18 advice —
    * restoring was only safe under same-ids replay); otherwise aside
    * present without a live dir → restore it (the rewrite never
    * committed; lossless); aside present alongside a live dir → the
    * swap committed, drop the aside; any `.forget_tmp_` → an
    * uncommitted rewrite, drop it. */
  def recoverForgetLeftovers(spark: org.apache.spark.sql.SparkSession,
      baseDir: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    val handled = Seq.newBuilder[String]
    val entries = fs.listStatus(base).toSeq.map(_.getPath)
    // doom markers first: they change what the aside branch may do
    val doomed = entries.map(_.getName).filter(_.startsWith(".forget_doom_"))
      .map(_.stripPrefix(".forget_doom_")).toSet
    entries.foreach { p =>
      val name = p.getName
      if (name.startsWith(".forget_old_")) {
        val partName = name.stripPrefix(".forget_old_")
        val live = new org.apache.hadoop.fs.Path(base, partName)
        if (doomed.contains(partName) || fs.exists(live)) fs.delete(p, true)
        else fs.rename(p, live)
        handled += name
      } else if (name.startsWith(".forget_tmp_")) {
        fs.delete(p, true)
        handled += name
      } else if (name.startsWith(".forget_doom_")) {
        // the removal is complete (or completed just above, or never
        // started — in which case the live dir is intact and the
        // replay re-decides); the marker's work is done either way
        fs.delete(p, false)
        handled += name
      }
    }
    handled.result()
  }
}

final class Maintenance(store: EventStore) {

  /** Prune-by-age: partition dirs older than `days` (delete targets). */
  def pruneByAge(table: String, days: Int): Seq[String] =
    store.prunablePartitions(table, days)

  /** Prune-by-count: invocation ids ranked past the newest `maxRuns`
    * per source (W3's ranking window, storage.py:660-673). The caller
    * rewrites the affected partitions without these runs. */
  def pruneByCount(maxRuns: Int): DataFrame = {
    val w = Window
      .partitionBy(coalesce(col("source_name"), lit("__none__")))
      .orderBy(col("started_at").desc, col("id").desc)
    store.invocations
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > maxRuns)
      .select(col("id").as("invocation_id"), col("source_name"), col("date"))
  }

  /** Prune-by-size: oldest `date=` partitions beyond a total byte
    * budget (newest kept first — the reference's total-MB policy). */
  def pruneBySize(table: String, maxBytes: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"${store.root}/$table")
    val fs = p.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val parts = fs.listStatus(p).toSeq
      .filter(_.getPath.getName.startsWith("date="))
      .map(s => (s.getPath, fs.getContentSummary(s.getPath).getLength))
    // newest first: ISO date strings sort lexicographically
    val newestFirst = parts.sortBy(_._1.getName.stripPrefix("date="))(Ordering[String].reverse)
    var acc = 0L
    val doomed = Seq.newBuilder[String]
    newestFirst.foreach { case (path, size) =>
      acc += size
      if (acc > maxBytes) doomed += path.toString
    }
    doomed.result()
  }

  /** EXECUTE prune-by-count (the serve `clean` tool's max_runs mode):
    * rewrite the affected `date=` partitions of invocations/events/
    * outputs WITHOUT the pruned runs' rows — append-only parquet's
    * equivalent of the reference's DELETE (serve.py:3299 →
    * _clean_impl). Partition-bounded by construction: only date dirs
    * that actually contain a doomed run are rewritten; every other
    * partition is untouched, so the rewrite cost scales with the
    * pruned data, not the store. Attempts/outcomes are run-lifecycle
    * side tables pruned by age instead (their rows age out with their
    * date partitions). Returns the pruned invocation ids. */
  def applyPruneByCount(maxRuns: Int): Seq[String] = {
    val doomed = pruneByCount(maxRuns)
      .select(col("invocation_id"), col("date").cast("string"))
      .collect()
    val ids = doomed.map(_.getString(0)).toSeq
    if (ids.isEmpty) return Seq.empty
    val dates = doomed.map(_.getString(1)).distinct.toSeq
    rewriteWithout("invocations", "id", ids, dates)
    rewriteWithout("events", "invocation_id", ids, dates)
    rewriteWithout("outputs", "invocation_id", ids, dates)
    store.invalidate()
    ids
  }

  /** Rewrite `table`'s listed date partitions excluding rows whose
    * `keyCol` is in `ids`: each dir is rewritten to a dot-prefixed
    * sibling (invisible to partition discovery), then swapped in. The
    * id list rides a broadcast-able anti-join frame, not an isin
    * literal — a large prune must not build a million-term predicate.
    *
    * Crash safety: the swap is rename-aside (live → `.prune_old_`),
    * rename-in (tmp → live), delete-aside — at every intermediate
    * point a full copy of the partition exists under either its live
    * name or the aside name, so a crash never strands the only copy
    * in an invisible dot-dir. [[recoverPruneLeftovers]] (run before
    * each rewrite) restores or finishes any interrupted swap. */
  private def rewriteWithout(table: String, keyCol: String,
      ids: Seq[String], dates: Seq[String]): Unit = {
    val spark = store.spark
    import spark.implicits._
    val base = new org.apache.hadoop.fs.Path(s"${store.root}/$table")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    recoverPruneLeftovers(table)
    val idsDf = ids.toDF(keyCol)
    dates.foreach { d =>
      val dir = new org.apache.hadoop.fs.Path(base, s"date=$d")
      if (fs.exists(dir)) {
        val tmp = new org.apache.hadoop.fs.Path(base, s".prune_tmp_date=$d")
        val old = new org.apache.hadoop.fs.Path(base, s".prune_old_date=$d")
        spark.read.parquet(dir.toString)
          .join(broadcast(idsDf), Seq(keyCol), "left_anti")
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(tmp.toString)
        if (!fs.rename(dir, old))
          throw new java.io.IOException(s"prune rename-aside failed for $dir")
        if (!fs.rename(tmp, dir)) {
          // put the live copy back before failing — never leave the
          // partition visible-empty with its data in a dot-dir
          fs.rename(old, dir)
          throw new java.io.IOException(s"prune rename failed for $dir")
        }
        fs.delete(old, true)
      }
    }
  }

  /** Small-file compaction candidates (r10): `date=` partitions of
    * `table` holding more part files than their bytes justify at
    * `targetBytes` per file. Continuous ingest (S9/S10 row-appends,
    * [[graft.streaming.LiveStreams]] sinks) writes one small file per
    * batch — at 100 TB that is the first operational wall: listing
    * cost, per-file open overhead, and row groups too small for
    * effective min/max pruning all degrade with file count, not data
    * size. Preview-only: returns targets, touches nothing. */
  def compactionCandidates(table: String, targetBytes: Long = 128L << 20,
      minFiles: Int = 4): Seq[Maintenance.CompactionTarget] = {
    val base = new org.apache.hadoop.fs.Path(s"${store.root}/$table")
    val fs = base.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .flatMap { dir =>
        val files = fs.listStatus(dir.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        if (files.size >= minFiles && files.size > target)
          Some(Maintenance.CompactionTarget(table,
            dir.getPath.getName.stripPrefix("date="), files.size, bytes, target))
        else None
      }
      .sortBy(_.date)
  }

  /** EXECUTE compaction: bin-pack each candidate partition's part
    * files into its target file count. With `clusterBy` columns (the
    * events table passes its write-time (severity, timestamp)
    * clustering), rows are RANGE-partitioned on those columns and
    * sorted within each output file — every compacted file covers a
    * contiguous key range with tight row-group min/max stats, which is
    * strictly better for the P6/P9 scan filters than the per-append
    * sort it replaces (StoreClusteringSpec asserts the invariant
    * survives). Without `clusterBy`, files merge with a shuffle-free
    * coalesce. Partition-bounded like [[applyPruneByCount]]: cost
    * scales with the compacted partitions, not the store.
    *
    * Crash safety: each partition rewrites to a dot-prefixed sibling
    * and swaps in with the SAME `.prune_tmp_`/`.prune_old_` rename
    * protocol as [[rewriteWithout]], so [[recoverPruneLeftovers]]
    * (run first) also finishes or rolls back an interrupted
    * compaction. Returns the targets actually compacted. */
  def applyCompaction(table: String, targetBytes: Long = 128L << 20,
      minFiles: Int = 4, clusterBy: Seq[String] = Seq.empty)
      : Seq[Maintenance.CompactionTarget] = {
    val spark = store.spark
    val base = new org.apache.hadoop.fs.Path(s"${store.root}/$table")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    recoverPruneLeftovers(table)
    val targets = compactionCandidates(table, targetBytes, minFiles)
    targets.foreach { t =>
      val dir = new org.apache.hadoop.fs.Path(base, s"date=${t.date}")
      val tmp = new org.apache.hadoop.fs.Path(base, s".prune_tmp_date=${t.date}")
      val old = new org.apache.hadoop.fs.Path(base, s".prune_old_date=${t.date}")
      val in = spark.read.parquet(dir.toString)
      val packed =
        if (clusterBy.nonEmpty)
          in.repartitionByRange(t.targetFiles, clusterBy.map(col): _*)
            .sortWithinPartitions(clusterBy.map(col): _*)
        else in.coalesce(t.targetFiles)
      packed.write.mode("overwrite").option("compression", "zstd")
        .parquet(tmp.toString)
      if (!fs.rename(dir, old))
        throw new java.io.IOException(s"compact rename-aside failed for $dir")
      if (!fs.rename(tmp, dir)) {
        fs.rename(old, dir)
        throw new java.io.IOException(s"compact rename failed for $dir")
      }
      fs.delete(old, true)
    }
    if (targets.nonEmpty) store.invalidate()
    targets
  }

  /** Recover from a prune interrupted mid-swap, per partition:
    *  - `.prune_old_date=d` present, live `date=d` missing → the crash
    *    hit between rename-aside and rename-in: restore the original
    *    (the prune never committed; conservative and lossless).
    *  - `.prune_old_date=d` present alongside live `date=d` → the
    *    crash hit before delete-aside: the pruned copy is live, drop
    *    the aside.
    *  - any `.prune_tmp_date=d` → an uncommitted rewrite; drop it.
    * Returns the leftover dirs handled. */
  def recoverPruneLeftovers(table: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(s"${store.root}/$table")
    val fs = base.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    val handled = Seq.newBuilder[String]
    fs.listStatus(base).toSeq.map(_.getPath).foreach { p =>
      val name = p.getName
      if (name.startsWith(".prune_old_")) {
        val live = new org.apache.hadoop.fs.Path(base, name.stripPrefix(".prune_old_"))
        if (fs.exists(live)) fs.delete(p, true) else fs.rename(p, live)
        handled += name
      } else if (name.startsWith(".prune_tmp_")) {
        fs.delete(p, true)
        handled += name
      }
    }
    handled.result()
  }

  /** Delete a list of partition-directory targets (the output of
    * [[pruneByAge]]/[[pruneBySize]]/[[pruneBySizeTotal]]), then
    * advance the store's generation ([[EventStore.invalidate]]), so
    * no read or registered view plans against deleted files.
    * Returns the count actually removed. */
  def deleteTargets(targets: Seq[String]): Int = {
    val spark = store.spark
    var n = 0
    targets.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(t)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.delete(p, true)) n += 1
    }
    store.invalidate()
    n
  }

  /** Prune-by-size across SEVERAL tables under ONE shared byte budget
    * (the serve `clean` max_size_mb contract — "events+outputs under
    * N MB total"): all tables' `date=` partitions pooled, newest kept
    * first, everything past the combined budget doomed. The
    * single-table [[pruneBySize]] gives each table the full budget —
    * right for a per-table cap, wrong for a total.
    *
    * Boundary semantics (pinned, matches the reference's
    * prune_by_size, storage.py:678-714 — delete oldest until the
    * retained total is ≤ budget): the partition that CROSSES the
    * budget is doomed, so the kept set never exceeds `maxBytes` even
    * if that undershoots by up to one partition. Partitions sharing a
    * date across tables order deterministically: newest date first,
    * then ascending path (so `events` sorts before `outputs` on a
    * tied date, run after run). */
  def pruneBySizeTotal(tables: Seq[String], maxBytes: Long): Seq[String] = {
    val conf = store.spark.sparkContext.hadoopConfiguration
    val parts = tables.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"${store.root}/$t")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(_.getPath.getName.startsWith("date="))
        .map(s => (s.getPath, s.getPath.getName.stripPrefix("date="),
          fs.getContentSummary(s.getPath).getLength))
    }
    val newestFirst = parts.sortBy { case (path, date, _) => (date, path.toString) }(
      Ordering.Tuple2(Ordering[String].reverse, Ordering[String]))
    var acc = 0L
    val doomed = Seq.newBuilder[String]
    newestFirst.foreach { case (path, _, size) =>
      acc += size
      if (acc > maxBytes) doomed += path.toString
    }
    doomed.result()
  }

  /** Blob orphan reconciliation (J7; bird.py:1522-1527): hashes present
    * on disk but referenced by no outputs row — left_anti against the
    * outputs frame. Returns the orphaned hashes (delete targets). */
  def orphanBlobs(blobs: BlobStore): Seq[String] = {
    val spark = store.spark
    import spark.implicits._
    val onDisk = blobs.listHashes().toDF("hash")
    val referenced = store.outputs
      .filter(org.apache.spark.sql.functions.col("storage_type") === "blob")
      .select(org.apache.spark.sql.functions.col("content_hash").as("hash"))
      .distinct()
    onDisk.join(referenced, Seq("hash"), "left_anti")
      .as[String].collect().toSeq
  }

  /** Orphan reconciliation (T4): pending attempts older than
    * `staleAfterMs` (no outcome row) get a synthetic outcome with NULL
    * exit code appended — the append-only form of the reference's
    * "mark orphaned" UPDATE. Returns the orphaned attempt ids. */
  def reconcileOrphans(now: Timestamp, staleAfterMs: Long): Seq[String] = {
    val cutoff = new Timestamp(now.getTime - staleAfterMs)
    val attempts = store.attempts
    val stale = attempts
      .join(store.outcomes.select(col("attempt_id")),
        attempts("id") === col("attempt_id"), "left_anti")
      .filter(col("timestamp") < lit(cutoff))
      .select(col("id"))
      .collect().map(_.getString(0)).toSeq
    if (stale.nonEmpty) {
      val today = new java.sql.Date(now.getTime)
      store.appendOutcomes(stale.map(id =>
        Outcome(attempt_id = id, completed_at = now, duration_ms = None,
          exit_code = None, signal = None, timeout = false, date = today)))
    }
    stale
  }
}
