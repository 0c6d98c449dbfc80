package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fluent end-to-end training-data pipeline over a documents frame
  * (doc_id, text, ...) — the composition a real corpus build runs, in
  * the order the big public pipelines run it (C4/Gopher/RefinedWeb
  * shape): heuristic quality gate → repeated-passage excision →
  * exact dedup → near-dedup with best-copy selection → benchmark
  * decontamination → language-mixture downsampling → split
  * assignment. Every stage is one of the individually oracle- or
  * differential-gated operators in graft.ml; this class only chains
  * them and keeps the bookkeeping honest.
  *
  * Each stage materializes its output with an EAGER localCheckpoint
  * before the next runs. The checkpoint does two jobs: the count over
  * it is the per-stage retention stat a pipeline owner asks for
  * first, and — decisive in practice — it TRUNCATES LINEAGE. Stages
  * like near-dedup contribute hundred-node plans; chained lazily,
  * every later stage re-optimizes the whole accumulated tree, and the
  * chain's tail goes quadratic in Catalyst time, not in data (first
  * measured form of this class: the trivial split stage cost 36 s at
  * 5k docs — all planning). With per-stage truncation the same chain
  * runs 76 s → 18.6 s at 1× and scales 30× data at 2.5× wall. At
  * 100 TB you swap the localCheckpoint for a checkpoint TABLE between
  * stages (reliable storage, restartable) — same call sites, one
  * writer swap; never run the chain as one lazy plan.
  *
  * Stats are (stage, docsIn, docsOut); a stage that only rewrites
  * text (spanDedup) or adds a column (split) keeps docsIn == docsOut.
  */
final class CorpusPipeline private (
    val docs: DataFrame, val stats: Vector[CorpusPipeline.StageStat],
    checkpointDir: Option[String]) {
  import CorpusPipeline.StageStat

  private def step(name: String)(f: DataFrame => DataFrame): CorpusPipeline =
    stepWithCleanup(name)(f)(() => ())

  /** Like `step`, but runs `cleanup` AFTER the stage output is
    * materialized — for stages that pin helper caches (e.g. the
    * decontamination eval-gram persist) which must not outlive the
    * stage in a long-lived session. */
  private def stepWithCleanup(name: String)(f: DataFrame => DataFrame)(
      cleanup: () => Unit): CorpusPipeline = {
    val in = stats.lastOption.map(_.docsOut).getOrElse(docs.count())
    val t0 = System.nanoTime()
    // Materialize AND truncate lineage (see class scaladoc). Default:
    // eager localCheckpoint (executor blocks — fast, but lost with an
    // executor). With a checkpointDir: a real parquet stage table —
    // reliable storage, and a killed job restarts from the last
    // completed stage by re-reading its directory instead of
    // recomputing the chain. The 100 TB mode.
    val out = checkpointDir match {
      case None => f(docs).localCheckpoint(true)
      case Some(dir) =>
        val path = s"$dir/stage_${stats.length}_${name.takeWhile(_.isLetterOrDigit)}"
        val spark = docs.sparkSession
        // RESUME: a completed stage table (parquet commit marker
        // present) is re-read, not recomputed — a killed build
        // restarts from its last finished stage. The directory is
        // keyed by stage index + name only: re-running a CHANGED
        // chain against an old checkpointDir would resume stale data,
        // so point an edited pipeline at a fresh directory.
        val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker))
          f(docs).write.mode("overwrite").option("compression", "zstd").parquet(path)
        spark.read.parquet(path)
    }
    val n = out.count()
    cleanup()
    val secs = math.rint((System.nanoTime() - t0) / 1e5) / 1e4
    new CorpusPipeline(out, stats :+ StageStat(name, in, n, secs), checkpointDir)
  }

  /** Drop documents scoring below `minQuality` on the heuristic
    * quality score (q39's scorer). Per-row, zero shuffle. */
  def qualityFilter(minQuality: Double): CorpusPipeline =
    step(s"quality>=$minQuality")(
      _.filter(TextAnalysis.qualityScore(col("text")) >= minQuality))

  /** Excise every k-token passage appearing in more than dfMax docs
    * (SpanDedup); text is REWRITTEN, no document is dropped. */
  def spanDedup(k: Int, dfMax: Int = 1): CorpusPipeline =
    step(s"spanDedup(k=$k)")(SpanDedup.cleanDocs(_, k, dfMax))

  /** Keep one document per exact content hash (minimum doc_id). */
  def exactDedup(): CorpusPipeline =
    step("exactDedup") { d =>
      val keep = TextDedup.exactDuplicates(d, md5(col("text")))
        .select(col("keep_id").as("doc_id"))
      d.join(keep, Seq("doc_id"), "left_semi")
    }

  /** Near-duplicate removal with best-copy selection: MinHash+LSH
    * pairs → connected components → keep the highest-quality member
    * of each cluster (ties: lowest doc_id) — the q77 policy. */
  def nearDedup(n: Int, k: Int, bands: Int, threshold: Double,
      minAgree: Int = 0): CorpusPipeline =
    step(s"nearDedup(j>=$threshold)") { d =>
      val pairs = TextDedup.minhashLshPairs(d, n, k, bands, threshold, minAgree)
      val scored = d.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 4).as("q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id")).orderBy(col("q").desc, col("doc_id"))
      val keep = DedupClusters.assign(d.select(col("doc_id")), pairs)
        .join(scored, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"))
      d.join(keep, Seq("doc_id"), "left_semi")
    }

  /** Containment dedup — the RefinedWeb-style complement to symmetric
    * nearDedup: a short doc substantially embedded in a longer one
    * scores containment ~1.0 but Jaccard near zero, so nearDedup never
    * sees it. Same keeper policy as nearDedup: connected components
    * over the containment pairs, then ONE canonical member per cluster
    * — the largest gram set (ties: lowest doc_id). Cluster-level
    * selection, not independent per-pair drops, because per-pair
    * greediness can transitively delete content: with A⊂B and B~C,
    * pairwise drops remove both A and B even when no kept doc contains
    * A. (The cluster policy inherits nearDedup's transitivity
    * assumption instead: a chain-connected cluster keeps only its
    * largest member.) Same df-capped postings cost model as q31/q97. */
  def containmentDedup(n: Int, threshold: Double,
      dfCap: Int = 50): CorpusPipeline = {
    // the pair frame fans out four ways (sizes reads it twice, the
    // component edges twice more) — without the persist each consumer
    // re-runs the whole postings pipeline (measured: the stage cost
    // 5.4 s at sf0.1 unpersisted, 3.7 s persisted); released by the
    // stage cleanup once the checkpointed output is materialized
    var pairs: DataFrame = null
    stepWithCleanup(s"containment>=$threshold") { d =>
      pairs = TextDedup.containmentPairsPostings(d, n, threshold, dfCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // per-doc gram counts recovered from the pair rows themselves
      // (any row carries both sides' sizes); docs in no pair are
      // singleton clusters and keep trivially
      val sizes = pairs.select(col("doc_a").as("doc_id"), col("n_a").as("n_sh"))
        .union(pairs.select(col("doc_b").as("doc_id"), col("n_b").as("n_sh")))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id")).orderBy(col("n_sh").desc, col("doc_id"))
      val keep = DedupClusters.assign(d.select(col("doc_id")),
          pairs.select(col("doc_a"), col("doc_b")))
        .join(sizes, Seq("doc_id"), "left")
        .withColumn("n_sh", coalesce(col("n_sh"), lit(Long.MaxValue)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"))
      d.join(keep, Seq("doc_id"), "left_semi")
    }(() => if (pairs != null) { pairs.unpersist(); () })
  }

  /** Split long documents into fixed token windows (q109's chunking
    * as a pipeline stage — the step between cleaning and sequence
    * packing: packing joins SHORT rows up to the context length, this
    * splits LONG ones down to it). Windows are `sizeTokens` tokens at
    * `stride` (overlap = size − stride); the final partial window
    * rides slice's past-end truncation. Each chunk becomes its own
    * row: `text` is rewritten, `orig_doc_id`/`chunk_id` are appended,
    * and `doc_id` becomes the packed deterministic id
    * (orig_id << 20 | chunk_id) so downstream id-keyed stages (dedup,
    * split) work unchanged — requires orig ids in [0, 2^43) and < 2^20
    * chunks/doc (a 2^20-window doc at stride 24 is a ~25 M-token
    * document; raise the shift before raising the context). The
    * contract is ENFORCED per row with raise_error — a violation would
    * silently collide packed ids feeding downstream dedup/split, so it
    * fails the job loudly instead. Per-row transform + explode, zero
    * shuffle. */
  def chunk(sizeTokens: Int = 32, stride: Int = 24): CorpusPipeline =
    step(s"chunk($sizeTokens/$stride)")(
      CorpusPipeline.chunkFrame(_, sizeTokens, stride))

  /** Near-dedup an incoming BATCH against a stored [[BandIndex]] —
    * the daily-ingest pipeline shape: the in-pipeline [[nearDedup]]
    * pairs the whole frame against itself (right for a from-scratch
    * corpus build); this stage treats the frame as the day's batch and
    * probes the persistent corpus index instead (batch-bounded cost,
    * corpus never rescanned; batch doc_ids must be disjoint from the
    * indexed corpus — the [[BandIndex.probe]] contract). Drop
    * policy matches the streaming screen: a batch doc matching the
    * corpus is dropped; within the batch the LOWER doc_id survives.
    * Params must match the index build's. After the accepted batch is
    * folded into the corpus, [[BandIndex.append]] folds it into the
    * index on the same cadence. */
  def nearDedupIndexed(table: String, n: Int, k: Int, bands: Int,
      threshold: Double): CorpusPipeline =
    step(s"nearDedupIndexed($table)") { d =>
      val pairs = BandIndex.probe(d.sparkSession, table,
        d.select(col("doc_id"), col("text")), n, k, bands, threshold)
      d.join(CorpusPipeline.dupDropIds(pairs, d.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    }

  /** Containment-dedup an incoming BATCH against a stored
    * [[NgramIndex]] (r14 — the [[nearDedupIndexed]] symmetry for the
    * containment family): the in-pipeline [[containmentDedup]] builds
    * postings over the whole frame per run; this stage treats the
    * frame as the day's batch and probes the persistent corpus
    * postings instead — only the batch tokenizes, the corpus side is
    * a stored-lists scan. Drop policy matches the ingest loop's
    * containment screen: a batch doc containment-matching the corpus
    * is dropped; within the batch the LOWER doc_id survives (cluster-
    * level canonical selection stays [[containmentDedup]]'s job).
    * After the accepted batch lands in the corpus,
    * [[NgramIndex.append]] folds it into the postings on the same
    * cadence. */
  def containmentDedupIndexed(indexDir: String, threshold: Double,
      dfCap: Int = 50): CorpusPipeline =
    step(s"containmentIndexed($indexDir)") { d =>
      val pairs = NgramIndex.probeContainment(d.sparkSession, indexDir,
          d.select(col("doc_id"), col("text")), threshold, dfCap)
        .select(col("doc_a"), col("doc_b"))
      d.join(CorpusPipeline.dupDropIds(pairs, d.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    }

  /** Drop documents sharing any n-gram with the eval set
    * (Bloom-screened + exact-verified, `ml/Decontaminate`). */
  def decontaminate(evalDocs: DataFrame, n: Int, expectedEvalGrams: Long,
      fpp: Double = 0.01): CorpusPipeline = {
    // The eval-gram index pins a persist; release it once this stage's
    // checkpoint has materialized, or each pipeline run in a long-lived
    // session leaks one cache entry.
    var index: Decontaminate.EvalIndex = null
    stepWithCleanup("decontaminate") { d =>
      index = Decontaminate.indexEval(evalDocs, n, expectedEvalGrams, fpp)
      val flagged = Decontaminate.screenBatch(d, index, n).select(col("doc_id"))
      d.join(flagged, Seq("doc_id"), "left_anti")
    } { () => if (index != null) index.grams.unpersist(false) }
  }

  /** Temperature-scaled language downsampling (q78: keep rate
    * (n_min/n_lang)^(1-alpha), deterministic content-hash draw).
    * Requires a `lang` column. */
  def langMixture(alpha: Double = 0.5): CorpusPipeline =
    step(s"langMixture(a=$alpha)") { d =>
      val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val rates = counts
        .crossJoin(broadcast(counts.agg(min(col("n_lang")).as("n_min"))))
        .withColumn("rate",
          pow(col("n_min").cast("double") / col("n_lang"), 1.0 - alpha))
      d.join(broadcast(rates.select(col("lang"), col("rate"))), Seq("lang"))
        .filter((conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 10000)
          < col("rate") * 10000)
        .drop("rate")
    }

  /** Budget-constrained temperature mixture (q108's form as a stage —
    * the alternative to [[langMixture]]'s XLM-R keep-rate): distribute
    * a FIXED document budget across languages ∝ n^alpha, i.e.
    * per-language quota c_s = N·n_s^α / Σ n_t^α and acceptance rate
    * c_s/n_s, clamped at 1. [[langMixture]] rebalances toward the
    * smallest group but gives no control over output size; this is the
    * form production pretraining runs use when the token budget IS the
    * constraint — head languages get a lower acceptance rate, tail
    * languages a higher one, and the expected output lands on the
    * budget. Acceptance is the same deterministic md5(doc_id:lang)
    * integer-bucket draw as q108, with the sqrt-sum rounded to 6 dp
    * and the threshold to an integer, so reruns are bit-stable.
    * Plan shape: the corpus never shuffles — a bounded per-language
    * agg broadcast back plus a 1-row stats broadcast; one corpus scan
    * at any scale. Requires a `lang` column. */
  def budgetMixture(budgetDocs: Long, alpha: Double = 0.5): CorpusPipeline =
    step(s"budgetMixture(N=$budgetDocs,a=$alpha)") { d =>
      val n = d.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
      val st = n.agg(round(sum(pow(col("n_s"), alpha)), 6).as("ss"))
      d.join(broadcast(n), Seq("lang"))
        .crossJoin(broadcast(st))
        .withColumn("thr", least(lit(1000000L),
          round(lit(1000000L) * budgetDocs /
            (col("ss") * pow(col("n_s"), 1.0 - alpha)), 0).cast("long")))
        .filter((conv(substring(md5(concat_ws(":", col("doc_id"), col("lang"))), 1, 8),
          16, 10).cast("long") % 1000000L) < col("thr"))
        .drop("n_s", "ss", "thr")
    }

  /** DSIR-style importance selection as a pipeline stage (r11, the
    * q115 recipe): score every document against a target subset via
    * [[Dsir.hashedBigramWeights]] and keep those with rounded weight
    * STRICTLY ABOVE `minLogw` (default 0 = exactly the q115
    * `selected = logw > 0` rule — strict, so a featureless or
    * exactly-boundary doc is dropped at the default, matching the
    * emitted flag; r11 review caught the >=-vs-> divergence). Both
    * hashed-
    * bigram LMs are bounded at `buckets` rows, so the stage adds one
    * explode pass over the stage input plus broadcast-only joins —
    * no corpus-sized shuffle beyond the feature tf groupBy. The
    * target predicate evaluates on the STAGE INPUT (post-upstream
    * filters), matching how the published method fits its target LM
    * on the curated target sample. */
  def importanceFilter(isTarget: org.apache.spark.sql.Column,
      buckets: Int = 256, minLogw: Double = 0.0): CorpusPipeline =
    step(s"importanceFilter(B=$buckets,min=$minLogw)") { d =>
      // LEFT join, not semi: a doc with no bigram (single-token or
      // empty text) gets no weight row from Dsir — its featureless
      // weight is 0, and it must face the threshold like any other
      // doc, not be excised unconditionally (r11 review finding).
      val w = Dsir.hashedBigramWeights(d, isTarget, buckets)
        .select(col("doc_id"), col("logw"))
      d.join(w, Seq("doc_id"), "left")
        .filter(coalesce(col("logw"), lit(0.0)) > minLogw)
        .drop("logw")
    }

  /** Trained-classifier quality filter (the FineWeb-Edu/DCLM recipe):
    * score every document with a fitted
    * [[QualityClassifier.Model]] and keep those with
    * quality_prob ≥ `minProb`. The model is literal coefficients, so
    * the stage is a pure per-row fold — map-only, no shuffle, no UDF;
    * the cheapest stage in the chain at any corpus size. Train the
    * model ONCE on a labeled sample ([[QualityClassifier.train]]),
    * persist it, and reuse across pipeline runs. */
  def classifierFilter(model: QualityClassifier.Model,
      minProb: Double = 0.5): CorpusPipeline =
    step(s"classifierFilter(B=${model.buckets},min=$minProb)") { d =>
      QualityClassifier.score(d, model)
        .filter(col("quality_prob") >= minProb)
        .drop("margin", "quality_prob")
    }

  /** Terminal stage: land the surviving documents as `nShards`
    * balanced parquet shards + manifest under `dir` (one file per
    * shard, crash-safe swap — [[ShardExport.write]]) and return the
    * manifest. The natural last call of a corpus build:
    * pipeline...split().exportShards(dir, n). */
  def exportShards(dir: String, nShards: Int): DataFrame =
    ShardExport.write(docs, dir, nShards)

  /** Append the deterministic content-hash split column (q61). */
  def split(trainPct: Int = 90, validationPct: Int = 5): CorpusPipeline =
    step("split") { d =>
      val bucket = (conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("long") % 100)
      d.withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + validationPct, "validation")
          .otherwise("test"))
    }

  /** Write the pipeline product: the corpus as zstd parquet under
    * `<path>/corpus` — partitioned by `split` when [[split]] ran, so a
    * trainer reads `split=train` via partition pruning without
    * touching the rest — plus the retention/timing stats as
    * `<path>/stats.json`. Storage-agnostic (Hadoop FileSystem), so the
    * same call writes local disk, HDFS or object stores. */
  def writeTo(path: String): Unit = {
    val w = docs.write.mode("overwrite").option("compression", "zstd")
    (if (docs.columns.contains("split")) w.partitionBy("split") else w)
      .parquet(s"$path/corpus")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = stats.map(s =>
      s"""{"stage":${q(s.stage)},"docs_in":${s.docsIn},""" +
        s""""docs_out":${s.docsOut},"secs":${s.secs}}""").mkString("[", ",", "]")
    val p = new org.apache.hadoop.fs.Path(s"$path/stats.json")
    val fs = p.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((json + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** Human-readable retention report. */
  def report: String =
    stats.map(s =>
      f"${s.stage}%-22s ${s.docsIn}%7d -> ${s.docsOut}%7d  (${s.secs}%.2f s)")
      .mkString("\n")
}

object CorpusPipeline {
  final case class StageStat(stage: String, docsIn: Long, docsOut: Long,
      secs: Double)

  /** In-memory stage materialization (localCheckpoint) — the
    * interactive/bench mode. */
  def apply(docs: DataFrame): CorpusPipeline =
    new CorpusPipeline(docs, Vector.empty, None)

  /** Durable stage materialization: every stage writes a zstd parquet
    * table under `checkpointDir` and continues from the re-read — the
    * restartable production mode (a failed 100 TB build resumes from
    * the last completed stage directory). */
  def checkpointed(docs: DataFrame, checkpointDir: String): CorpusPipeline =
    new CorpusPipeline(docs, Vector.empty, Some(checkpointDir))

  /** The chunking transform proper — ONE implementation shared by the
    * batch [[CorpusPipeline.chunk]] stage and the [[streaming]] path
    * (it is a stateless per-row transform+explode, so it composes into
    * a micro-batch unchanged; the parity test in CorpusPipelineSpec
    * pins batch/streaming agreement). The packed-id contract
    * (doc_id in [0, 2^43), < 2^20 chunks/doc) is enforced per row with
    * raise_error — a violation would silently collide packed ids
    * feeding downstream dedup/split, so it fails the job loudly. */
  private[ml] def chunkFrame(d: DataFrame, sizeTokens: Int,
      stride: Int): DataFrame = {
    val toks = col("toks")
    val n = col("n")
    val chunks = transform(
      sequence(lit(0L),
        ceil(greatest(n - sizeTokens.toLong, lit(0L)) / stride.toDouble).cast("long")),
      i => struct(i.as("chunk_id"),
        concat_ws(" ",
          slice(toks, (i * stride.toLong + 1L).cast("int"), lit(sizeTokens)))
          .as("chunk")))
    d.withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("c", explode(chunks))
      .withColumn("orig_doc_id", col("doc_id"))
      .withColumn("chunk_id", col("c.chunk_id"))
      .withColumn("doc_id",
        when(col("doc_id").cast("long") < 0L ||
            col("doc_id").cast("long") >= (1L << 43) ||
            col("chunk_id") >= (1L << 20),
          raise_error(concat(
            lit("CorpusPipeline.chunk: packed-id contract violated (doc_id="),
            col("doc_id").cast("string"),
            lit(" must be in [0, 2^43), chunk_id="),
            col("chunk_id").cast("string"),
            lit(" must be < 2^20)"))).cast("long"))
          .otherwise(shiftleft(col("doc_id").cast("long"), 20)
            .bitwiseOR(col("chunk_id"))))
      .withColumn("text", col("c.chunk"))
      .drop("toks", "n", "c")
  }

  /** Drop-id selection for verified near-dup pairs touching a batch:
    * pair sides are (a < b) by VALUE, so the corpus side can land on
    * either column. Every pair from an index probe touches the batch
    * (corpus×corpus pairs are never generated), so membership is
    * resolved by joining the BOUNDED batch-id set (broadcast), never
    * by scanning the corpus: a pair with a corpus side drops the batch
    * side; an in-batch pair drops the higher id. */
  private[ml] def dupDropIds(pairs: DataFrame,
      batchIds: DataFrame): DataFrame = {
    val a = batchIds.select(col("doc_id").as("doc_a")).distinct()
      .withColumn("a_in", lit(true))
    val b = batchIds.select(col("doc_id").as("doc_b")).distinct()
      .withColumn("b_in", lit(true))
    pairs
      .join(broadcast(a), Seq("doc_a"), "left")
      .join(broadcast(b), Seq("doc_b"), "left")
      .select(
        when(coalesce(col("a_in"), lit(false)) &&
            coalesce(col("b_in"), lit(false)),
          greatest(col("doc_a"), col("doc_b")))
          .when(coalesce(col("a_in"), lit(false)), col("doc_a"))
          .otherwise(col("doc_b")).as("doc_id"))
      .distinct()
  }

  /** The ingest-time form of the batch policy chain: every arriving
    * micro-batch of (doc_id, text) runs quality gate → near-dup screen
    * against a PREBUILT corpus index → decontamination screen against
    * a PREBUILT eval index, and `onBatch(batchId, accepted, stats)`
    * receives the surviving documents plus the same per-stage
    * (docsIn, docsOut, secs) stats the batch pipeline reports. The
    * same differential-tested operators run in both modes — this
    * composes [[graft.streaming.StreamingDedup.checkBatch]] and
    * [[Decontaminate.screenBatch]] inside one foreachBatch, it does
    * not reimplement them.
    *
    * All screens are stateless per batch (per-row predicate,
    * stream-static joins against the two indexes), so state never
    * accumulates across batches and the stream runs indefinitely;
    * refresh the indexes at whatever cadence accepted batches are
    * folded into the corpus. Duplicate policy matches the batch
    * chain: a batch doc matching the corpus is dropped; within a
    * batch the lower doc_id survives.
    *
    * `optOutState` (r18 — VERDICT r17 #3) points the chain at a
    * ForgetCadence `stateDir`: each micro-batch then consults the
    * DURABLE barred-ids set ([[barredIds]] — written by the ingest
    * loop's takedown drain, surviving tombstone compaction) and drops
    * re-crawled taken-down docs before any content work. Stream-static
    * broadcast anti-join, watermark-free — the barred set is a static
    * side input re-resolved per batch, never stream state. Without it
    * a deployment on THIS chain (no stored band table, so no tombstone
    * screen) silently re-admits taken-down content. */
  def streaming(stream: DataFrame, minQuality: Double,
      dedupIndex: graft.streaming.StreamingDedup.CorpusIndex,
      n: Int, k: Int, bands: Int, threshold: Double, minAgree: Int,
      evalIndex: Decontaminate.EvalIndex, evalN: Int,
      chunkTo: Option[(Int, Int)] = None,
      optOutState: Option[String] = None)(
      onBatch: (Long, DataFrame, Vector[StageStat]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stats = Vector.newBuilder[StageStat]
        def staged(name: String, in: Long, out: DataFrame, t0: Long): (DataFrame, Long) = {
          val mat = out.localCheckpoint(true)
          val nOut = mat.count()
          stats += StageStat(name, in, nOut,
            math.rint((System.nanoTime() - t0) / 1e5) / 1e4)
          (mat, nOut)
        }
        val nIn = batch.count()
        var t0 = System.nanoTime()
        // opt-out screen FIRST (r18): taken-down ids drop before any
        // content work; zero cost when no takedown has ever drained
        // (one FS existence check, no jobs, no stage stat)
        val barred = optOutState
          .flatMap(d => barredIds(batch.sparkSession, d))
        val (adm, nAdm) = barred match {
          case None => (batch, nIn)
          case Some(b) => staged("optOutScreen", nIn,
            batch.join(broadcast(b.select(col("doc_id").as("__bar_id"))),
              col("doc_id") === col("__bar_id"), "left_anti")
              .drop("__bar_id"), t0)
        }
        t0 = System.nanoTime()
        val (q, nQ) = staged(s"quality>=$minQuality", nAdm,
          adm.filter(TextAnalysis.qualityScore(col("text")) >= minQuality), t0)
        t0 = System.nanoTime()
        val matches = graft.streaming.StreamingDedup
          .checkBatch(q, dedupIndex, n, k, bands, threshold, minAgree)
        // corpus match → the arriving doc is the duplicate; in-batch
        // pair (a < b) → the higher id is the duplicate
        val dropIds = matches.select(
          when(col("source") === "corpus", col("doc_id"))
            .otherwise(col("dup_id")).as("doc_id")).distinct()
        val (d, nD) = staged("nearDedupScreen", nQ,
          q.join(dropIds, Seq("doc_id"), "left_anti"), t0)
        matches.unpersist()
        t0 = System.nanoTime()
        val flagged = Decontaminate.screenBatch(d, evalIndex, evalN)
          .select(col("doc_id"))
        val (accepted, nA) = staged("decontaminateScreen", nD,
          d.join(flagged, Seq("doc_id"), "left_anti"), t0)
        // optional context-length chunking on the way out (q109's
        // stateless transform — identical operator to the batch stage)
        val out = chunkTo.fold(accepted) { case (sz, stride) =>
          t0 = System.nanoTime()
          staged(s"chunk($sz/$stride)", nA,
            chunkFrame(accepted, sz, stride), t0)._1
        }
        onBatch(batchId, out, stats.result())
      }
      .start()

  /** Stored-index attachments + maintenance policy for
    * [[ingestAndMaintain]]. `bandTable` (with its `_keys` companion)
    * is required — it is both the near-dup SCREEN and the primary
    * append target; `lexIndexDir` / `ivfTable` fold the same accepted
    * batch into the retrieval and vector indexes when attached
    * (`embed` maps accepted (doc_id, text, …) rows to the
    * (vec_id, label, embedding) shape [[IvfIndex.append]] expects —
    * at 100 TB this is the embedding-service call; tests use a
    * deterministic fake). `compactAtFilesPerBucket` is the measured
    * small-file-debt threshold at which the maintenance slot runs
    * [[graft.store.Bucketing.compactBucketed]] on the bucketed index
    * tables (LexIndex needs no compaction: its append IS a full
    * re-layout of the postings). `exportTo` attaches a training-shard
    * re-export cadence (r12 — the loop's missing OUTPUT half): see
    * [[ExportCadence]]. */
  final case class IndexMaintenance(
      bandTable: String, n: Int, k: Int, bands: Int, threshold: Double,
      lexIndexDir: Option[String] = None,
      ivfTable: Option[String] = None,
      embed: DataFrame => DataFrame = identity,
      compactAtFilesPerBucket: Double = 16.0,
      exportTo: Option[ExportCadence] = None,
      ivfMaintain: Option[IvfMaintainCadence] = None,
      sigIndex: Option[SigMaintenance] = None,
      kmvTelemetry: Option[KmvTelemetry] = None,
      ngramIndex: Option[NgramMaintenance] = None,
      fuzzyIndex: Option[FuzzyMaintenance] = None,
      forgetFeed: Option[ForgetCadence] = None)

  /** Continuous takedown processing for [[ingestAndMaintain]] (r17 —
    * the forget family's LOOP integration): each maintenance slot
    * drains the pending slice of a compliance-owned request feed and
    * serves it with [[forget]]/[[forgetWithStore]] — so a deployment
    * honors right-to-be-forgotten at batch cadence with no operator
    * in the loop. `requests` resolves the feed: rows of
    * (req_id LONG — MONOTONE, the idempotence clock; doc_id LONG).
    * The processed high-water persists as a band-table property, so
    * a crash between the forget and the property write replays the
    * slice into idempotent tombstone adds / an already-clean store —
    * the at-least-once contract every other leg carries. Requests
    * drain even on batches the screens empty out. A drained id is
    * also barred from RE-INGESTION (the loop's opt-out screen — a
    * re-crawl of taken-down content must not resurrect it, and must
    * not trip the append resurrection guard either). The bar is
    * DURABLE (r18 advice): drained ids also land in the stateDir's
    * barred set ([[barIds]]), which [[compactForgotten]] does NOT
    * clear — so a re-crawl stays barred across any number of
    * compactions; re-admission is an explicit [[readmit]], never a
    * side effect of physical cleanup. Physical cleanup is
    * backlog-gated like every other cadence: when the band tombstone
    * set reaches `compactAtBacklog`, the slot runs
    * [[compactForgotten]] (measured trigger, not a blind every-N).
    *
    * Contract: the feed must be READABLE from the first batch — seed
    * an empty typed frame if no request has ever landed (an
    * unreadable feed fails the query loudly rather than silently
    * dropping takedowns behind a misconfigured path).
    *
    * `stateDir` holds the high-water as a tiny FILE (rename-swapped,
    * crash-repaired on read) — deliberately NOT a table property:
    * every bucketed-table rewrite (compactForgotten, the
    * files-per-bucket compaction cadence, an IVF rebuild) recreates
    * its table and silently drops properties, and a lost high-water
    * re-drains old requests — which would re-tombstone ids an
    * operator had explicitly re-admitted post-compaction (caught by
    * CorpusPipelineSpec's backlog-gate test). */
  final case class ForgetCadence(
      requests: org.apache.spark.sql.SparkSession => DataFrame,
      stateDir: String,
      store: Option[CorpusStore] = None,
      compactAtBacklog: Long = Long.MaxValue)

  /** Read a tiny rename-swapped long-state file (`<name>` /
    * `<name>_new` under `dir` — the forget high-water, the persisted
    * export debt). Repairs a swap killed between delete and rename: a
    * complete `<name>_new` counts as the value and is promoted. */
  private def readLongState(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String): Option[Long] = {
    val live = new org.apache.hadoop.fs.Path(dir, name)
    val staged = new org.apache.hadoop.fs.Path(dir, name + "_new")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read(p: org.apache.hadoop.fs.Path): Option[Long] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").trim.toLong)
        finally in.close()
      }
    read(live).orElse {
      val v = read(staged)
      v.foreach { _ =>
        if (!fs.rename(staged, live))
          throw new java.io.IOException(s"state repair failed: $staged")
      }
      v
    }
  }

  /** Persist a long-state file: write `<name>_new`, drop `<name>`,
    * rename in — at every intermediate point a complete value exists
    * under one of the two names ([[readLongState]] repairs). */
  private def writeLongState(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String, v: Long): Unit = {
    val live = new org.apache.hadoop.fs.Path(dir, name)
    val staged = new org.apache.hadoop.fs.Path(dir, name + "_new")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val out = fs.create(staged, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(live, false)
    if (!fs.rename(staged, live))
      throw new java.io.IOException(s"state rename failed: $staged")
    ()
  }

  /** One drained takedown slice's durable effects. The bar leg runs
    * CONCURRENT with the forget legs (r19 opt — the screen/append-slot
    * idiom): the bar parquet and the index/store forget touch disjoint
    * storage, both are idempotent, and neither has an ordering
    * contract with the other. Both legs settle before anything
    * propagates — the first failure is rethrown with the other
    * attached as suppressed, so neither is lost and no leg keeps
    * running unobserved — and the high-water advances only after both
    * succeeded: a crash or failure before it replays the slice into
    * idempotent bars, tombstone adds and an already-clean store
    * (at-least-once, exactly-once effect). Returns the forget leg's
    * result (the store partitions rewritten). */
  private[graft] def commitDrain(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, newHw: Long, bar: () => Unit,
      forget: () => Seq[String]): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val barF = Future(scala.concurrent.blocking {
      // active session pinned per thread — the forget-leg idiom
      // (shared pool threads may carry a stale one)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      bar()
    })
    val forgotten = scala.util.Try(forget())
    val barred = scala.util.Try(Await.result(barF, scala.concurrent.duration.Duration.Inf))
    forgotten.failed.foreach(e => barred.failed.foreach(e.addSuppressed))
    val parts = forgotten.get
    barred.get
    writeForgetHw(spark, stateDir, newHw)
    parts
  }

  /** Read the forget-feed high-water (-1 = nothing processed). */
  private def readForgetHw(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long = readLongState(spark, dir, "hw").getOrElse(-1L)

  private def writeForgetHw(spark: org.apache.spark.sql.SparkSession,
      dir: String, v: Long): Unit = writeLongState(spark, dir, "hw", v)

  /** The DURABLE barred-ids record behind the opt-out screen (r18
    * advice — takedowns must survive tombstone compaction): every
    * drained takedown's doc_id lands here (id-idempotent append), and
    * the screens consult it INDEPENDENTLY of the index tombstone sets
    * [[compactForgotten]] clears. Re-ingestion of a taken-down doc
    * stays barred across any number of compactions until an operator
    * explicitly re-admits it with [[readmit]]. Lives as a tiny parquet
    * dir under the ForgetCadence `stateDir` — request-feed sized, not
    * corpus sized. */
  def barredIds(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] = {
    // resolved-frame cache (the LexIndex.postingsFrame precedent —
    // spark.read.parquet pays a per-call listing/footer tax, and the
    // opt-out screens call this EVERY micro-batch while the set only
    // changes at drain/readmit time). Keyed on a file-listing
    // fingerprint, not just writer invalidation (r19 advice: a drain
    // running in a DIFFERENT process than the screen — ingest JVM vs
    // a long-lived Serve JVM — writes bars the reader's frozen
    // InMemoryFileIndex would never see until restart; the
    // fingerprint costs one listStatus of a request-feed-sized dir
    // per batch and makes the bar visible at the reader's next
    // call). Session-validated: a cached frame from a stopped
    // session is dead.
    val live = new org.apache.hadoop.fs.Path(stateDir, "barred")
    val staged = new org.apache.hadoop.fs.Path(stateDir, "barred_new")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // repair a readmit swap killed between delete and rename
    if (!fs.exists(live) && fs.exists(staged) && !fs.rename(staged, live))
      throw new java.io.IOException(s"barred repair failed: $staged")
    if (!fs.exists(live)) None
    else {
      val fp = fs.listStatus(live)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|")
      val cached = barredCache.get(stateDir)
      if (cached != null && cached._1 == fp &&
          (cached._2.sparkSession eq spark)) Some(cached._2)
      else {
        val df = spark.read.parquet(live.toString)
        barredCache.put(stateDir, (fp, df))
        Some(df)
      }
    }
  }

  /** Resolved barred-set frames per stateDir, keyed on the barred
    * dir's file-listing fingerprint (names carry writer UUIDs, so
    * both appends and swap rewrites change it even within mtime
    * granularity); same-JVM writers ([[barIds]], [[readmit]]) ALSO
    * invalidate eagerly. Absence is NOT cached (a miss re-checks
    * the FS — cheap, and a first takedown must become visible). */
  private val barredCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]()

  /** Bar ids from re-ingestion forever (until [[readmit]]) — the
    * drain calls this alongside the index tombstones. Idempotent set
    * semantics (an at-least-once replay never grows the set). */
  def barIds(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      ids: DataFrame): Unit = {
    val cast = ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      .filter(col("doc_id").isNotNull).distinct()
    val novel = barredIds(spark, stateDir)
      .fold(cast)(b => cast.join(b, Seq("doc_id"), "left_anti"))
    if (!novel.isEmpty) {
      novel.coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(new org.apache.hadoop.fs.Path(stateDir, "barred").toString)
      barredCache.remove(stateDir)
      ()
    }
  }

  /** Explicitly re-admit ids: remove them from the durable barred set
    * (rename-swapped rewrite). If the ids are ALSO still tombstoned in
    * the indexes (no compaction since their takedown), run
    * [[compactForgotten]] first — the screens consult both records,
    * and full re-admission means clearing both. */
  def readmit(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      ids: DataFrame): Unit = {
    barredIds(spark, stateDir).foreach { b =>
      val keep = b.join(
        ids.select(col(ids.columns.head).cast("long").as("doc_id")),
        Seq("doc_id"), "left_anti").localCheckpoint(true)
      val live = new org.apache.hadoop.fs.Path(stateDir, "barred")
      val staged = new org.apache.hadoop.fs.Path(stateDir, "barred_new")
      val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
      keep.coalesce(1).write.mode("overwrite").parquet(staged.toString)
      fs.delete(live, true)
      if (!fs.rename(staged, live))
        throw new java.io.IOException(s"barred rename failed: $staged")
      barredCache.remove(stateDir)
      ()
    }
  }

  /** Serve a takedown/opt-out request across EVERY stored index the
    * loop maintains (r16 — the right-to-be-forgotten composition):
    * one call tombstones the deleted doc ids in each configured leg —
    * band, lexical, vector, signature, n-gram, fuzzy — so no screen,
    * probe, or retrieval result mentions them from this moment on,
    * at broadcast-anti-join cost per probe and ZERO index rewrites.
    * The physical cleanup is [[compactForgotten]], run at maintenance
    * cadence like the bucketed-table compaction it resembles. The ids
    * frame is the deletion feed; each index's add is idempotent, so
    * an at-least-once feed never grows the sets. (The doc STORE's own
    * rewrite — dropping the rows — is the caller's partition rewrite,
    * the reference's prune semantics; this handles the derived state
    * the reference never had.) */
  def forget(spark: org.apache.spark.sql.SparkSession, maint: IndexMaintenance,
      ids: DataFrame): Unit = {
    // the six adds run as concurrent Spark jobs (r18, the append-slot
    // precedent): each leg owns its table/dir, each add is idempotent
    // set semantics, and no screen consults a HALF-forgotten state —
    // the composed call returns only when every leg committed.
    // Callers passing a lazy ids frame should localCheckpoint it
    // (ingestAndMaintain's drain does) so six legs don't recompute it.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val legs = Seq.newBuilder[() => Unit]
    legs += (() => BandIndex.addTombstones(spark, maint.bandTable, ids))
    maint.lexIndexDir.foreach(d =>
      legs += (() => LexIndex.addTombstones(spark, d, ids)))
    maint.ivfTable.foreach(t =>
      legs += (() => IvfIndex.addTombstones(spark, t, ids)))
    maint.sigIndex.foreach(s =>
      legs += (() => SigIndex.addTombstones(spark, s.table, ids)))
    maint.ngramIndex.foreach(n =>
      legs += (() => NgramIndex.addTombstones(spark, n.dir, ids)))
    maint.fuzzyIndex.foreach(f =>
      legs += (() => FuzzyJoin.FuzzyIndex.addTombstones(spark, f.table, ids)))
    // blocking{} — see the append slot's note: legs block on Spark
    // jobs; the hint keeps the shared fork-join pool from
    // serializing them on low-core hosts. Active session pinned per
    // thread (shared pool threads may carry a stale one).
    Await.result(Future.sequence(legs.result().map(l =>
        Future(scala.concurrent.blocking {
          org.apache.spark.sql.SparkSession.setActiveSession(spark)
          l()
        }))),
      scala.concurrent.duration.Duration.Inf)
    ()
  }

  /** The caller-owned accepted-corpus store for [[forgetWithStore]]:
    * a Hive-partitioned parquet dir (wherever `onBatch` landed the
    * docs), its partition column, and the doc-id column.
    * `partitionHintCol` (r18 — VERDICT r17 #2) names an OPTIONAL
    * column on the takedown request feed carrying the doc's partition
    * value (a takedown request usually knows the doc's date/source):
    * hinted requests skip [[graft.store.Maintenance.forgetRows]]'s
    * detection scan entirely — at 100 TB the difference between a
    * per-drain corpus pass and touching only the named partitions.
    * Hint-less rows (null, or the column absent) fall back to the
    * scan; a WRONG hint leaves the row in place (trusted, per
    * forgetRows' contract). `auditHintedSample` > 0 (r19 — VERDICT
    * r18 #3) makes each drain re-probe that many hinted ids against
    * the store and surface wrong-hint survivors (stderr + a durable
    * `.forget_audit` parquet under the store) — the compliance path
    * measuring its own failure mode, at an opt-in sampled cost. */
  final case class CorpusStore(dir: String, partitionCol: String,
      idCol: String = "doc_id", partitionHintCol: Option[String] = None,
      auditHintedSample: Int = 0)

  /** The COMPLETE takedown (r17 — closes VERDICT r16 #6): one call,
    * one idempotence contract, across the source-of-truth store AND
    * every derived index. Order matters for the serving guarantee:
    * the index tombstones commit FIRST ([[forget]] — from that moment
    * no screen, probe, or retrieval result mentions the ids), then
    * the store's affected partitions rewrite
    * ([[graft.store.Maintenance.forgetRows]] — anti-join rewrite,
    * crash-safe rename-aside swap, partitions-touched cost). A crash
    * between the two leaves the ids invisible to every query surface
    * with the store rewrite still owed — the replay (both halves
    * idempotent: tombstone adds are set-semantics, the rewrite
    * anti-joins already-clean partitions into a no-op) finishes it.
    * Physical index cleanup stays [[compactForgotten]], on the
    * maintenance cadence. Returns the store partitions rewritten. */
  def forgetWithStore(spark: org.apache.spark.sql.SparkSession,
      maint: IndexMaintenance, store: CorpusStore,
      ids: DataFrame): Seq[String] = {
    // the feed's id column rides under whatever name the caller used
    // (the drain's contract is `doc_id`); the STORE may key on a
    // different idCol — resolve the feed's id column to store.idCol
    // HERE (r19 advice: passing a multi-column [doc_id, hint] frame
    // through to forgetRows with store.idCol != "doc_id" threw on
    // every drain, wedging the takedown stream at its high-water)
    val storeIds =
      if (ids.columns.contains(store.idCol)) ids
      else if (ids.columns.contains("doc_id"))
        ids.withColumnRenamed("doc_id", store.idCol)
      else if (ids.columns.length == 1)
        ids.withColumnRenamed(ids.columns.head, store.idCol)
      else ids // multi-column, no recognizable id — forgetRows refuses loudly
    // index tombstones take the id column alone (each leg's add is
    // positional-single-column by contract)
    forget(spark, maint,
      storeIds.select(org.apache.spark.sql.functions.col(store.idCol)))
    graft.store.Maintenance.forgetRows(spark, store.dir,
      store.partitionCol, storeIds, store.idCol, store.partitionHintCol,
      store.auditHintedSample)
  }

  /** One-frame compliance/ops status for the whole takedown pipeline
    * (r19 — the monitoring surface the r16-r19 deletion family was
    * missing): request-feed lag, durable barred-set size, per-index
    * tombstone backlogs (what [[compactForgotten]] would physically
    * drop), export staleness, and wrong-hint audit misses — every
    * input is request-feed / census sized, so the report is a handful
    * of bounded jobs regardless of corpus scale, safe to run at
    * monitoring cadence against a 100 TB deployment. Rows:
    * (component, metric, value). Components appear only when their
    * leg is configured/exists; a healthy quiet pipeline reads
    * pending_requests = 0, stale_fraction < the ExportCadence
    * threshold, audit_misses = 0. */
  def complianceReport(spark: org.apache.spark.sql.SparkSession,
      maint: IndexMaintenance): DataFrame = {
    val rows = Seq.newBuilder[(String, String, Double)]
    def dirCount(path: String): Option[Long] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(spark.read.parquet(path)
        .select(col("doc_id")).distinct().count())
      else None
    }
    def tableCount(table: String): Option[Long] =
      if (Tombstones.exists(spark, table))
        Some(spark.table(Tombstones.tableFor(table))
          .select(col("doc_id")).distinct().count())
      else None
    maint.forgetFeed.foreach { fc =>
      val hw = readForgetHw(spark, fc.stateDir)
      rows += (("forget_feed", "high_water", hw.toDouble))
      val pending = fc.requests(spark)
        .filter(col("req_id").cast("long") > hw).count()
      rows += (("forget_feed", "pending_requests", pending.toDouble))
      val barred = barredIds(spark, fc.stateDir)
        .map(_.count()).getOrElse(0L)
      rows += (("barred", "ids", barred.toDouble))
      fc.store.foreach { st =>
        // audit rows carry missed_id (not doc_id) — raw row count
        val p = new org.apache.hadoop.fs.Path(st.dir, ".forget_audit")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val n = if (fs.exists(p))
          spark.read.parquet(p.toString).count() else 0L
        rows += (("store_audit", "misses", n.toDouble))
      }
    }
    tableCount(maint.bandTable).foreach(n =>
      rows += (("tombstones", "band", n.toDouble)))
    maint.lexIndexDir.flatMap(d => dirCount(s"$d/tombstones")).foreach(n =>
      rows += (("tombstones", "lex", n.toDouble)))
    maint.ngramIndex.flatMap(ng => dirCount(s"${ng.dir}/tombstones"))
      .foreach(n => rows += (("tombstones", "ngram", n.toDouble)))
    maint.ivfTable.flatMap(tableCount).foreach(n =>
      rows += (("tombstones", "ivf", n.toDouble)))
    maint.sigIndex.flatMap(s => tableCount(s.table)).foreach(n =>
      rows += (("tombstones", "sig", n.toDouble)))
    maint.fuzzyIndex.flatMap(f => tableCount(f.table)).foreach(n =>
      rows += (("tombstones", "fuzzy", n.toDouble)))
    maint.exportTo.foreach { ec =>
      val live =
        if (ShardExport.recover(spark, ec.dir))
          Some(ShardExport.readManifest(spark, ec.dir)
            .agg(sum(col("n_docs"))).head().getLong(0))
        else None
      live.foreach(n => rows += (("export", "live_docs", n.toDouble)))
      val debt = readLongState(spark, ec.dir + ".state_", "export_debt")
        .orElse(readLongState(spark, ec.dir, ".export_debt"))
      debt.foreach(d => rows += (("export", "debt", d.toDouble)))
      for (d <- debt; n <- live; if n > 0)
        rows += (("export", "stale_fraction",
          math.rint(d.toDouble / n * 1e4) / 1e4))
    }
    import spark.implicits._
    rows.result().toDF("component", "metric", "value")
  }

  /** Physically drop all tombstoned rows from every configured index
    * — each leg's own staged compaction, each clearing its set only
    * after its rewrite committed (replay-idempotent leg by leg). */
  def compactForgotten(spark: org.apache.spark.sql.SparkSession,
      maint: IndexMaintenance): Unit = {
    BandIndex.compactTombstones(spark, maint.bandTable)
    maint.lexIndexDir.foreach(d => LexIndex.compactTombstones(spark, d))
    maint.ivfTable.foreach(t => IvfIndex.compactTombstones(spark, t))
    maint.sigIndex.foreach(s => SigIndex.compactTombstones(spark, s.table))
    maint.ngramIndex.foreach(n => NgramIndex.compactTombstones(spark, n.dir))
    maint.fuzzyIndex.foreach(f =>
      FuzzyJoin.FuzzyIndex.compactTombstones(spark, f.table))
  }

  /** Stored fuzzy-title attachment for [[ingestAndMaintain]] (r15):
    * the RECORD-LINKAGE screen leg — near-identical identifiers
    * (titles, URLs) whose bodies are otherwise novel pass every
    * content screen (minhash/containment measure token sets of the
    * WHOLE text; a re-crawled page with a fresh boilerplate body but
    * the same title is a different document to them), while
    * edit-distance over the identifier is exactly that signal.
    * `key` maps batch rows to `(doc_id, blk, s)` — doc_id MUST be
    * the row's doc_id, blk the blocking key, s the string to verify
    * (e.g. the first-tokens title, [[graft.ml.FuzzyJoin]]'s q130
    * shape). Probe-before-admit against the stored bucketed table
    * ([[FuzzyJoin.FuzzyIndex.probe]] — co-located block join, length
    * lower bound, hot-block cap over the combined population; replay
    * echoes self-pair and are excluded), the loop's standard drop
    * policy; append-after is id-idempotent
    * ([[FuzzyJoin.FuzzyIndex.append]]), so the at-least-once replay
    * contract carries over; the table joins the bucketed compaction
    * cadence. */
  final case class FuzzyMaintenance(table: String,
      key: DataFrame => DataFrame, maxDist: Int = 8,
      blockCap: Int = 1000)

  /** Stored n-gram postings attachment for [[ingestAndMaintain]]
    * (r14): the CONTAINMENT screen leg — a short doc substantially
    * embedded in an earlier accepted long doc scores containment ~1
    * but Jaccard near zero, so the minhash screen STRUCTURALLY misses
    * it ([[CorpusPipeline.containmentDedup]]'s rationale, now at
    * ingest time against the stored corpus postings, batch-bounded
    * text work). Probe-before-admit with the loop's standard drop
    * policy (corpus match drops the batch doc, in-batch pair drops
    * the higher id; replay echoes are excluded inside
    * [[NgramIndex.probeContainment]], so the band index stays the
    * sole replay-drop authority); append-after in the maintenance
    * slot ([[NgramIndex.append]] — replay-idempotent merge,
    * crash-safe staged swap; one O(index) rewrite per fold, the
    * LexIndex.appendBatch cost model). The index fixes gram width n
    * at build; `dfCap <= dfMax` enforced by the probe. */
  final case class NgramMaintenance(dir: String, threshold: Double,
      dfCap: Int = 50)

  /** Cardinality-drift telemetry for [[ingestAndMaintain]] (r14 — the
    * cue the loop's other clocks don't see: IVF driftStats watches
    * vector geometry, export/file debt watch volume, but nothing
    * watched VOCABULARY or source-mix growth). Each monitor maps the
    * ACCEPTED batch rows to a (g, v) frame — g the group label
    * (a constant for a global count, or e.g. lang), v the value whose
    * per-g distinct cardinality is monitored (tokens, sources). The
    * maintenance slot folds every batch into the monitor's stored KMV
    * state at `<stateDir>/<name>` ([[Sketches.foldKmvBatchStats]] —
    * bounded at groups×k longs, dirty-bucket IO only, crash-safe +
    * replay-idempotent like the streaming monitor) and reports the
    * estimate movement via onMaintain as
    * `kmvMonitor(<name>) (estBefore → estAfter)` — a near-zero delta
    * on a large batch means the corpus vocabulary has saturated; a
    * delta tracking batch size means genuinely novel content (or
    * drift, when the mixture was expected stable). Exact whenever
    * every touched group is below k. */
  final case class KmvTelemetry(stateDir: String,
      monitors: Seq[(String, DataFrame => DataFrame)],
      k: Int = 256, buckets: Int = 16)

  /** Stored bit-signature index attachment for [[ingestAndMaintain]]
    * (r14 — the r13 verdict's top item: [[SigIndex]] was the only
    * stored index the loop neither probed nor fed). `sig` maps batch
    * rows to `(id, sig)` — id MUST be the row's doc_id, sig an
    * equal-length bit string (perceptual image hash
    * ([[Multimodal.PerceptualHash]]) over a payload column, simhash
    * over text, any signature source); rows `sig` drops (undecodable
    * payloads) are simply never signature-screened — the
    * [[Multimodal.imageSignatures]] policy. The loop probes the
    * table BEFORE admission (same drop policy as the minhash screen:
    * corpus match drops the batch doc, in-batch pair keeps the lower
    * id) and appends the accepted docs' signatures AFTER the store
    * write — [[SigIndex.append]] is one-table, id-idempotent, so the
    * at-least-once replay contract carries over unchanged; the table
    * joins the band/ivf tables in the measured files-per-bucket
    * compaction cadence. Pigeonhole exactness needs
    * `bands > maxDist` (enforced by the probe). */
  final case class SigMaintenance(table: String,
      sig: DataFrame => DataFrame, maxDist: Int = 2, bands: Int = 8)

  /** Vector-index rebuild policy for [[ingestAndMaintain]] (r12) —
    * closes the REBUILD half of the IVF story the way append closed
    * the fold-in half: [[IvfIndex.append]] assigns new vectors under
    * stale centroids forever, so without a cadence the only rebuild
    * trigger is an operator remembering to run one. The trigger is
    * measured debt in the filesPerBucket/ExportCadence tradition:
    * vectors appended since the last check ≥ `checkFraction` of the
    * index population at that check (the check itself —
    * [[IvfIndex.maintainIndex]] — is O(index), so it must not run
    * per batch; the debt ratio bounds its amortized cost at
    * 1/checkFraction of the append volume). When the check fires,
    * geometry ([[IvfIndex.driftStats]] past `driftThreshold`) OR
    * quality (mean recall@`k` under `recallFloor`, measured on
    * `recallQueries`' sample when supplied) triggers a crash-safe
    * [[IvfIndex.rebuild]] from the stored payload. */
  final case class IvfMaintainCadence(
      checkFraction: Double = 0.25,
      driftThreshold: Double = 1.5,
      recallQueries: Option[org.apache.spark.sql.SparkSession => DataFrame] = None,
      recallFloor: Double = 0.8, k: Int = 10, nprobe: Int = 2,
      iters: Int = 2)

  /** Shard-export refresh policy for [[ingestAndMaintain]] — closes
    * the loop for the artifact a training job actually reads: without
    * it a continuously-ingesting deployment screens, stores and
    * indexes forever but the shard export ([[ShardExport]]) goes
    * stale at its last batch-terminal write. `corpus` resolves the
    * caller's STORED accepted corpus (the loop never owns the store —
    * `onBatch` landed the docs wherever the caller chose, so the
    * caller says how to read them back). The trigger is MEASURED debt
    * in the filesPerBucket/driftStats tradition, not a blind every-N
    * counter: accepted docs accumulated since the last export,
    * re-export when debt ≥ `staleFraction` of the live export's
    * manifest doc count (manifest read is a tiny 1-file scan). No
    * live export at all ⇒ infinite staleness ⇒ the first accepted
    * batch exports immediately. Export writes ride the single-writer
    * maintenance slot and inherit [[ShardExport.write]]'s
    * recover-on-entry crash safety — a kill mid-export leaves the
    * previous export serving. */
  final case class ExportCadence(dir: String, nShards: Int,
      corpus: org.apache.spark.sql.SparkSession => DataFrame,
      staleFraction: Double = 0.10)

  /** Table property persisting the IVF population as of the last
    * maintenance check — the durable half of the ivfDebt/ivfBase
    * clock, read back to seed it after a streaming-query restart. */
  private[ml] val ivfCheckBaseProp = "graft.ivf.checkBase"

  private def tablePropLong(spark: org.apache.spark.sql.SparkSession,
      table: String, key: String): Option[Long] =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .properties.get(key)
      .flatMap(v => scala.util.Try(v.toLong).toOption)

  private def setTableProp(spark: org.apache.spark.sql.SparkSession,
      table: String, key: String, v: Long): Unit = {
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES('$key'='$v')")
    ()
  }

  /** [[streaming]]'s missing other half — the maintenance loop a
    * continuously-ingesting deployment runs (reference frame: the
    * per-run INSERT path, bird.py:775-919, continuously maintained):
    * each micro-batch is SCREENED against the STORED indexes
    * (optional [[graft.analytics.DataQuality]] `admission` rule gate
    * → quality gate → [[BandIndex.probe]] near-dup screen → optional
    * [[SigIndex.probe]] signature screen (r14 — the multimodal dedup
    * leg, [[SigMaintenance]]) → optional
    * [[NgramIndex.probeContainment]] containment screen
    * ([[NgramMaintenance]]) → optional
    * [[FuzzyJoin.FuzzyIndex.probe]] fuzzy-identifier screen (r15 —
    * record linkage, [[FuzzyMaintenance]]) → decontamination),
    * handed to `onBatch` (where the caller lands it in the corpus
    * store), and then the ACCEPTED documents are FOLDED BACK into
    * every attached index — [[BandIndex.append]], optionally
    * [[LexIndex.appendBatch]], [[IvfIndex.append]] and
    * [[SigIndex.append]] — so the NEXT batch's screen already sees
    * them. [[streaming]] only probes a
    * frozen index; this closes the accept→append→compact loop.
    *
    * Because the screen reads the stored band table (a stream-static
    * join re-resolved per batch), a batch-1 near-dup arriving in
    * batch 3 is caught FROM THE INDEX with no rebuild and no growing
    * in-memory state. foreachBatch bodies execute serially per query,
    * so the appends and compactions run in the single-writer
    * maintenance slot the index contracts require.
    *
    * Compaction cadence: after each append, any attached bucketed
    * table whose measured file debt ([[graft.store.Bucketing
    * .filesPerBucket]]) reaches `compactAtFilesPerBucket` is
    * bin-packed back to one file per bucket — a measured trigger,
    * like driftStats, not a blind every-N counter. Maintenance runs
    * AFTER `onBatch` (store write first — see delivery semantics), so
    * its stat arrives via the separate `onMaintain` callback rather
    * than the screen-stage vector.
    *
    * Export cadence (r12): with [[IndexMaintenance.exportTo]] set,
    * the maintenance slot also refreshes the training-shard export
    * when the accepted-doc debt since the last export crosses the
    * [[ExportCadence]] staleness threshold — so the artifact the
    * training job reads tracks the corpus instead of freezing at the
    * last batch-terminal [[CorpusPipeline.exportShards]] call.
    *
    * Delivery semantics: foreachBatch is at-least-once — a batch
    * replayed after a crash BETWEEN onBatch and the appends re-screens
    * against an index that lacks it and is re-accepted (the store
    * write must be idempotent on batchId, the standard contract); a
    * replay AFTER the band append finds its own doc_ids in the index
    * and drops them as corpus duplicates. Crashes BETWEEN appends are
    * covered too (r11): the lex/ivf appends are id-idempotent and run
    * BEFORE the band append (the screen's source of truth), so a
    * replayed batch repairs whichever index the crash left behind and
    * no-ops the rest — nothing is emitted or appended twice. */
  def ingestAndMaintain(stream: DataFrame, minQuality: Double,
      maint: IndexMaintenance,
      evalIndex: Decontaminate.EvalIndex, evalN: Int,
      chunkTo: Option[(Int, Int)] = None,
      onMaintain: (Long, StageStat) => Unit = (_, _) => (),
      admission: Seq[graft.analytics.DataQuality.Rule] = Nil)(
      onBatch: (Long, DataFrame, Vector[StageStat]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // accepted docs since the last shard export — the export-debt
    // accumulator (foreachBatch bodies run serially, so a plain var
    // is single-writer; an at-least-once replay can double-count a
    // batch's debt, which only makes the next export slightly early).
    // Driver vars die with the query (r12 advice): the first
    // maintenance slot after a (re)start SEEDS them from durable
    // state — the persisted export_debt file (falling back to stored
    // corpus vs live manifest doc counts for pre-upgrade dirs), the
    // persisted check-base table property for IVF debt — so debt
    // accrued before a restart is never silently forgotten (the
    // failure mode: restarts more frequent than the cadence threshold
    // deferring re-export/IVF checks indefinitely).
    var exportDebt = 0L
    var exportSeeded = false
    // vectors appended since the last IVF maintenance check + the
    // index population as of that check (-1 = not yet seeded); same
    // single-writer foreachBatch serialization argument as exportDebt
    var ivfDebt = 0L
    var ivfBase = -1L
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val stats = Vector.newBuilder[StageStat]
        def staged(name: String, in: Long, out: DataFrame, t0: Long): (DataFrame, Long) = {
          val mat = out.localCheckpoint(true)
          val nOut = mat.count()
          stats += StageStat(name, in, nOut,
            math.rint((System.nanoTime() - t0) / 1e5) / 1e4)
          (mat, nOut)
        }
        val slotT0 = System.nanoTime()
        val nIn = batch.count()
        var t0 = System.nanoTime()
        // admission FIRST (r13): the DataQuality rule screen —
        // malformed rows (nulls, out-of-range metadata, broken
        // referential links) are quarantined by declarative rule
        // before any content-based stage spends tokenize/md5 work on
        // them. Row-local rules are map-only; RefIntegrity dims
        // re-resolve per batch (stream-static, the BandIndex.probe
        // precedent). Quarantined rows are DROPPED and counted in the
        // stage stat — a deployment that routes them to a quarantine
        // store runs DataQuality.flagRows in its own foreachBatch
        // upstream instead, where it owns the sink.
        val (adm, nAdm) =
          if (admission.isEmpty) (batch, nIn)
          else staged(s"admission(${admission.size})", nIn,
            graft.analytics.DataQuality.flagRows(batch, admission)
              .filter(col("quarantine") === 0)
              .drop("violations", "quarantine"), t0)
        // opt-out screen (r17, with the forget feed): a FORGOTTEN doc
        // re-arriving (a re-crawl of taken-down content) is invisible
        // to the band screen (tombstones hide it from every probe) and
        // would then hit the append's resurrection guard — killing the
        // query. A takedown also means "do not re-ingest": drop
        // tombstoned ids here, before any content work. r18: the
        // DURABLE barred set joins the tombstones as an authority —
        // compactForgotten clears the tombstone sets, and without the
        // barred record a post-compaction re-crawl silently re-ingested
        // taken-down content (advice r17). Zero cost when neither
        // record exists (one catalog lookup + one FS check, no jobs).
        t0 = System.nanoTime()
        val barred = maint.forgetFeed
          .flatMap(fc => barredIds(spark, fc.stateDir))
        val (adm2, nAdm2) =
          if (!Tombstones.exists(spark, maint.bandTable) && barred.isEmpty)
            (adm, nAdm)
          else staged("optOutScreen", nAdm, {
            val t = Tombstones.live(spark, maint.bandTable, adm, "doc_id")
            barred.fold(t)(b => t.join(
              broadcast(b.select(col("doc_id").as("__bar_id"))),
              col("doc_id") === col("__bar_id"), "left_anti")
              .drop("__bar_id"))
          }, t0)
        t0 = System.nanoTime()
        val (q, nQ) = staged(s"quality>=$minQuality", nAdm2,
          adm2.filter(TextAnalysis.qualityScore(col("text")) >= minQuality), t0)
        // --- concurrent screen legs (r19 — VERDICT r18 #1) ---
        // The probe screens are read-only probes of INDEPENDENT index
        // tables, and a doc rejected by ANY screen is rejected — the
        // verdicts compose order-free as a drop-set union. So the legs
        // evaluate the SAME checkpointed post-quality batch as
        // concurrent Spark jobs (the r18 append-slot precedent: the
        // slot cost is evenly-spread per-leg job floors, so the lever
        // is overlap, not faster legs). Each leg materializes its own
        // bounded drop-id set (localCheckpoint — that is what makes
        // the jobs actually overlap); accepts = one anti-join against
        // the union.
        //
        // Semantics vs the old serial chain: every leg sees the FULL
        // post-quality batch instead of the previous leg's survivors.
        // For every screen the drop decision is per-doc against a
        // STORED index (batch×index pairs drop the batch side;
        // within-batch pairs exist only in the band probe, which ran
        // FIRST serially too, and in replay echoes), so the union
        // equals the serial chain's accept set; the one divergence
        // class is a replay-echo in-batch pair whose classification
        // depended on an earlier leg's drop — where order-free is the
        // saner contract (the screens' order was already documented
        // as irrelevant). Cost note: a leg now probes docs an earlier
        // leg would have dropped — at micro-batch scale the job floor
        // dominates that extra row work by construction (measured r18
        // screens ~4.5-5 s serial on a 100-doc toy batch).
        //
        // Screen roles (unchanged): near-dup = stored band index
        // (cross-batch dups, no in-memory corpus state); sig =
        // simhash/multimodal SigIndex, self-pairs filtered as REPLAY
        // ECHOES (sig append precedes the band append — the band
        // index stays the sole replay-drop authority); containment =
        // stored n-gram postings (short-inside-long Jaccard blind
        // spot); fuzzy = stored title table (same title, novel body);
        // decon = eval-set n-gram screen. Per-leg secs are each leg's
        // own wall — under overlap they SUM past the slot wall
        // (attribute from the screenSlot stat).
        val qDocs = q.select(col("doc_id"), col("text"))
        val qIds = q.select(col("doc_id"))
        val screenLegs = Seq.newBuilder[(String, () => DataFrame)]
        screenLegs += ("nearDedupScreen" -> (() =>
          dupDropIds(BandIndex.probe(spark, maint.bandTable, qDocs,
            maint.n, maint.k, maint.bands, maint.threshold), qIds)))
        maint.sigIndex.foreach { sc =>
          screenLegs += ("sigDedupScreen" -> (() =>
            dupDropIds(SigIndex.probe(spark, sc.table, sc.sig(q),
                "id", "sig", sc.maxDist, sc.bands)
              .filter(col("id_a") =!= col("id_b"))
              .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
              qIds)))
        }
        maint.ngramIndex.foreach { ng =>
          screenLegs += ("containmentScreen" -> (() =>
            dupDropIds(NgramIndex.probeContainment(spark, ng.dir, qDocs,
                ng.threshold, ng.dfCap)
              .select(col("doc_a"), col("doc_b")), qIds)))
        }
        maint.fuzzyIndex.foreach { fz =>
          screenLegs += ("fuzzyTitleScreen" -> (() =>
            dupDropIds(FuzzyJoin.FuzzyIndex.probe(spark, fz.table,
                fz.key(q), "doc_id", "s", col("blk"), fz.maxDist,
                fz.blockCap)
              .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
              qIds)))
        }
        screenLegs += ("decontaminateScreen" -> (() =>
          Decontaminate.screenBatch(q, evalIndex, evalN)
            .select(col("doc_id"))))
        val legDrops = {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          Await.result(
            Future.sequence(screenLegs.result().map { case (name, body) =>
              Future(scala.concurrent.blocking {
                // pool threads don't inherit this batch's active
                // session (a shared fork-join thread may carry a
                // stale one from whatever thread spawned it) — pin it
                // or anything resolving through SparkSession.active
                // (registered functions like bit_hamming, conf reads)
                // lands on the wrong session
                org.apache.spark.sql.SparkSession.setActiveSession(spark)
                val lt0 = System.nanoTime()
                val drops = body().localCheckpoint(true)
                val nDrop = drops.count()
                (name, drops, nDrop,
                  math.rint((System.nanoTime() - lt0) / 1e5) / 1e4)
              })
            }), scala.concurrent.duration.Duration.Inf)
        }
        // stats in the fixed serial order (the composition pin):
        // every leg's docsIn is the shared slot input
        legDrops.foreach { case (name, _, nDrop, secs) =>
          stats += StageStat(name, nQ, nQ - nDrop, secs)
        }
        val dropAll = legDrops.map(_._2: DataFrame)
          .reduce(_.unionByName(_)).distinct()
        val accepted = q.join(dropAll, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        val nA = accepted.count()
        val out = chunkTo.fold(accepted) { case (sz, stride) =>
          t0 = System.nanoTime()
          staged(s"chunk($sz/$stride)", nA,
            chunkFrame(accepted, sz, stride), t0)._1
        }
        // screen-slot WALL, batch entry → accepted/chunk materialized
        // (r19): the per-leg secs in `stats` overlap under the
        // concurrent legs and SUM past this wall — consumers timing
        // the slot (Bench's ingest_screen_sec) read THIS stat, the
        // per-leg clocks are attribution only. Emitted before the
        // store write so it never absorbs an arbitrarily slow onBatch.
        onMaintain(batchId, StageStat(
          s"screenSlot(legs=${legDrops.size})", nIn, nA,
          math.rint((System.nanoTime() - slotT0) / 1e5) / 1e4))
        // the store write first (onBatch), then the maintenance slot:
        // a crash between the two replays the batch against an index
        // that lacks it (see delivery semantics above)
        onBatch(batchId, out, stats.result())
        // maintenance clock starts AFTER the caller's store write —
        // the onMaintain stat is the index-maintenance cost signal
        // and must not absorb an arbitrarily slow onBatch
        t0 = System.nanoTime()
        if (nA > 0) {
          val docs = accepted.select(col("doc_id"), col("text"))
          // Append ORDER is the crash-recovery contract (r11 review):
          // the screen consults ONLY the band index, so the band
          // append goes LAST. A crash before it replays the batch
          // re-accepted (band lacks it) and the lex/ivf appends are
          // id-IDEMPOTENT — already-present docs no-op, missing ones
          // fold in — so a partial crash can never strand an index
          // permanently behind the others. A crash after the band
          // append replays into the self-duplicate drop with lex/ivf
          // already complete. (The r11 residual — a crash INSIDE
          // BandIndex.append between its two table writes — is
          // closed in r12: append writes keys first / band last and
          // is band-anti-join idempotent, so the replay completes
          // the half-landed append with no duplicate rows; see the
          // BandIndex.append crash contract + BandIndex.recover.)
          // per-leg clocks ride the maintenance stat's name (r16):
          // the composed slot is the dominant per-batch cost term
          // (Bench ingest_screen_sec measured it at ~5.4 s of the
          // ~9 s toy-corpus batch), so which APPEND carries the floor
          // must be readable from the stat, not re-instrumented
          val legSecs = Vector.newBuilder[(String, Double)]
          def timedLeg[A](name: String)(body: => A): A = {
            val s0 = System.nanoTime()
            val r = body
            legSecs.synchronized {
              legSecs += name ->
                (math.rint((System.nanoTime() - s0) / 1e5) / 1e4)
            }
            r
          }
          // the five non-band appends run as CONCURRENT Spark jobs
          // (r18 — VERDICT r17 #5: the slot's cost is evenly-spread
          // per-leg job floors, so the lever is overlap, not faster
          // legs; measured slot wall 7.7-7.8 → 4.6-4.8 s on the Bench
          // toy loop, same-class window). Safe
          // by the same contract that made their ORDER irrelevant:
          // each writes its own table/dir, each is id-idempotent, and
          // the band append — the screen's sole authority and the
          // batch's commit point — still runs strictly LAST, after
          // every future completes. Per-leg clocks are each leg's own
          // wall time; under overlap they sum to more than the slot.
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          val appendLegs = Seq.newBuilder[(String, () => Unit)]
          maint.lexIndexDir.foreach(dir => appendLegs +=
            ("lex", () => LexIndex.appendBatch(spark, dir, docs)))
          maint.ivfTable.foreach(t => appendLegs +=
            ("ivf", () => IvfIndex.append(spark, t, maint.embed(accepted))))
          maint.sigIndex.foreach(sc => appendLegs +=
            ("sig", () => SigIndex.append(spark, sc.table, sc.sig(accepted),
              "id", "sig", sc.bands)))
          maint.ngramIndex.foreach(ng => appendLegs +=
            ("ngram", () => NgramIndex.append(spark, ng.dir, docs)))
          maint.fuzzyIndex.foreach(fz => appendLegs +=
            ("fuzzy", () => FuzzyJoin.FuzzyIndex.append(spark, fz.table,
              fz.key(accepted), "doc_id", "s", col("blk"))))
          Await.result(
            Future.sequence(appendLegs.result().map { case (name, body) =>
              // blocking{}: each leg blocks on Spark job completion —
              // without the hint a low-core host's fork-join pool
              // (parallelism = #cores) would serialize the legs and
              // quietly lose the overlap (r19 advice). Active session
              // pinned per thread (see the screen legs).
              Future(scala.concurrent.blocking {
                org.apache.spark.sql.SparkSession.setActiveSession(spark)
                timedLeg(name)(body())
              })
            }),
            scala.concurrent.duration.Duration.Inf)
          timedLeg("band")(BandIndex.append(spark, maint.bandTable, docs,
            maint.n, maint.k, maint.bands))
          val bucketed = Seq(maint.bandTable,
            BandIndex.keysTable(maint.bandTable)) ++ maint.ivfTable ++
            maint.sigIndex.map(_.table) ++ maint.fuzzyIndex.map(_.table)
          val compacted = timedLeg("compact") {
            val due = bucketed.filter(t =>
              graft.store.Bucketing.filesPerBucket(spark, t) >=
                maint.compactAtFilesPerBucket)
            due.foreach(t => graft.store.Bucketing.compactBucketed(spark, t))
            due
          }
          val legDetail = legSecs.result()
            .map { case (n, sec) => s"$n=$sec" }.mkString(" ")
          onMaintain(batchId, StageStat(
            s"indexMaintain(compacted=${compacted.size} $legDetail)", nA, nA,
            math.rint((System.nanoTime() - t0) / 1e5) / 1e4))
          // cardinality telemetry: fold the accepted batch into each
          // stored KMV monitor and report the distinct-estimate
          // movement over the batch-touched groups (docsIn/docsOut
          // carry the rounded before/after estimates — the DELTA is
          // the drift cue). Replay-idempotent: a re-folded batch's
          // hashes merge to a no-op and the reported delta reads 0.
          maint.kmvTelemetry.foreach { kt =>
            kt.monitors.foreach { case (mName, f) =>
              t0 = System.nanoTime()
              Sketches.foldKmvBatchStats(f(accepted),
                  s"${kt.stateDir}/$mName", "g", "v", kt.k, kt.buckets)
                .foreach(st =>
                  onMaintain(batchId, StageStat(s"kmvMonitor($mName)",
                    math.rint(st.estBefore).toLong,
                    math.rint(st.estAfter).toLong,
                    math.rint((System.nanoTime() - t0) / 1e5) / 1e4)))
            }
          }
          // IVF rebuild cadence (r12): measured appended-vector debt
          // gates the O(index) drift/recall check; the check gates
          // the rebuild. Runs before the export refresh so a fired
          // rebuild's better index is what the next probes serve.
          for (mc <- maint.ivfMaintain; t <- maint.ivfTable) {
            if (ivfBase < 0L) {
              // first slot after (re)start: the population as of the
              // last check is persisted as a table property, so true
              // debt = current population's excess over it (the count
              // already includes this batch's append — nA is NOT
              // added again). A never-checked index stamps the
              // PRE-batch population as its clock base now, so the
              // NEXT restart still measures true debt even if no
              // check fires between restarts.
              val n = spark.table(t).count()
              tablePropLong(spark, t, ivfCheckBaseProp) match {
                case Some(b) => ivfBase = b; ivfDebt = math.max(0L, n - b)
                case None =>
                  ivfBase = math.max(0L, n - nA)
                  ivfDebt = nA
                  setTableProp(spark, t, ivfCheckBaseProp, ivfBase)
              }
            } else ivfDebt += nA
            if (ivfBase == 0L ||
                ivfDebt.toDouble / ivfBase >= mc.checkFraction) {
              t0 = System.nanoTime()
              val rep = IvfIndex.maintainIndex(spark, t,
                mc.driftThreshold, mc.recallQueries.map(f => f(spark)),
                mc.recallFloor, mc.k, mc.nprobe, mc.iters)
              ivfDebt = 0L
              ivfBase = rep.drift.nIndexed
              // persist the new base — a rebuild recreated the table
              // (property gone), a check-only pass re-based the clock
              setTableProp(spark, t, ivfCheckBaseProp, ivfBase)
              onMaintain(batchId, StageStat(
                s"ivfMaintain(rebuilt=${rep.rebuilt}" +
                  rep.reason.fold("")(r => s": $r") + ")",
                nA, rep.drift.nIndexed,
                math.rint((System.nanoTime() - t0) / 1e5) / 1e4))
            }
          }
        }
        // takedown-feed drain (r17) — OUTSIDE the nA>0 gate: requests
        // must process even when the screens empty a batch out. Runs
        // AFTER the appends so a request for a doc in THIS batch
        // tombstones the just-appended rows (forget-after-ingest),
        // never races the append's resurrection guard.
        maint.forgetFeed.foreach { fc =>
          t0 = System.nanoTime()
          val hw = readForgetHw(spark, fc.stateDir)
          val feed = fc.requests(spark)
          // partition-hint passthrough (r18): a feed column naming the
          // doc's store partition lets forgetRows skip its detection
          // scan (see CorpusStore.partitionHintCol)
          val hintCols = fc.store.toSeq.flatMap(_.partitionHintCol)
            .filter(feed.columns.contains).map(col)
          val pending = feed
            .select(Seq(col("req_id").cast("long").as("req_id"),
              col("doc_id").cast("long").as("doc_id")) ++ hintCols: _*)
            .filter(col("req_id") > hw)
          // one bounded agg decides emptiness AND the new high-water
          val head = pending.agg(max(col("req_id")), count(lit(1))).head()
          if (!head.isNullAt(0)) {
            val (newHw, nReq) = (head.getLong(0), head.getLong(1))
            // materialized ONCE: six tombstone legs + the bar + the
            // store rewrite all consume this frame — lazy, each would
            // re-read and re-filter the request feed (the CLAUDE.md
            // multi-consumer rule; request-slice sized, so the
            // checkpoint is a single tiny job)
            val ids = pending.select(col("doc_id") +: hintCols: _*)
              .localCheckpoint(true)
            val parts = commitDrain(spark, fc.stateDir, newHw,
              bar = () => barIds(spark, fc.stateDir, ids.select(col("doc_id"))),
              forget = () => fc.store match {
                case Some(st) => forgetWithStore(spark, maint, st, ids)
                case None => forget(spark, maint, ids); Seq.empty
              })
            // a takedown STALES the shard export too — the live
            // export keeps serving the forgotten docs until a refresh
            // reads the post-forget store, and the staleness clock
            // only counted ADDED docs, so a quiet corpus would never
            // purge them. Drained requests count into the same debt;
            // the export check below (this very slot — it runs after
            // the drain precisely so a takedown on a quiet stream
            // still triggers the re-export, r18 advice) serves it at
            // the configured threshold (a compliance-critical
            // deployment sets staleFraction accordingly).
            if (maint.exportTo.isDefined) exportDebt += nReq
            val backlog =
              if (Tombstones.exists(spark, maint.bandTable))
                spark.table(Tombstones.tableFor(maint.bandTable)).count()
              else 0L
            val compacted = backlog >= fc.compactAtBacklog
            if (compacted) compactForgotten(spark, maint)
            onMaintain(batchId, StageStat(
              s"forgetFeed(reqs=$nReq storeParts=${parts.size} " +
                s"backlog=$backlog compacted=$compacted)", nReq, backlog,
              math.rint((System.nanoTime() - t0) / 1e5) / 1e4))
          }
        }
        // shard-export refresh LAST — after the appends AND the
        // takedown drain, so the training artifact re-derives only
        // once store + indexes are current for this batch. r18
        // (advice): OUTSIDE the nA>0 gate — takedown-driven debt on a
        // stream whose batches all screen out (or stop) must still
        // re-export; gated on having anything to do, so a genuinely
        // quiet batch (no accepts, no debt, already seeded) pays
        // nothing.
        maint.exportTo.foreach { ec =>
          if (!exportSeeded || nA > 0 || exportDebt > 0L) {
            // recover-then-read: a crash mid-export last batch left
            // either the old export (roll back) or the new one (roll
            // forward) — recover settles which before we read its size
            val live =
              if (ShardExport.recover(spark, ec.dir))
                Some(ShardExport.readManifest(spark, ec.dir)
                  .agg(sum(col("n_docs"))).head().getLong(0))
              else None
            if (!exportSeeded) {
              exportSeeded = true
              // first slot after (re)start: prefer the PERSISTED debt
              // (r18 advice — a count-delta seed reads offsetting
              // forgets+appends as zero debt, exactly the staleness
              // class it was meant to catch), plus whatever this
              // incarnation accrued before seeding (this batch's
              // drain) plus this batch's accepts (the persisted clock
              // predates them); fall back to the store/manifest
              // doc-count divergence for pre-upgrade export dirs —
              // absolute, not max(0, ·): a post-forget corpus SMALLER
              // than the live export is exactly as stale as
              // un-exported growth. The corpus already contains this
              // batch (onBatch ran first), so the FALLBACK subsumes
              // nA and the drain where the persisted path must add
              // them.
              // debt lives in a SIBLING state dir, never inside
              // ec.dir (r19 advice — writeLongState mkdirs its dir,
              // and a debt file inside a not-yet-created export dir
              // made bare-existence recovery read a manifest that
              // wasn't there, killing every restart); the old
              // in-dir location is read as a migration fallback
              exportDebt = readLongState(spark, ec.dir + ".state_",
                  "export_debt")
                .orElse(readLongState(spark, ec.dir, ".export_debt"))
                .map(_ + exportDebt + nA)
                .getOrElse(live.fold(0L)(e =>
                  math.abs(ec.corpus(spark).count() - e)))
            } else exportDebt += nA
            val due = live match {
              // no export yet: infinitely stale — but only once any
              // content exists to export (a fully-screened-out first
              // batch must not export a store onBatch never created)
              case None => nA > 0 || exportDebt > 0L
              case Some(e) =>
                e == 0L || exportDebt.toDouble / e >= ec.staleFraction
            }
            if (due) {
              t0 = System.nanoTime()
              val mf = ShardExport.write(ec.corpus(spark), ec.dir, ec.nShards)
              val n = mf.agg(sum(col("n_docs"))).head().getLong(0)
              exportDebt = 0L
              onMaintain(batchId, StageStat(s"shardExport(docs=$n)", nA, n,
                math.rint((System.nanoTime() - t0) / 1e5) / 1e4))
            }
            // persist the debt clock — restarts seed from it, so debt
            // accrued across incarnations (including takedown debt on
            // a quiet stream) is never silently forgotten
            writeLongState(spark, ec.dir + ".state_", "export_debt",
              exportDebt)
          }
        }
      }
      .start()
  }
}
