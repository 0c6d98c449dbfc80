package graft.store

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/** Append-only partitioned-Parquet storage — the Spark-native shape of
  * the reference's "legacy" parquet mode (SURVEY.md §1.1: `.bird/logs/`
  * with `date=…/source=…` hive partitions, schema.sql:4-13,
  * core.py:1926-2012), which we adopt as the PRIMARY store: at 100 TB a
  * single-writer DuckDB file is not an option, an append-only
  * partitioned table is.
  *
  * Layout:
  * {{{
  *   root/invocations/date=YYYY-MM-DD/…       (small dimension)
  *   root/events/date=YYYY-MM-DD/source_type=…/…  (big fact)
  *   root/attempts/date=…, root/outcomes/date=…   (lifecycle streams)
  * }}}
  *
  * Scale design:
  *  - zstd compression (reference writes zstd level 3, core.py:2008);
  *  - `date` (+ `source_type` for events) partition columns → partition
  *    pruning for every recency/source predicate;
  *  - `run_serial` is persisted at write time (single writer per store,
  *    like the reference's lock-guarded get_next_run_number) so no read
  *    path ever needs a global ROW_NUMBER window (§7.4 risk 1);
  *  - schema drift tolerated on read via mergeSchema
  *    (= union_by_name=true, schema.sql:51).
  */
class EventStore(val spark: SparkSession, val root: String) {
  import spark.implicits._

  private def path(table: String) = s"$root/$table"

  // ---- invocation→date lookup (feeds the InvocationDatePruning rule:
  // arbitrary SQL filtering events on invocation_id gets the date
  // partition filter the write layout guarantees) -----------------------
  private val invDates = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Date (as ISO string) of an invocation id, from the invocations
    * dimension. Resolved PER ID (a filtered scan of the dimension),
    * cached, and seeded by the append path — never a full-dimension
    * collect: years of runs would otherwise be pulled into driver heap
    * during query optimization to serve a single point lookup. Unknown
    * ids → None (the rule then declines to prune — safe under
    * concurrent external writers). */
  def invocationDate(id: String): Option[String] =
    Option(invDates.get(id)).orElse {
      val fetched =
        if (!exists("invocations")) None
        else invocations.filter($"id" === id)
          .select($"date".cast("string")).limit(1)
          .collect().headOption.map(_.getString(0))
      fetched.foreach(invDates.put(id, _))
      fetched
    }

  // held as a field: the registry references it WEAKLY, so the source
  // must live exactly as long as the store that owns it
  private val dateSource: graft.plans.InvocationDatePruning.DateSource =
    new graft.plans.InvocationDatePruning.DateSource {
      def invocationDate(id: String): Option[String] =
        EventStore.this.invocationDate(id)
      def active: Boolean = !spark.sparkContext.isStopped
    }
  graft.plans.InvocationDatePruning.register(path("events"), dateSource)

  private def writer[T](ds: Dataset[T], cols: Seq[String]) =
    ds.write.mode(SaveMode.Append)
      .option("compression", "zstd")
      .partitionBy(cols: _*)

  // Post-append refresh (Views.registerAll installs one): re-registers
  // the SQL views with fresh file listings after every store write.
  @volatile private var refreshHook: () => Unit = () => ()

  /** Install the post-append refresh (single slot, idempotent to
    * re-registration). */
  def onAppendRefresh(f: () => Unit): Unit = refreshHook = f

  private def refreshed(tables: String*): Unit = {
    for (t <- tables)
      try spark.catalog.refreshByPath(path(t))
      catch { case scala.util.control.NonFatal(_) => }
    refreshHook()
  }

  /** Invalidate every table's file listing AND re-register views —
    * for DELETE-shaped maintenance (prune/clean): refreshByPath alone
    * only refreshes cached datasets, while registered temp views keep
    * their snapshot listings and would plan against deleted part
    * files. */
  def refreshAllViews(): Unit = {
    invDates.clear()
    refreshed("attempts", "outcomes", "invocations", "events", "outputs")
  }

  // ---- write path (S9/S10) -------------------------------------------

  def appendAttempts(attempts: Seq[Attempt]): Unit = {
    writer(attempts.toDS(), Seq("date")).parquet(path("attempts"))
    refreshed("attempts")
  }

  def appendOutcomes(outcomes: Seq[Outcome]): Unit = {
    writer(outcomes.toDS(), Seq("date")).parquet(path("outcomes"))
    refreshed("outcomes")
  }

  /** Write-side clustering for event files: sorted by (date, severity,
    * timestamp) within each task partition. The date prefix lets
    * FileFormatWriter skip its own partition-column sort; the
    * (severity, timestamp) suffix is the ART-index substitute SURVEY §4
    * names — each parquet row group carries tight min/max stats on the
    * two most-filtered columns (P6 severity IN-lists, P9 recency), so
    * a `severity = 'error'` scan skips clean row groups outright
    * instead of decoding them. A local per-partition sort: no shuffle,
    * negligible against parse+write cost at any batch size.
    *
    * Input is aligned to the canonical Event schema first — missing
    * columns become typed nulls, present ones are cast — so an ad-hoc
    * frame (e.g. a VOID-typed null literal) can never poison the
    * store's parquet schema. */
  private def writeEvents(df: DataFrame): Unit = {
    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    val aligned = df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    writer(aligned.as[Event]
      .sortWithinPartitions(col("date"), col("severity"), col("timestamp")),
      Seq("date")).parquet(path("events"))
  }

  /** Commit one completed run — the store's single run-commit path.
    * Writes the run's events, then its output rows, then its
    * invocation row LAST: a crash mid-commit leaves dangling,
    * joined-away events, never a committed run row claiming zero
    * events. One refresh follows the commit: the tables' cached file
    * listings, then the post-append hook, once per run — a registered
    * view's listing is a snapshot, so the hook's re-registration is
    * what lets raw `spark.sql` see the new rows.
    * Caller assigns run_serial via [[nextRunSerial]]. */
  def commitRun(inv: Invocation, events: Option[DataFrame] = None,
      outputs: Seq[Output] = Nil): Unit = {
    events.foreach(writeEvents)
    if (outputs.nonEmpty)
      writer(outputs.toDS(), Seq("date")).parquet(path("outputs"))
    writer(Seq(inv).toDS(), Seq("date")).parquet(path("invocations"))
    invDates.put(inv.id, inv.date.toString)
    refreshed("events", "outputs", "invocations")
  }

  /** Standalone event append for frames outside a run commit (the live
    * stream's micro-batches), with its own refresh. */
  def appendEvents(df: DataFrame): Unit = {
    writeEvents(df)
    refreshed("events")
  }

  /** Next run serial. Single-writer discipline (reference holds a DB
    * lock, bird.py:36-99; here one Spark driver owns a store root).
    * Reads only the tiny invocations dimension. */
  def nextRunSerial(): Long =
    if (!exists("invocations")) 1L
    else invocations.agg(max($"run_serial")).as[Option[Long]].first().getOrElse(0L) + 1L

  // ---- read path (S1/S3) ---------------------------------------------

  private def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  private def read(table: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path(table))

  private def emptyDs[T: org.apache.spark.sql.Encoder]: DataFrame =
    spark.emptyDataset[T].toDF()

  def attempts: DataFrame =
    if (exists("attempts")) read("attempts") else emptyDs[Attempt]
  def outcomes: DataFrame =
    if (exists("outcomes")) read("outcomes") else emptyDs[Outcome]
  def invocations: DataFrame =
    if (exists("invocations")) read("invocations") else emptyDs[Invocation]
  def events: DataFrame =
    if (exists("events")) read("events") else emptyDs[Event]
  def outputs: DataFrame =
    if (exists("outputs")) read("outputs") else emptyDs[Output]

  /** Streaming view of the events table: each appended run's parquet
    * files surface as new micro-batch rows — the bridge from the
    * append-only store to incremental consumers (alerting, rollup
    * maintenance) without re-reading history. */
  def eventsStream: DataFrame = {
    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == "date")))
      .option("maxFilesPerTrigger", "64")
      .parquet(path("events"))
  }

  // ---- maintenance (W3/T4 analogs) -----------------------------------

  /** Partitions older than `days` (prune-by-age; storage.py:624-714).
    * Returns the partition directories that a maintenance job would
    * delete — pruning is a partition-level operation, never row DELETEs
    * (plain parquet has no row deletes; SURVEY.md §7.4 risk 3). */
  def prunablePartitions(table: String, days: Int): Seq[String] = {
    val cutoff = java.time.LocalDate.now().minusDays(days.toLong)
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("date="))
      .filter { d =>
        java.time.LocalDate.parse(d.getName.stripPrefix("date=")).isBefore(cutoff)
      }
      .map(_.toString)
  }
}
