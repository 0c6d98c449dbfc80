package graft.store

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.{Cast, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.model._

/** One immutable read generation of an [[EventStore]]: the five
  * relations, each a declared-schema parquet read whose file listing
  * was taken once, when the table last changed. Every frame a reader
  * derives from one snapshot sees the same committed state, however
  * many queries it plans. The contract (who advances a generation,
  * when) is on [[EventStore.commitRun]]. */
final class StoreSnapshot private[store] (
    val generation: Long,
    tables: Map[String, StoreSnapshot.Table],
    knownMaxSerial: Option[Long]) {

  def events: DataFrame = tables("events").df
  def invocations: DataFrame = tables("invocations").df
  def attempts: DataFrame = tables("attempts").df
  def outcomes: DataFrame = tables("outcomes").df
  def outputs: DataFrame = tables("outputs").df

  private[store] def table(name: String): StoreSnapshot.Table = tables(name)

  @volatile private var maxSerial: Option[Long] = knownMaxSerial

  /** Highest committed run serial: carried over from the previous
    * generation on this engine's own commits, one aggregate over the
    * invocations relation only when that table was read from disk —
    * per-partition maxima, so one job and no shuffle. */
  def maxRunSerial: Long = maxSerial.getOrElse(synchronized {
    maxSerial.getOrElse {
      val spark = invocations.sparkSession
      import spark.implicits._
      val m = invocations.select($"run_serial").as[Long]
        .mapPartitions(it => Iterator(it.foldLeft(0L)(math.max)))
        .collect().foldLeft(0L)(math.max)
      maxSerial = Some(m)
      m
    }
  })

  private[store] def maxRunSerialIfKnown: Option[Long] = maxSerial
}

object StoreSnapshot {
  /** Visible children of a table root (partition directories, or part
    * files of an unpartitioned table) as sorted (name, mtime) pairs;
    * None when the table does not exist. Adding, removing or renaming
    * a part file changes its partition directory's mtime, and a new or
    * deleted partition changes the names. */
  private[store] type Signature = Option[Vector[(String, Long)]]

  private[store] final case class Table(df: DataFrame, signature: Signature)
}

/** Append-only partitioned-Parquet storage — the Spark-native shape of
  * the reference's "legacy" parquet mode (SURVEY.md §1.1: `.bird/logs/`
  * with `date=…` hive partitions, schema.sql:4-13, core.py:1926-2012),
  * which we adopt as the PRIMARY store: at 100 TB a single-writer
  * DuckDB file is not an option, an append-only partitioned table is.
  *
  * Layout:
  * {{{
  *   root/invocations/date=YYYY-MM-DD/…       (small dimension)
  *   root/events/date=YYYY-MM-DD/…            (big fact)
  *   root/outputs/date=…                      (captured-output rows)
  *   root/attempts/date=…, root/outcomes/date=…   (lifecycle streams)
  * }}}
  *
  * Scale design:
  *  - zstd compression (reference writes zstd level 3, core.py:2008);
  *  - `date` partition column → partition pruning for every recency
  *    predicate;
  *  - `run_serial` is persisted at write time (single writer per store,
  *    like the reference's lock-guarded get_next_run_number) so no read
  *    path ever needs a global ROW_NUMBER window (§7.4 risk 1);
  *  - reads use the declared model schema (`Event`, `Invocation`,
  *    `Attempt`, `Outcome`, `Output`; `date` is the partition column):
  *    building a relation runs no schema-inference job, and columns
  *    outside the model are not read. [[GraftMigrations]] still adapts
  *    raw reads of stores written under an older schema;
  *  - reads are served from one [[StoreSnapshot]] per commit
  *    generation (contract on [[commitRun]]).
  *
  * Write path. Two writers, chosen by where the rows already are:
  *  - rows in driver memory — a run's invocation and output rows,
  *    attempts and outcomes (`Maintenance.reconcileOrphans`' too), and
  *    a driver-side run's parsed events — are encoded by the model
  *    encoder and written on the driver by Spark's own parquet
  *    `OutputWriter`, one file per date partition: no Spark job, no
  *    Catalyst plan;
  *  - frames (`Runner.importDirectory`, the live stream's micro-batches
  *    through [[appendEvents]]) keep the distributed writer.
  * Both produce the same files: the parquet schema, zstd codec and
  * Spark row metadata of a Spark job's output, at
  * `date=…/part-….zstd.parquet`. A driver file is written under a
  * hidden in-progress name (`.part-….inprogress`, which Spark's
  * listing, maintenance and a `*.parquet` glob all skip) and renamed
  * into place once closed. No `recacheByPath` is needed after either
  * write: a reader holds an immutable snapshot, and the next
  * generation is a new read with a new listing.
  */
class EventStore(val spark: SparkSession, val root: String) {
  import spark.implicits._
  import EventStore.{TableNames, WriteOptions}
  import StoreSnapshot.{Signature, Table}

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
      val fetched = invocations.filter($"id" === id)
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

  // ---- generations ---------------------------------------------------

  private val schemas: Map[String, StructType] = Map(
    "events" -> implicitly[Encoder[Event]].schema,
    "invocations" -> implicitly[Encoder[Invocation]].schema,
    "attempts" -> implicitly[Encoder[Attempt]].schema,
    "outcomes" -> implicitly[Encoder[Outcome]].schema,
    "outputs" -> implicitly[Encoder[Output]].schema)

  private val lock = new Object
  @volatile private var current: StoreSnapshot = _
  // the session's SQL views, once installed (Views.registerAll)
  @volatile private var views: Option[StoreSnapshot => Unit] = None

  private def signature(table: String): Signature = {
    val p = new Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try Some(fs.listStatus(p).iterator
      .map(s => s.getPath.getName -> s.getModificationTime)
      .filterNot { case (n, _) => n.startsWith("_") || n.startsWith(".") }
      .toVector.sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The table as of `sig`: the signature is taken BEFORE Spark lists
    * the files, so a write landing in between makes the next check
    * rebuild again, never serve a listing older than its signature. */
  private def load(table: String, sig: Signature): Table =
    Table(
      if (sig.isEmpty)
        spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schemas(table))
      else spark.read.schema(schemas(table)).parquet(path(table)),
      sig)

  /** Publish the next generation: `written` tables (this engine's own
    * writes) are rebuilt unconditionally, every other table only when
    * its signature moved. `serial` is the run serial this engine just
    * committed, if any. */
  private def advance(written: Seq[String], serial: Option[Long]): StoreSnapshot =
    lock.synchronized {
      val prev = Option(current)
      val sigs = TableNames.map(t => t -> signature(t)).toMap
      val rebuild = TableNames.filter(t =>
        written.contains(t) || !prev.exists(_.table(t).signature == sigs(t)))
      if (prev.nonEmpty && rebuild.isEmpty) prev.get
      else {
        // The run serial and the cached invocation dates carry over only
        // through a commit's own invocation write; any other change to the
        // invocations table (a foreign writer, a maintenance delete) drops
        // them: the serial is re-read by one aggregate, on demand.
        val reread = rebuild.contains("invocations") && serial.isEmpty
        if (reread) invDates.clear()
        val knownMax =
          if (sigs("invocations").isEmpty) Some(0L) // no table, no run yet
          else if (reread) None
          else prev.flatMap(_.maxRunSerialIfKnown).map(m => serial.fold(m)(math.max(m, _)))
        val next = new StoreSnapshot(prev.fold(0L)(_.generation + 1),
          TableNames.map(t => t -> (
            if (rebuild.contains(t)) load(t, sigs(t)) else prev.get.table(t))).toMap,
          knownMax)
        current = next
        views.foreach(_(next))
        next
      }
    }

  /** The current generation. One Hadoop `listStatus` per table root
    * compares partition names and mtimes with the snapshot's: a writer
    * outside this engine (another process, a second EventStore on this
    * root, an external `rm`) advances the generation here, rebuilding
    * only the tables it touched. No Spark job runs. */
  def snapshot: StoreSnapshot = advance(Nil, None)

  /** Keep the session's SQL views on this store's generations:
    * `register` runs now and on every later generation. It is expected
    * to skip a generation it has already registered. */
  def installViews(register: StoreSnapshot => Unit): Unit = lock.synchronized {
    views = Some(register)
    register(advance(Nil, None))
  }

  /** After deleted or rewritten table data (Maintenance's prunes,
    * compaction and partition deletes): every table is re-read, and
    * the run serial and cached invocation dates with them. */
  def invalidate(): Unit = { advance(TableNames, None); () }

  // ---- write path (S9/S10; the two writers are on the class doc) -------

  /** Append rows already in driver memory to `table`, with no Spark job.
    * Each date partition is one file, written by `ParquetFileFormat`'s
    * `OutputWriter` with the session's Hadoop conf, under its in-progress
    * name first. The partition directory is named from the encoded date,
    * by the cast to string Spark's writer applies. */
  private def appendRows[T: Encoder](table: String, rows: Seq[T]): Unit =
    if (rows.nonEmpty) {
      val encoder = encoderFor[T]
      val toRow = encoder.createSerializer()
      val attrs = DataTypeUtils.toAttributes(encoder.schema)
      val (partCols, dataCols) = attrs.partition(_.name == "date")
      val dataSchema = DataTypeUtils.fromAttributes(dataCols)
      val dataRow = UnsafeProjection.create(dataCols, attrs)
      val partDir = UnsafeProjection.create(Seq(Cast(partCols.head, StringType,
        Some(spark.sessionState.conf.sessionLocalTimeZone))), attrs)
      val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(WriteOptions))
      val writers = new ParquetFileFormat().prepareWrite(spark, job, WriteOptions, dataSchema)
      val task = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
      val fileName =
        s"part-00000-${java.util.UUID.randomUUID()}.c000${writers.getFileExtension(task)}"
      val fs = new Path(path(table)).getFileSystem(job.getConfiguration)
      val encoded = rows.map(r => toRow(r).copy())
      encoded.groupBy(r => partDir(r).getUTF8String(0).toString).foreach {
        case (date, part) =>
          val dir = new Path(path(table),
            ExternalCatalogUtils.getPartitionPathString("date", date))
          val inProgress = new Path(dir, EventStore.inProgressName(fileName))
          try {
            val out = writers.newInstance(inProgress.toString, dataSchema, task)
            try part.foreach(r => out.write(dataRow(r)))
            finally out.close()
            if (!fs.rename(inProgress, new Path(dir, fileName)))
              throw new java.io.IOException(s"could not rename $inProgress into place")
          } catch {
            case e: Throwable => fs.delete(inProgress, false); throw e
          }
      }
    }

  def appendAttempts(attempts: Seq[Attempt]): Unit = {
    appendRows("attempts", attempts)
    advance(Seq("attempts"), None)
  }

  def appendOutcomes(outcomes: Seq[Outcome]): Unit = {
    appendRows("outcomes", outcomes)
    advance(Seq("outcomes"), None)
  }

  /** Write-side clustering for event files: sorted by (date, severity,
    * timestamp) within each file. The date prefix lets
    * FileFormatWriter skip its own partition-column sort; the
    * (severity, timestamp) suffix is the ART-index substitute SURVEY §4
    * names — each parquet row group carries tight min/max stats on the
    * two most-filtered columns (P6 severity IN-lists, P9 recency), so
    * a `severity = 'error'` scan skips clean row groups outright
    * instead of decoding them. A local per-partition sort: no shuffle,
    * negligible against parse+write cost at any batch size. Driver
    * rows get the same order by a stable sort (date is their
    * partition).
    *
    * A frame is aligned to the canonical Event schema first — missing
    * columns become typed nulls, present ones are cast — so an ad-hoc
    * frame (e.g. a VOID-typed null literal) can never poison the
    * store's parquet schema. */
  private def writeEvents(events: EventStore.RunEvents): Unit = events match {
    case EventStore.EventRows(rows) =>
      appendRows("events",
        rows.sortBy(e => (e.severity, e.timestamp.getTime, e.timestamp.getNanos)))
    case EventStore.EventFrame(df) =>
      val aligned = df.select(schemas("events").fields.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
      aligned.as[Event]
        .sortWithinPartitions(col("date"), col("severity"), col("timestamp"))
        .write.mode(SaveMode.Append).options(WriteOptions).partitionBy("date")
        .parquet(path("events"))
  }

  /** Commit one completed run — the store's single run-commit path.
    * Writes the run's events (driver rows or a frame, see the write
    * path above), then its output rows, then its invocation row LAST: a
    * crash mid-commit leaves dangling, joined-away events, never a
    * committed run row claiming zero events. Caller assigns run_serial
    * via [[nextRunSerial]].
    *
    * Snapshot contract. Every read ([[events]], [[invocations]], …,
    * the `Views`, `Analytics`, `Serve` and the registered SQL views)
    * is served from [[snapshot]], one immutable generation of the five
    * relations. A generation advances only after a write has
    * completed: here once per run, after the invocation row; in
    * [[appendEvents]], [[appendAttempts]] and [[appendOutcomes]] after
    * their write; in [[invalidate]] after a maintenance delete. An
    * advance rebuilds only the tables written (a new declared-schema
    * read, so a new file listing) and swaps the snapshot atomically —
    * concurrent readers keep planning against the one they hold. The
    * run serial advances in place on this engine's commits. Installed
    * SQL views are re-registered on every advance, so raw `spark.sql`
    * sees the new run without a further call. */
  def commitRun(inv: Invocation,
      events: EventStore.RunEvents = EventStore.EventRows(Nil),
      outputs: Seq[Output] = Nil): Unit = {
    writeEvents(events)
    appendRows("outputs", outputs)
    appendRows("invocations", Seq(inv))
    invDates.put(inv.id, inv.date.toString)
    advance(Seq("invocations") ++ Option.when(events.nonEmpty)("events") ++
      Option.when(outputs.nonEmpty)("outputs"), Some(inv.run_serial))
  }

  /** Standalone event append for frames outside a run commit (the live
    * stream's micro-batches); advances the generation like a commit. */
  def appendEvents(df: DataFrame): Unit = {
    writeEvents(EventStore.EventFrame(df))
    advance(Seq("events"), None)
  }

  /** Next run serial. Single-writer discipline (reference holds a DB
    * lock, bird.py:36-99; here one Spark driver owns a store root).
    * No job once the snapshot knows its max (see
    * [[StoreSnapshot.maxRunSerial]]). */
  def nextRunSerial(): Long = snapshot.maxRunSerial + 1L

  // ---- read path (S1/S3) ---------------------------------------------

  def attempts: DataFrame = snapshot.attempts
  def outcomes: DataFrame = snapshot.outcomes
  def invocations: DataFrame = snapshot.invocations
  def events: DataFrame = snapshot.events
  def outputs: DataFrame = snapshot.outputs

  /** Streaming view of the events table: each appended run's parquet
    * files surface as new micro-batch rows — the bridge from the
    * append-only store to incremental consumers (alerting, rollup
    * maintenance) without re-reading history. */
  def eventsStream: DataFrame =
    spark.readStream
      .schema(StructType(schemas("events").fields.filterNot(_.name == "date")))
      .option("maxFilesPerTrigger", "64")
      .parquet(path("events"))

  // ---- maintenance (W3/T4 analogs) -----------------------------------

  /** Partitions older than `days` (prune-by-age; storage.py:624-714).
    * Returns the partition directories that a maintenance job would
    * delete — pruning is a partition-level operation, never row DELETEs
    * (plain parquet has no row deletes; SURVEY.md §7.4 risk 3). */
  def prunablePartitions(table: String, days: Int): Seq[String] = {
    val cutoff = java.time.LocalDate.now().minusDays(days.toLong)
    val p = new Path(path(table))
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

object EventStore {
  private val TableNames: Seq[String] =
    Seq("events", "invocations", "attempts", "outcomes", "outputs")

  private val WriteOptions = Map("compression" -> "zstd")

  /** A run's events as [[EventStore.commitRun]] takes them. */
  sealed trait RunEvents { def nonEmpty: Boolean }
  /** Rows already in driver memory: written with no Spark job. */
  final case class EventRows(rows: Seq[Event]) extends RunEvents {
    def nonEmpty: Boolean = rows.nonEmpty
  }
  /** A frame: appended by the distributed writer. */
  final case class EventFrame(df: DataFrame) extends RunEvents {
    def nonEmpty: Boolean = true
  }

  /** Hidden name a driver-written file has until it is complete and
    * renamed to `fileName`: Spark's listing skips names starting with
    * `.`, and it does not end in `.parquet`. */
  private[graft] def inProgressName(fileName: String): String = s".$fileName.inprogress"
}
