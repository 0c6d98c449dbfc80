package graft.views

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.store.EventStore
import graft.functions.BlqFunctions._

/** The reference's view/macro layer (SURVEY.md §2.1 S3, §2.3-§2.5)
  * rebuilt as DataFrame combinators + registered temp views so both the
  * Scala facade and `spark.sql("… FROM blq_events")` work.
  */
object Views {

  /** `blq_events_flat` (bird_schema.sql:287-359): events ⋈ invocations
    * with run refs. The invocations dimension is broadcast — the fact
    * side never shuffles for this join at any scale. run_serial is read
    * from the persisted column (assigned at write, §7.4 risk 1) instead
    * of the reference's global ROW_NUMBER window. */
  def eventsFlat(store: EventStore): DataFrame =
    flatJoin(store.events, store.invocations, hintBroadcast = true)

  /** The J1 flat-view join SHAPE over explicit frames — one definition
    * for every storage layout. `hintBroadcast = true` for the standard
    * partitioned-parquet store (invocations ≪ events at any scale);
    * false for co-bucketed catalog tables ([[graft.store.Bucketing]]),
    * where the point is a shuffle-free sort-merge join and a broadcast
    * hint would throw the write-time bucketing away. */
  def flatJoin(events: DataFrame, invocations: DataFrame,
      hintBroadcast: Boolean): DataFrame = {
    val invBase = invocations
      .withColumnRenamed("id", "invocation_id")
      .withColumnRenamed("metadata", "run_metadata")
      .withColumnRenamed("date", "log_date")
    val inv = if (hintBroadcast) broadcast(invBase) else invBase
    // Keep the EVENTS-side date (the big fact's partition column) as
    // `date`: a recency filter through the flat view then prunes event
    // partitions. The run's own date survives as log_date.
    events.withColumnRenamed("timestamp", "event_timestamp")
      .join(inv, Seq("invocation_id"))
      .withColumn("run_ref", blqRunRef(col("tag"), col("run_serial")))
      .withColumn("ref", blqEventRef(col("tag"), col("run_serial"), col("event_index")))
      .withColumn("completed_at",
        timestamp_millis(unix_millis(col("started_at")) + coalesce(col("duration_ms"), lit(0L))))
      .withColumn("location", blqLocation(col("ref_file"), col("ref_line"), col("ref_column")))
  }

  /** Per-run rollup (`blq_runs`; schema.sql:55-79, bird_schema.sql:433-465):
    * counts + filtered counts + distinct-fingerprint counts per run.
    * Map-side partial agg on invocation_id; at 100 TB swap
    * countDistinct → approx_count_distinct (A2 scale note). */
  def runs(store: EventStore): DataFrame = runs(store.events, store.invocations)

  private def runs(events: DataFrame, invocations: DataFrame): DataFrame = {
    val perRun = events.groupBy(col("invocation_id")).agg(
      count(lit(1)).as("event_count"),
      count(when(col("severity") === "error", 1)).as("errors"),
      count(when(col("severity") === "warning", 1)).as("warnings"),
      countDistinct(when(col("severity") === "error", col("fingerprint"))).as("unique_errors"),
      min(col("timestamp")).as("first_event_at"),
      max(col("timestamp")).as("last_event_at"))
    invocations.withColumnRenamed("id", "invocation_id")
      .join(perRun, Seq("invocation_id"), "left")
      .withColumn("event_count", coalesce(col("event_count"), lit(0L)))
      .withColumn("errors", coalesce(col("errors"), lit(0L)))
      .withColumn("warnings", coalesce(col("warnings"), lit(0L)))
      .withColumn("unique_errors", coalesce(col("unique_errors"), lit(0L)))
      .withColumn("status_badge", blqStatusBadge(col("errors"), col("warnings")))
      .withColumn("run_ref", blqRunRef(col("tag"), col("run_serial")))
  }

  /** Attempt lifecycle status (J2; bird_schema.sql:371-406): LEFT join
    * outcomes, status from null-ness — pending (no outcome), orphaned
    * (outcome with NULL exit), timeout, ok, failed. */
  def attemptStatus(store: EventStore): DataFrame =
    attemptStatus(store.attempts, store.outcomes)

  private def attemptStatus(attempts: DataFrame, outcomes: DataFrame): DataFrame = {
    val o = outcomes.withColumnRenamed("date", "outcome_date")
    attempts.join(o, attempts("id") === o("attempt_id"), "left")
      .withColumn("status",
        when(col("attempt_id").isNull, "pending")
          .when(col("timeout") === true, "timeout")
          .when(col("exit_code").isNull, "orphaned")
          .when(col("exit_code") === 0, "ok")
          .otherwise("failed"))
      .drop("attempt_id", "outcome_date")
  }

  /** Status board (U1+W2; bird_schema.sql:518-574): latest completed run
    * per source UNION pending attempts. */
  def sourceStatus(store: EventStore): DataFrame =
    sourceStatus(runs(store), attemptStatus(store))

  private def sourceStatus(runsDf: DataFrame, statusDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source_name"))
      .orderBy(col("started_at").desc, col("invocation_id").desc)
    val latest = runsDf
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source_name"), col("source_type"),
        col("started_at"), col("status_badge").as("status"),
        col("errors"), col("warnings"))
    val pending = statusDf
      .filter(col("status") === "pending")
      .select(col("source_name"), col("source_type"),
        col("timestamp").as("started_at"), lit("[....]").as("status"),
        lit(0L).as("errors"), lit(0L).as("warnings"))
    latest.unionByName(pending)
  }

  /** Recency views (P9; bird_schema.sql:409-416): `date >= today-N` —
    * the predicate lands on the partition column → partition pruning. */
  def eventsRecent(store: EventStore, days: Int = 14): DataFrame =
    store.events.filter(col("date") >= date_sub(current_date(), days))

  /** Register every relation as a temp view so spark.sql() works like
    * the reference's macro surface (§3.2), and install the
    * re-registration as the store's post-append refresh (the contract
    * is on [[EventStore.commitRun]]). */
  def registerAll(store: EventStore): Unit = {
    store.onAppendRefresh(() => registerViews(store))
    registerViews(store)
  }

  /** Each table is read ONCE (a read is a schema-merge job) and the
    * four `blq_*` views are derived from those frames. */
  private def registerViews(store: EventStore): Unit = {
    val (events, invocations) = (store.events, store.invocations)
    val (attempts, outcomes) = (store.attempts, store.outcomes)
    val runsDf = runs(events, invocations)
    val statusDf = attemptStatus(attempts, outcomes)
    events.createOrReplaceTempView("events_raw")
    invocations.createOrReplaceTempView("invocations")
    attempts.createOrReplaceTempView("attempts")
    outcomes.createOrReplaceTempView("outcomes")
    store.outputs.createOrReplaceTempView("outputs")
    flatJoin(events, invocations, hintBroadcast = true)
      .createOrReplaceTempView("blq_events")
    runsDf.createOrReplaceTempView("blq_runs")
    statusDf.createOrReplaceTempView("blq_attempt_status")
    sourceStatus(runsDf, statusDf).createOrReplaceTempView("blq_source_status")
  }
}
