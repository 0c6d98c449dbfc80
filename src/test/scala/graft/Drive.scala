import org.apache.spark.sql.SparkSession
import graft.Tables
import graft.model._
import graft.store.EventStore
import graft.views.Views

// Library-surface drive: what a blq-cli user switching to graft would write.
object Drive extends App {
  val spark = Tables.configure(SparkSession.builder()
    .master("local[4]").config("spark.ui.enabled", "false")).getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val root = java.nio.file.Files.createTempDirectory("drive-store").toString
  val store = new EventStore(spark, root)
  graft.Fixtures.populate(store)
  Views.registerAll(store)
  println("== blq_runs ==")
  spark.sql("SELECT run_ref, errors, warnings, status_badge FROM blq_runs ORDER BY run_serial").show(false)
  println("== errors (macro blq_errors(10) analog) ==")
  spark.sql("SELECT ref, severity, location, message FROM blq_events WHERE severity='error' ORDER BY started_at DESC, event_index LIMIT 10").show(false)
  println("== source status board ==")
  spark.sql("SELECT source_name, status FROM blq_source_status ORDER BY source_name").show(false)

  // SURVEY §7.2 end-to-end slice: parse gcc log → partitioned parquet →
  // blq_errors(10) through the SQL surface.
  println("== parse gcc log -> store -> errors ==")
  val logDir = "src/test/resources/logs"
  val parsed = graft.parse.LogSource.readLogFiles(spark, s"$logDir/gcc_errors.log", "auto")
  val serial = store.nextRunSerial()
  val inv = graft.Fixtures.inv("i-gcc", serial, Some("compile"), "2026-08-03 09:00:00", Some(1), date = java.sql.Date.valueOf("2026-08-03"))
  import org.apache.spark.sql.functions._
  val events = parsed.select(
    concat(lit("i-gcc-e"), col("event_index")).as("id"),
    lit("i-gcc").as("invocation_id"), col("event_index"),
    lit(java.sql.Timestamp.valueOf("2026-08-03 09:00:00")).as("timestamp"),
    col("severity"), col("message"), col("raw_text"), col("tool_name"),
    col("category"), col("code"), col("rule"), col("test_name"),
    col("ref_file"), col("ref_line"), col("ref_column"), col("fingerprint"),
    col("log_line_start"), col("log_line_end"),
    lit(null.asInstanceOf[String]).as("context"),
    lit(null.asInstanceOf[String]).as("metadata"),
    lit(java.sql.Date.valueOf("2026-08-03")).as("date"))
  // One commit: events, then the invocation row; the views registered
  // above refresh themselves once the run is committed.
  store.commitRun(inv, EventStore.EventFrame(events))
  spark.sql("SELECT ref, location, message FROM blq_events WHERE severity='error' AND tool_name='gcc' ORDER BY event_index LIMIT 10").show(false)

  // Fluent API + CLI filter mini-language surface.
  println("== fluent: errors in util files, newest line first ==")
  graft.api.LogQuery(Views.eventsFlat(store))
    .filter("severity" -> "error", "ref_file" -> "%util%")
    .orderBy("-ref_line").select("ref", "location", "message").limit(5).show()
  println("== filter lang: 'severity=error,warning ref_file~main' ==")
  val cond = graft.api.FilterLang.parseAll(Seq("severity=error,warning", "ref_file~main")).get
  Views.eventsFlat(store).filter(cond).select("ref", "severity", "location").show(false)
  spark.stop()
}
