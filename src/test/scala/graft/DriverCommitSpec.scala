package graft

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.exec.Runner
import graft.functions.BlqFunctions
import graft.model._
import graft.parse.{FormatRegistry, ParsedEvent}
import graft.store.{BlobStore, EventStore}

/** The driver-side run commit: event rows built without a DataFrame,
  * fingerprinted in Scala, and appended by the store's driver writer.
  * Each test pins one property the distributed path already had. */
class DriverCommitSpec extends SparkSpec {

  private val logDir = new File(getClass.getResource("/logs").toURI)
  private def fixtures: Seq[File] = logDir.listFiles().filter(_.isFile).sortBy(_.getName).toSeq
  private def read(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")

  private def mkRunner(): (Runner, EventStore) = {
    val root = Files.createTempDirectory("driver_commit").toString
    val store = new EventStore(spark, root)
    (new Runner(store, new BlobStore(s"$root/blobs")), store)
  }

  test("fingerprint: the Scala form equals the Column form, bit for bit") {
    import spark.implicits._
    val parsed = fixtures.flatMap(f => FormatRegistry.parse(read(f), "auto"))
    assert(parsed.size > 200, s"fixtures parsed to only ${parsed.size} events")
    def edge(tool: Option[String], cat: Option[String], msg: Option[String],
        code: Option[String] = None, file: Option[String] = None) =
      ParsedEvent(0L, "error", msg, None, tool, cat, code, None, None, file,
        None, None, None, None)
    val edges = Seq(
      edge(None, None, None),
      edge(Some("gcc"), None, Some("x")),
      edge(None, Some("compile"), Some("y"), code = Some("E1")),
      edge(Some("t"), Some("c"), Some("at 0xDEADbeef and 0x1f, line 42 col 7, 0x and 12ab"),
        file = Some("src/a9.c")),
      edge(Some("t"), Some("c"), Some("00000000000000000000000000000000000001")),
      edge(Some("tüül"), Some("Größe"), Some("ungültige Größe 3 ✓ 日本語 🚀 0xFF"),
        code = Some("ÄÖ"), file = Some("ファイル.c")),
      edge(Some(""), Some(""), Some("")))
    val rows = parsed ++ edges
    val columnForm = rows.toDS()
      .select(BlqFunctions.fingerprint(col("tool_name"), col("category"),
        col("code"), col("ref_file"), col("message")))
      .as[String].collect().toSeq
    val scalaForm = rows.map(p => BlqFunctions.fingerprintOf(p.tool_name,
      p.category, p.code, p.ref_file, p.message))
    val differing = rows.indices.filter(i => columnForm(i) != scalaForm(i))
    assert(differing.isEmpty, differing.take(5).map(i =>
      s"${rows(i)}: ${columnForm(i)} vs ${scalaForm(i)}").mkString("\n"))
  }

  test("cross-path rows: importContent and importDirectory store equal rows") {
    val (runner, store) = mkRunner()
    val dir = Files.createTempDirectory("cross_path_logs")
    fixtures.foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
    val bulk = runner.importDirectory(s"$dir/*")
    val compared = Seq("event_index", "severity", "message", "raw_text",
      "tool_name", "category", "code", "rule", "test_name", "ref_file",
      "ref_line", "ref_column", "fingerprint", "log_line_start", "log_line_end",
      "context")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.select(compared.map(col): _*).orderBy(col("event_index")).collect().toSeq
    val fromDir = store.events.filter(col("invocation_id") === bulk.invocationId)
      .withColumn("file", get_json_object(col("metadata"), "$.log_file"))
      .cache()
    try {
      var withEvents = 0
      fixtures.foreach { f =>
        val run = runner.importContent(read(f))
        val driver = rowsOf(store.events.filter(col("invocation_id") === run.invocationId))
        val distributed = rowsOf(fromDir.filter(col("file").endsWith(s"/${f.getName}")))
        assert(driver === distributed, f.getName)
        if (driver.nonEmpty) withEvents += 1
      }
      assert(withEvents > 70, s"only $withEvents fixtures yielded events")
    } finally fromDir.unpersist()
  }

  test("file identity: driver-written files match files a Spark job writes") {
    import spark.implicits._
    val (runner, store) = mkRunner()
    runner.importContent(read(new File(logDir, "gcc_errors.log")))
    // the same kinds of rows, written by a Spark job
    val jobRoot = Files.createTempDirectory("job_written").toString
    val jobStore = new EventStore(spark, jobRoot)
    val inv = store.invocations.as[Invocation].collect().toSeq
    jobStore.commitRun(inv.head,
      EventStore.EventFrame(store.events.as[Event].collect().toSeq.toDF()))
    inv.toDS().write.option("compression", "zstd").partitionBy("date")
      .parquet(s"$jobRoot/job_invocations")

    def footer(root: String, table: String) = {
      val file = Files.walk(Paths.get(root, table)).iterator().asScala
        .find(p => p.getFileName.toString.matches("part-.*\\.zstd\\.parquet")).get
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.toString), spark.sparkContext.hadoopConfiguration))
      try reader.getFooter finally reader.close()
    }
    for ((driverTable, jobTable) <- Seq("events" -> "events",
        "invocations" -> "job_invocations")) {
      val d = footer(store.root, driverTable)
      val j = footer(jobRoot, jobTable)
      assert(d.getFileMetaData.getSchema === j.getFileMetaData.getSchema, driverTable)
      def codecs(m: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
        m.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      assert(codecs(d) === Set("ZSTD"), driverTable)
      assert(codecs(d) === codecs(j), driverTable)
      val key = "org.apache.spark.sql.parquet.row.metadata"
      assert(d.getFileMetaData.getKeyValueMetaData.get(key) ===
        j.getFileMetaData.getKeyValueMetaData.get(key), driverTable)
    }
  }

  test("in-progress files are invisible to snapshot reads, sql and history") {
    val root = Files.createTempDirectory("in_progress").toString
    val first = GraftEngine(spark, root)
    first.importContent(read(new File(logDir, "gcc_errors.log")))
    val events = first.store.events.count()
    for (table <- Seq("events", "invocations")) {
      val dateDir = new File(s"$root/$table").listFiles().find(_.getName.startsWith("date=")).get
      Files.writeString(dateDir.toPath.resolve(
        EventStore.inProgressName("part-00000-garbage.c000.zstd.parquet")),
        "not a parquet file")
    }
    val engine = GraftEngine(spark, root)
    assert(engine.store.events.count() === events)
    assert(engine.store.invocations.count() === 1L)
    assert(engine.sql("SELECT count(*) FROM blq_events").head().getLong(0) === events)
    assert(engine.history(10).collect().length === 1)
  }
}
