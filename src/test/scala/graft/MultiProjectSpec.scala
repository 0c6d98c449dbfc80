package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.store.MultiProjectStore

/** Multi-project root scan: partition columns from the path, pruning,
  * per-project stores writing into the shared layout. */
class MultiProjectSpec extends SparkSpec {
  import Fixtures._

  test("cross-project scan surfaces path segments as partition columns") {
    val root = Files.createTempDirectory("multi_root").toString
    val p1 = MultiProjectStore.project(spark, root, "host1", "team", "alpha")
    val p2 = MultiProjectStore.project(spark, root, "host2", "team", "beta")
    p1.commitRun(inv("i1", 1L, Some("build"), "2026-08-01 10:00:00", Some(1)),
      Some(spark.createDataFrame(Seq(
        ev("e1", "i1", 0, "error", "boom in alpha", fp = Some("f1"))))))
    p2.commitRun(inv("i2", 1L, Some("build"), "2026-08-01 11:00:00", Some(0)),
      Some(spark.createDataFrame(Seq(
        ev("e2", "i2", 0, "warning", "warn in beta", fp = Some("f2")),
        ev("e3", "i2", 1, "error", "boom in beta", fp = Some("f3"))))))

    val all = MultiProjectStore.readAll(spark, root, "events")
    assert(all.count() === 3)
    assert(all.columns.toSet.contains("project"))
    // partition pruning on the project path column
    val alphaOnly = all.filter(col("project") === "alpha")
    assert(alphaOnly.count() === 1)
    assert(alphaOnly.queryExecution.executedPlan.toString.contains("project"))

    val summary = MultiProjectStore.projectSummary(spark, root).collect()
    assert(summary.length === 2)
    val beta = summary.find(_.getAs[String]("project") == "beta").get
    assert(beta.getAs[Long]("n_events") === 2L)
    assert(beta.getAs[Long]("errors") === 1L)
  }

  test("sync: standalone store into the central root, incremental re-sync") {
    import graft.store.{EventStore, SyncStore}
    val local = Files.createTempDirectory("local_store").toString
    val central = Files.createTempDirectory("central_root").toString
    val store = new EventStore(spark, local)
    store.commitRun(inv("s1", 1L, Some("test"), "2026-08-02 09:00:00", Some(1)),
      Some(spark.createDataFrame(Seq(
        ev("se1", "s1", 0, "error", "standalone boom", fp = Some("sf1"))))))

    val first = SyncStore.sync(spark, local, central, "laptop", "team", "gamma")
    assert(first.copied > 0 && first.skipped === 0)
    // the synced project is now visible to the multi-project scan
    val all = MultiProjectStore.readAll(spark, central, "events")
    assert(all.filter(col("project") === "gamma").count() === 1)

    // idempotent: a second sync copies nothing
    val second = SyncStore.sync(spark, local, central, "laptop", "team", "gamma")
    assert(second.copied === 0 && second.skipped === first.copied)

    // incremental: one more run copies only the new files, and the
    // central copy never loses what it had
    store.commitRun(inv("s2", 2L, Some("test"), "2026-08-03 09:00:00", Some(0)),
      Some(spark.createDataFrame(Seq(
        ev("se2", "s2", 0, "warning", "second run", fp = Some("sf2"))))))
    val third = SyncStore.sync(spark, local, central, "laptop", "team", "gamma")
    assert(third.copied > 0 && third.skipped >= second.skipped)
    val after = MultiProjectStore.readAll(spark, central, "events")
    assert(after.filter(col("project") === "gamma").count() === 2)
  }
}
