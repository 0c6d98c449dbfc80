package graft

import graft.analytics.DataQuality
import graft.analytics.DataQuality._

/** Rule-by-rule semantics of the validation suite on a crafted frame,
  * plus the fusion contract: all row-local rules must evaluate in ONE
  * aggregate job over the table. q121 gates the operator against the
  * DuckDB oracle at driver scale; this spec pins the edge semantics
  * the synthetic tables don't exercise (NULL handling, NULL unique
  * keys, empty tables). */
class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  private def rows = Seq(
    (1L, Some("a"), Some(5.0), Some("en")),
    (2L, None, Some(500.0), Some("en")),      // null name, range violation
    (2L, Some("b"), Some(10.0), Some("xx")),  // dup id, bad lang len ok ('xx' matches [a-z]{2})
    (3L, Some("c"), None, Some("E1")),        // null score (no range violation), regex violation
    (3L, Some("d"), Some(-1.0), None))        // dup id, range violation, null lang ok
    .toDF("id", "name", "score", "lang")

  test("row-local rules: nulls, ranges, accepted sets, regex — exact counts, one fused pass") {
    val rep = DataQuality.check(rows, Seq(
      NotNull("name"),
      InRange("score", 0, 100),
      Accepted("lang", Seq("en", "fr")),
      Matches("lang", "[a-z]{2}")))
      .as[(String, String, Long, Long, Int)].collect().toList
    assert(rep === List(
      ("not_null(name)", "name", 5L, 1L, 0),
      ("in_range(score,0.0,100.0)", "score", 5L, 2L, 0),
      ("accepted(lang)", "lang", 5L, 2L, 0), // 'xx' and 'E1'; NULL passes
      ("matches(lang)", "lang", 5L, 1L, 0))) // only 'E1'; NULL passes
  }

  test("unique and referential rules: excess-row and orphan counts") {
    val dim = Seq(1L, 2L).toDF("k")
    val rep = DataQuality.check(rows, Seq(
      Unique(Seq("id")),
      Unique(Seq("id", "name")),
      RefIntegrity("id", dim, "k", "dim")))
      .as[(String, String, Long, Long, Int)].collect().toList
    assert(rep === List(
      ("unique(id)", "id", 5L, 2L, 0),        // ids 2 and 3 doubled
      ("unique(id,name)", "id,name", 4L, 0L, 1), // null-name row not checked
      ("ref_integrity(id->dim.k)", "id", 5L, 2L, 0))) // both id=3 rows orphan
  }

  test("NULL unique keys are not checked (COUNT DISTINCT semantics — pair with NotNull to flag them)") {
    // 1, 1, NULL, NULL: the NULLs are excluded from checked AND from
    // the distinct count, so the only violation is the duplicated 1 —
    // exactly count(id) − count(DISTINCT id) in any SQL engine
    val withNulls = Seq(Some(1L), Some(1L), None, None).toDF("id")
    val rep = DataQuality.check(withNulls, Seq(Unique(Seq("id"))))
      .as[(String, String, Long, Long, Int)].collect().toList
    assert(rep === List(("unique(id)", "id", 2L, 1L, 0)))
    // multi-column keys: a NULL in ANY key column excludes the row
    val multi = Seq((Some(1L), Some("a")), (Some(1L), Some("a")),
      (Some(1L), None), (None, Some("a"))).toDF("a", "b")
    val rep2 = DataQuality.check(multi, Seq(Unique(Seq("a", "b"))))
      .as[(String, String, Long, Long, Int)].collect().toList
    assert(rep2 === List(("unique(a,b)", "a,b", 2L, 1L, 0)))
  }

  test("duplicate rule names keep their own report rows in positional order") {
    val dim = Seq(1L, 2L).toDF("k")
    val rep = DataQuality.check(rows, Seq(
      RefIntegrity("id", dim, "k", "dim"),
      NotNull("name"),
      RefIntegrity("id", dim, "k", "dim"))) // identical name, own row
      .select($"rule").as[String].collect().toList
    assert(rep === List("ref_integrity(id->dim.k)", "not_null(name)",
      "ref_integrity(id->dim.k)"))
  }

  test("runWave: a wave wider than the driver's core count still runs as one concurrent wave") {
    // 48 tasks, each blocking until ALL 48 have started: only true
    // wave concurrency lets the latch reach zero. On the old global
    // fork-join pool (parallelism = cores, no blocking{} wrapper)
    // this deadlocks until the await times out and the test fails.
    val width = 48
    val latch = new java.util.concurrent.CountDownLatch(width)
    val results = DataQuality.runWave(Seq.fill(width)(() => {
      latch.countDown()
      latch.await(20, java.util.concurrent.TimeUnit.SECONDS)
    }))
    assert(results.size === width)
    assert(results.forall(identity),
      "all tasks must have been concurrent (latch reached zero)")
  }

  test("empty table: zero checked, zero violations, all rules pass") {
    val rep = DataQuality.check(rows.limit(0), Seq(
      NotNull("name"), Unique(Seq("id"))))
      .as[(String, String, Long, Long, Int)].collect().toList
    assert(rep === List(
      ("not_null(name)", "name", 0L, 0L, 1),
      ("unique(id)", "id", 0L, 0L, 1)))
  }

  test("report preserves the suite's rule order across rule families") {
    val rep = DataQuality.check(rows, Seq(
      Unique(Seq("id")), NotNull("name"), InRange("score", 0, 100)))
      .select($"rule").as[String].collect().toList
    assert(rep === List("unique(id)", "not_null(name)",
      "in_range(score,0.0,100.0)"))
  }

  test("flagRows: per-row reasons in suite order, referential orphans flagged, Unique refused") {
    import org.apache.spark.sql.functions.concat_ws
    val dim = Seq(1L, 2L).toDF("k")
    val got = DataQuality.flagRows(rows, Seq(
        NotNull("name"), InRange("score", 0, 100),
        RefIntegrity("id", dim, "k", "dim")))
      .select($"id", concat_ws(";", $"violations").as("r"), $"quarantine")
      .as[(Long, String, Int)].collect().toSet
    assert(got === Set(
      (1L, "", 0),
      (2L, "not_null(name);in_range(score,0.0,100.0)", 1),
      (2L, "", 0),
      (3L, "ref_integrity(id->dim.k)", 1),
      (3L, "in_range(score,0.0,100.0);ref_integrity(id->dim.k)", 1)))
    // no leaked marker columns
    assert(!DataQuality.flagRows(rows, Seq(RefIntegrity("id", dim, "k", "d")))
      .columns.exists(_.startsWith("__dq_m")))
    intercept[IllegalArgumentException] {
      DataQuality.flagRows(rows, Seq(Unique(Seq("id"))))
    }
  }

  test("row-local fusion: a 6-rule suite costs exactly as many jobs as a 1-rule suite") {
    val one = jobsFor {
      DataQuality.check(rows, Seq(NotNull("name"))).collect(); ()
    }
    val six = jobsFor {
      DataQuality.check(rows, Seq(
        NotNull("name"), InRange("score", 0, 100),
        Accepted("lang", Seq("en")), Matches("lang", "[a-z]+"),
        NotNull("lang"), InRange("id", 0, 10))).collect(); ()
    }
    assert(six === one,
      s"row-local rules must fuse into one scan: 1-rule=$one jobs, 6-rule=$six")
  }
}
