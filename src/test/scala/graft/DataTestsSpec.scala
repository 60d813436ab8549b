package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.engine.DataTests
import graft.engine.DataTests._

/** dbt generic-test semantics on adversarial tiny frames: NULL child
  * keys are not relationship violations, accepted_values counts
  * DISTINCT offenders, unique counts duplicated KEY VALUES (not rows),
  * and the summary unions in deterministic order.
  */
class DataTestsSpec extends SparkSpec {

  private def frames: Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "child" -> Seq(
        (Some(1), "a"), (Some(1), "b"), (Some(2), "c"),
        (None, "d"), (Some(9), "e")).toDF("fk", "payload"),
      "parent" -> Seq(1, 2, 3).toDF("id"),
      "vals" -> Seq("x", "x", "y", "zz", "zz", "zz").toDF("v"))
  }

  test("relationships: NULL child keys skipped, orphan ROWS counted") {
    val out = DataTests.run(frames(_), Seq(
      Relationships("child", "fk", "parent", "id"))).collect()
    // fk=9 twice? no - one orphan row (9); the NULL row is not a violation
    assert(out.length === 1)
    assert(out(0).getAs[Long]("n_violations") === 1L)
  }

  test("unique counts duplicated key VALUES; accepted_values counts DISTINCT offenders") {
    val out = DataTests.run(frames(_), Seq(
      Unique("vals", Seq("v")),
      AcceptedValues("vals", "v", Seq("x", "y"))))
      .collect().map(r => r.getAs[String]("test") -> r.getAs[Long]("n_violations")).toMap
    assert(out("unique") === 2L) // x and zz each repeat -> 2 dup values
    assert(out("accepted_values") === 1L) // only zz is outside the list
  }

  test("passing checks report zero on empty violation sets") {
    val out = DataTests.run(frames(_), Seq(
      NotNull("parent", "id"),
      Unique("parent", Seq("id")))).collect()
    assert(out.forall(_.getAs[Long]("n_violations") === 0L))
  }

  test("build: dbt-build posture — DAG materializes, then tests gate") {
    import graft.engine.{DagRunner, Model}
    val wh = java.nio.file.Files.createTempDirectory("graft_dt").toFile.getAbsolutePath
    val dupOut = Model("dup_out", Seq.empty,
      (s, _) => { import s.implicits._; Seq(1, 1, 2).toDF("k") },
      graft.engine.Table)
    val report = DagRunner.build(spark, Seq(dupOut), n => sys.error(s"no source $n"),
      wh, checks = Seq(Unique("dup_out", Seq("k")), NotNull("dup_out", "k")))
    // the failing unique check gates the model; the passing not_null does not report
    assert(!report.ok)
    assert(report.failures.keySet === Set("dup_out"))
    val failed = report.failures("dup_out")
    assert(failed.map(_._2) === Seq(1L))
    assert(failed.head._1.startsWith("unique"))
    assert(!failed.exists(_._1.startsWith("not_null")))
    // the table was materialized before its tests ran
    assert(spark.read.parquet(DagRunner.targetPath(wh, dupOut)).count() === 3L)
  }

  test("unique excludes NULL keys, mirroring dbt's generated test SQL") {
    import spark.implicits._
    // two NULLs + a real duplicate: dbt's unique test filters
    // `where col is not null` before grouping, so only the real
    // duplicate counts (NULLs belong to a not_null test).
    val df = Seq(Option(1), None, None, Option(2), Option(2)).toDF("k")
    val out = DataTests.run(_ => df, Seq(Unique("m", Seq("k")))).collect()
    assert(out.head.getAs[Long]("n_violations") === 1L)
  }

  test("singular tests: result rows ARE the violations; refs resolve; store_failures keeps them") {
    val f = frames
    val resolve: String => DataFrame = f(_)
    // A cross-model join assertion neither generic test can express:
    // child rows whose payload exceeds one character AND have a parent.
    val failing = Singular("child", "short_payloads_only",
      """SELECT c.fk, c.payload FROM {{ ref('child') }} c
        |JOIN {{ ref('parent') }} p ON c.fk = p.id
        |WHERE length(c.payload) > 0""".stripMargin)
    val passing = Singular("child", "no_empty_payload",
      "SELECT * FROM {{ ref('child') }} WHERE payload = ''")
    val summary = DataTests.run(resolve, Seq(failing, passing)).collect()
    assert(summary.map(r => (r.getString(2), r.getLong(3))).toSeq ===
      Seq(("no_empty_payload", 0L), ("short_payloads_only", 3L)))
    // store_failures persists the failing singular's OWN result shape.
    val root = java.nio.file.Files.createTempDirectory("graft-singular").toString
    val written = DataTests.storeFailures(resolve, Seq(failing, passing), root)
    assert(written.keySet === Set("singular_short_payloads_only"))
    val stored = spark.read.parquet(written("singular_short_payloads_only"))
    assert(stored.columns.toSeq === Seq("fk", "payload") && stored.count() === 3)
  }

  test("an empty check list yields an empty summary, not a crash") {
    val out = DataTests.run(n => sys.error(s"no $n"), Seq.empty)
    assert(out.columns.toSeq === Seq("test", "model", "column", "n_violations"))
    assert(out.count() === 0L)
  }

  test("freshness: strict thresholds, boundary ages, and the empty-source error") {
    import spark.implicits._
    val loaded = Seq("2024-01-01 00:00:00").toDF("at")
      .select(col("at").cast("timestamp"))
    val empty = loaded.filter(lit(false))
    def statusAt(asOf: String, warn: Long, err: Long, src: org.apache.spark.sql.DataFrame) =
      DataTests.freshness(_ => src, Seq(DataTests.Freshness("s", "at", warn, err)), asOf)
        .collect().head.getAs[String]("status")
    // age exactly == warn_after is a PASS (dbt compares >, not >=)
    assert(statusAt("2024-01-01 01:00:00", 3600, 7200, loaded) === "pass")
    assert(statusAt("2024-01-01 01:00:01", 3600, 7200, loaded) === "warn")
    assert(statusAt("2024-01-01 02:00:01", 3600, 7200, loaded) === "error")
    // no rows -> NULL max_loaded_at -> error, as dbt reports it
    assert(statusAt("2024-01-01 01:00:00", 3600, 7200, empty) === "error")
  }
}
