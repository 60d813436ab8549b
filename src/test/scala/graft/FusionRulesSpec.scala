package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}

import graft.engine.FusionRules
import graft.models.SqlReporting
import graft.models.testkit.NpoFixtures

/** The two optimizer rewrites in [[FusionRules]]: each fires on plain SQL
  * and returns the rows the unrewritten plan returns, and each leaves a
  * shape it cannot rewrite exactly alone.
  */
class FusionRulesSpec extends SparkSpec {

  private lazy val registered = {
    import spark.implicits._
    FusionRules.setup(spark)
    Seq[(String, Int, String, String, Int)](
      ("a", 1, "Play", "x", 1), ("a", 1, "Stop", "y", 2), ("a", 2, null, "y", 3),
      ("b", 1, "Stop", "y", 4), ("b", 1, "Stop", null, 5), (null, 1, "Play", "x", 6),
      (null, 2, "Play", "y", 7), ("c", 3, null, null, 8))
      .toDF("k", "g", "action", "kind", "v").createOrReplaceTempView("fr_events")
    Seq[(String, String, String, String)](
      ("EP1", "SEASON", "S2", "p"), ("EP1", "SEASON", "S1", "q"), ("EP1", "SERIES", "R1", "r"),
      ("EP2", "SEASON", null, "s"), ("EP2", "SEASON", "S9", "t"), ("EP3", "SERIES", "R3", "u"),
      ("EP4", "SEASON", "S4", "v"), ("EP4", "SEASON", "S4", "w"))
      .toDF("id", "typ", "ref", "other").createOrReplaceTempView("fr_refs")
    true
  }

  private def q(sql: String): DataFrame = { assert(registered); spark.sql(sql) }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The same query's rows with the two rules taken out of the optimizer. */
  private def rowsWithoutRules(sql: String): Seq[String] = {
    val exp = spark.experimental
    val saved = exp.extraOptimizations
    exp.extraOptimizations = saved.filterNot(FusionRules.rules.contains)
    try rows(q(sql)) finally exp.extraOptimizations = saved
  }

  private def distinctCounts(p: LogicalPlan): Int = p.collect { case n =>
    n.expressions.map(_.collect { case ae: AggregateExpression if ae.isDistinct => ae }.size).sum
  }.sum

  private def rowNumberWindows(p: LogicalPlan): Seq[Window] = p.collect {
    case w: Window if w.windowExpressions.exists(_.exists {
      case WindowExpression(RowNumber(), _) => true
      case _ => false
    }) => w
  }

  test("COUNT(DISTINCT) of a grouping key, bare, CASE or IF, becomes a 0/1 max with the same rows") {
    Seq(
      """SELECT k, g, COUNT(DISTINCT CASE WHEN action = 'Play' OR kind = 'x' THEN k END) AS n,
        |  SUM(v) AS s FROM fr_events GROUP BY k, g""".stripMargin,
      "SELECT g, k, COUNT(DISTINCT k) AS n FROM fr_events GROUP BY g, k",
      "SELECT k, COUNT(DISTINCT IF(action = 'Play', k, NULL)) AS n FROM fr_events GROUP BY k"
    ).foreach { sql =>
      val df = q(sql)
      assert(distinctCounts(df.queryExecution.optimizedPlan) === 0, sql)
      val n = df.queryExecution.optimizedPlan.schema("n")
      assert(n.dataType.simpleString === "bigint" && !n.nullable, sql)
      assert(rows(df) === rowsWithoutRules(sql), sql)
    }
    // A NULL condition counts nothing, as in the distinct form.
    assert(rows(q("""SELECT k, COUNT(DISTINCT CASE WHEN action = 'Play' THEN k END) AS n
                    |FROM fr_events WHERE k = 'c' GROUP BY k""".stripMargin)) === Seq("[c,0]"))
  }

  test("COUNT(DISTINCT) of a non-key column or without grouping is left alone") {
    Seq("SELECT k, COUNT(DISTINCT v) AS n FROM fr_events GROUP BY k",
      "SELECT COUNT(DISTINCT k) AS n FROM fr_events"
    ).foreach { sql =>
      val df = q(sql)
      assert(distinctCounts(df.queryExecution.optimizedPlan) === 1, sql)
      assert(rows(df) === rowsWithoutRules(sql), sql)
    }
  }

  test("row_number() = 1 read through its keys and order key becomes the per-key minimum") {
    Seq(
      """SELECT id, ref FROM (
        |  SELECT id, typ, ref,
        |    ROW_NUMBER() OVER (PARTITION BY id, typ ORDER BY id, typ, ref) AS rn
        |  FROM fr_refs) WHERE typ = 'SEASON' AND rn = 1""".stripMargin,
      """SELECT id, typ, ref AS first_ref FROM (
        |  SELECT id, typ, ref, ROW_NUMBER() OVER (PARTITION BY id, typ ORDER BY ref) AS rn
        |  FROM (SELECT DISTINCT id, typ, ref FROM fr_refs)) WHERE rn = 1""".stripMargin,
      """SELECT id, typ, ref FROM (
        |  SELECT id, typ, ref, ROW_NUMBER() OVER (PARTITION BY id, typ ORDER BY ref) AS rn
        |  FROM fr_refs) WHERE typ = 'SEASON' AND rn = 1""".stripMargin,
      """SELECT ref FROM (
        |  SELECT typ, ref, ROW_NUMBER() OVER (PARTITION BY typ ORDER BY ref) AS rn
        |  FROM fr_refs) WHERE typ = 'SERIES' AND rn = 1""".stripMargin
    ).foreach { sql =>
      val df = q(sql)
      assert(rowNumberWindows(df.queryExecution.optimizedPlan).isEmpty, sql)
      assert(rows(df) === rowsWithoutRules(sql), sql)
    }
    // The window's NULLS FIRST pick survives: EP2's season is the NULL ref.
    assert(rows(q("""SELECT id, ref FROM (
        |  SELECT id, typ, ref, ROW_NUMBER() OVER (PARTITION BY id, typ ORDER BY ref) AS rn
        |  FROM fr_refs) WHERE typ = 'SEASON' AND rn = 1""".stripMargin)) ===
      Seq("[EP1,S1]", "[EP2,null]", "[EP4,S4]"))
  }

  test("row_number() = 1 with NULLS LAST, a third column read, or no partition is left alone") {
    Seq(
      """SELECT id, ref FROM (
        |  SELECT id, typ, ref,
        |    ROW_NUMBER() OVER (PARTITION BY id, typ ORDER BY ref ASC NULLS LAST) AS rn
        |  FROM fr_refs) WHERE rn = 1""".stripMargin,
      """SELECT id, ref, other FROM (
        |  SELECT id, typ, ref, other, ROW_NUMBER() OVER (PARTITION BY id, typ ORDER BY ref) AS rn
        |  FROM fr_refs) WHERE rn = 1""".stripMargin,
      """SELECT ref FROM (
        |  SELECT ref, ROW_NUMBER() OVER (ORDER BY ref) AS rn FROM fr_refs)
        |WHERE rn = 1""".stripMargin
    ).foreach { sql =>
      val df = q(sql)
      assert(rowNumberWindows(df.queryExecution.optimizedPlan).size === 1, sql)
      assert(rows(df) === rowsWithoutRules(sql), sql)
    }
  }

  test("the text streams model plans neither descendants nor channel window, nor the per-stream distinct") {
    val m = SqlReporting.project(NpoFixtures.today, spark)
      .model("atinternet_smarttag_streams_daily_v4")
    val fixtures = NpoFixtures.all(spark)
    val plan = m.build(spark, m.refs.map(r => r -> fixtures(r)).toMap)
      .queryExecution.optimizedPlan
    val windowKeys = rowNumberWindows(plan).flatMap(_.partitionSpec.collect {
      case a: Attribute => a.name
    })
    // Only the livestream as-of dedup window is left.
    assert(!windowKeys.contains("id"), windowKeys)
    assert(windowKeys.contains("d_rm_playid"), windowKeys)
    // COUNT(DISTINCT unique_user_id) per date stays; the per-stream
    // COUNT(DISTINCT CASE ... d_rm_playid END) is gone.
    assert(distinctCounts(plan) === 1)
  }
}
