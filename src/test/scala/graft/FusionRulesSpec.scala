package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Window}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DateType

import graft.engine.FusionRules
import graft.models.SqlReporting
import graft.models.testkit.{NpoFixtures, NpoParquet}

/** The optimizer rewrites in [[FusionRules]]: each fires on plain SQL
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
    // Array-valued rows over parquet, so sibling branches read one scan:
    // a NULL and an empty array, NULL elements and fields, an id on two
    // rows, and parent ids with no row at all.
    val dir = java.nio.file.Files.createTempDirectory("fusion-rules").toString
    spark.sql("""SELECT * FROM VALUES
      |  ('EP1', 'A', array(named_struct('type', 'SEASON', 'ref', 'S2', 'n', 3L),
      |                     named_struct('type', 'SEASON', 'ref', 'S1', 'n', 5L),
      |                     named_struct('type', 'SERIES', 'ref', 'R1', 'n', CAST(NULL AS BIGINT))),
      |          array('NPO', 'VARA', 'NPO'), array(1, 2)),
      |  ('EP1', 'B', array(named_struct('type', 'SEASON', 'ref', 'S0', 'n', 1L)), array('AVRO'),
      |          CAST(NULL AS ARRAY<INT>)),
      |  ('EP2', 'A', array(named_struct('type', 'SEASON', 'ref', CAST(NULL AS STRING), 'n', 2L),
      |                     CAST(NULL AS STRUCT<type: STRING, ref: STRING, n: BIGINT>)),
      |          array(CAST(NULL AS STRING)), array(CAST(NULL AS INT))),
      |  ('EP3', 'B', array(named_struct('type', 'SERIES', 'ref', 'R3', 'n', 7L)),
      |          CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<INT>)),
      |  ('EP4', 'A', CAST(NULL AS ARRAY<STRUCT<type: STRING, ref: STRING, n: BIGINT>>),
      |          CAST(NULL AS ARRAY<STRING>), array(4)),
      |  ('EP5', 'B', CAST(array() AS ARRAY<STRUCT<type: STRING, ref: STRING, n: BIGINT>>),
      |          array('KRO'), array(5, CAST(NULL AS INT))),
      |  (CAST(NULL AS STRING), 'A', array(named_struct('type', 'SEASON', 'ref', 'SX', 'n', 9L)),
      |          array('X'), array(9))
      |AS t(id, typ, kids, tags, nums)""".stripMargin)
      .write.parquet(s"$dir/poms")
    spark.read.parquet(s"$dir/poms").createOrReplaceTempView("fr_poms")
    spark.table("fr_refs").write.parquet(s"$dir/refs")
    spark.read.parquet(s"$dir/refs").createOrReplaceTempView("fr_refs_pq")
    Seq[(String, String)](("EP1", "EP2"), ("EP2", "EP1"), ("EP3", null), ("EP4", "EP4"),
      ("EP5", "EP9"), ("EP9", "EP1"), (null, "EP3"), ("EP1", "EP3"))
      .toDF("id", "other").createOrReplaceTempView("fr_base")
    // Events and minute-densified shows for the truncated-key join.
    Seq[(String, String)](("2021-01-02 10:15:30", "NPO1"), ("2021-01-03 23:59:00", "NPO1"),
      ("2021-01-04 00:30:00", "NPO2"), ("2021-01-01 12:00:00", "NPO1"), (null, "NPO1"),
      ("2021-01-02 05:00:00", "NPO2"))
      .toDF("ts", "ch").selectExpr("CAST(ts AS TIMESTAMP) AS ts", "ch")
      .write.parquet(s"$dir/events")
    // Parquet, so a filter on it stays a constraint of the plan.
    spark.read.parquet(s"$dir/events").createOrReplaceTempView("fr_ev")
    Seq[(String, String, String)](("2021-01-02 09:00:00", "2021-01-02 11:00:00", "NPO1"),
      ("2021-01-03 22:00:00", "2021-01-04 01:00:00", "NPO1"),
      ("2021-01-03 23:00:00", "2021-01-04 02:00:00", "NPO2"),
      ("2020-12-30 00:00:00", "2021-01-01 13:00:00", "NPO1"))
      .toDF("b", "e", "ch")
      .selectExpr("CAST(b AS TIMESTAMP) AS b", "CAST(e AS TIMESTAMP) AS e", "ch")
      .createOrReplaceTempView("fr_shows")
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

  private def generates(p: LogicalPlan): Int = p.collect { case g: Generate => g }.size

  private def scansOf(p: LogicalPlan, path: String): Int = p.collect {
    case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
        if r.location.rootPaths.exists(_.toString.contains(path)) => r
  }.size

  /** Whether a filter casts column `name` to a date: the inferred window. */
  private def dateFilterOn(p: LogicalPlan, name: String): Boolean = p.collect {
    case Filter(c, _) => c.exists {
      case Cast(a: Attribute, DateType, _, _) => a.name == name
      case _ => false
    }
  }.exists(identity)

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

  /** Rows of `sql` with the rules, equal to the rows without them. */
  private def sameRows(sql: String): DataFrame = {
    val df = q(sql)
    assert(rows(df) === rowsWithoutRules(sql), sql)
    df
  }

  private def leftJoined(agg: String, on: String = "b.id = k.id", join: String = "LEFT JOIN",
                         cols: String = "k.v") =
    s"SELECT b.id, b.other, $cols FROM fr_base b $join ($agg) k ON $on"

  test("explode + GROUP BY row key under a LEFT JOIN becomes array functions with the same rows") {
    Seq(
      "SELECT id, min(e.ref) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e WHERE e.type = 'SEASON' GROUP BY id",
      "SELECT id, max(e.n) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e GROUP BY id",
      "SELECT id, sum(e.n) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e WHERE e.type = 'SERIES' GROUP BY id",
      "SELECT id, sum(x) AS v FROM fr_poms LATERAL VIEW explode(nums) t AS x GROUP BY id",
      "SELECT id, count(*) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e GROUP BY id",
      "SELECT id, count(x) AS v FROM fr_poms LATERAL VIEW explode(nums) t AS x GROUP BY id",
      "SELECT id, coalesce(max(x), -1) AS v FROM fr_poms LATERAL VIEW explode(nums) t AS x GROUP BY id",
      "SELECT id, array_join(array_sort(collect_list(x)), ',') AS v FROM fr_poms LATERAL VIEW explode(tags) t AS x GROUP BY id",
      "SELECT id, array_sort(collect_list(x)) AS v FROM fr_poms LATERAL VIEW explode(tags) t AS x GROUP BY id",
      "SELECT id, sort_array(collect_list(x), false) AS v FROM fr_poms LATERAL VIEW explode(nums) t AS x WHERE x > 1 GROUP BY id",
      // FirstRowToMin's struct min over a row_number window.
      """SELECT id, ref AS v FROM (
        |  SELECT id, e.ref AS ref, ROW_NUMBER() OVER (PARTITION BY id ORDER BY e.ref) AS rn
        |  FROM fr_poms LATERAL VIEW explode(kids) t AS e WHERE e.type = 'SEASON') WHERE rn = 1""".stripMargin
    ).foreach { agg =>
      val df = sameRows(leftJoined(agg))
      assert(generates(df.queryExecution.optimizedPlan) === 0, agg)
    }
    // A key with no surviving element reads NULL, as with no group: EP3
    // has only a SERIES kid, EP4 a NULL and EP5 an empty array.
    assert(rows(q(leftJoined("SELECT id, count(*) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e " +
        "WHERE e.type = 'SEASON' GROUP BY id"))).filter(r => Seq("EP3", "EP4", "EP5").exists(id => r.startsWith(s"[$id,")))
      === Seq("[EP3,null,null]", "[EP4,EP4,null]", "[EP5,EP9,null]"))
  }

  test("explode + GROUP BY is left alone under an INNER JOIN, at the top, when the key is read, " +
    "for avg, for a join on a non-key column, and for an outer explode") {
    val max = "SELECT id, max(e.ref) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e GROUP BY id"
    Seq(
      leftJoined(max, join = "JOIN"),
      max,
      leftJoined(max, cols = "k.id AS kid, k.v"),
      leftJoined("SELECT id, avg(e.n) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e GROUP BY id"),
      leftJoined(max, on = "b.other = k.v"),
      leftJoined("SELECT id, max(e.ref) AS v FROM fr_poms LATERAL VIEW OUTER explode(kids) t AS e GROUP BY id")
    ).foreach { sql =>
      assert(generates(sameRows(sql).queryExecution.optimizedPlan) === 1, sql)
    }
  }

  private val fourBranches =
    """SELECT b.id, season.v AS season, series.v AS series, ep.v AS n_kids, tg.v AS tags
      |FROM fr_base b
      |LEFT JOIN (SELECT id, min(e.ref) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e
      |           WHERE e.type = 'SEASON' GROUP BY id) season ON season.id = b.id
      |LEFT JOIN (SELECT id, min(e.ref) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e
      |           WHERE e.type = 'SERIES' GROUP BY id) series ON series.id = b.id
      |LEFT JOIN (SELECT id, count(*) AS v FROM fr_poms LATERAL VIEW explode(kids) t AS e
      |           GROUP BY id) ep ON ep.id = b.id
      |LEFT JOIN (SELECT id, array_join(array_sort(collect_list(x)), ',') AS v
      |           FROM fr_poms LATERAL VIEW explode(tags) t AS x GROUP BY id) tg ON tg.id = b.id""".stripMargin

  test("sibling aggregates LEFT-joined on their key to one parent become one aggregate and one join") {
    val fused = sameRows(fourBranches).queryExecution.optimizedPlan
    assert(scansOf(fused, "fusion-rules") === 1)
    assert(fused.collect { case a: Aggregate => a }.size === 1)
    // Without explodes: a branch's own filter becomes a FILTER clause, and
    // its count reads NULL where no row passes it, as its missing group did.
    val flat =
      """SELECT b.id, a.n, a.m, s.r FROM fr_base b
        |LEFT JOIN (SELECT id, count(*) AS n, max(ref) AS m FROM fr_refs_pq WHERE typ = 'SEASON'
        |           GROUP BY id) a ON b.id = a.id
        |LEFT JOIN (SELECT id, max(ref) AS r FROM fr_refs_pq WHERE typ = 'SERIES' GROUP BY id) s
        |  ON b.id = s.id""".stripMargin
    val df = sameRows(flat)
    assert(df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size === 1)
    assert(rows(df).contains("[EP3,null,null,R3]"))
  }

  test("sibling aggregates are left apart on different parent columns, an INNER join, a read key " +
    "or a different grouping") {
    val a = "SELECT id, count(*) AS n FROM fr_refs_pq WHERE typ = 'SEASON' GROUP BY id"
    val s = "SELECT id, max(ref) AS r FROM fr_refs_pq WHERE typ = 'SERIES' GROUP BY id"
    val g = "SELECT other AS id, max(ref) AS r FROM fr_refs_pq GROUP BY other"
    Seq(
      s"SELECT b.id, x.n, y.r FROM fr_base b LEFT JOIN ($a) x ON b.id = x.id LEFT JOIN ($s) y ON b.other = y.id",
      s"SELECT b.id, x.n, y.r FROM fr_base b JOIN ($a) x ON b.id = x.id LEFT JOIN ($s) y ON b.id = y.id",
      s"SELECT b.id, x.id AS xid, x.n, y.r FROM fr_base b LEFT JOIN ($a) x ON b.id = x.id LEFT JOIN ($s) y ON b.id = y.id",
      s"SELECT b.id, x.n, y.r FROM fr_base b LEFT JOIN ($a) x ON b.id = x.id LEFT JOIN ($g) y ON b.id = y.id"
    ).foreach { sql =>
      assert(sameRows(sql).queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size === 2, sql)
    }
  }

  private def truncJoin(unit: String = "HOUR", events: String = "fr_ev_window",
                        join: String = "LEFT JOIN", flipped: Boolean = false): String = {
    val shows = "(SELECT DISTINCT ch, m FROM fr_shows LATERAL VIEW explode(sequence(b, e, interval 1 hour)) t AS m)"
    if (!flipped) s"SELECT e.ts, e.ch, s.m FROM $events e $join $shows s ON e.ch = s.ch AND date_trunc('$unit', e.ts) = s.m"
    else s"SELECT e.ts, s.ch, s.m FROM $shows s $join $events e ON e.ch = s.ch AND date_trunc('$unit', e.ts) = s.m"
  }

  test("date_trunc(u <= DAY, a) = b carries a's date filter to b's side, below its DISTINCT") {
    q("""SELECT * FROM fr_ev WHERE CAST(CAST(ts AS DATE) AS STRING) IN ('2021-01-02', '2021-01-03')""")
      .createOrReplaceTempView("fr_ev_window")
    Seq(truncJoin(), truncJoin("MINUTE"), truncJoin("DAY"), truncJoin(join = "JOIN"),
      truncJoin(join = "LEFT SEMI JOIN").replace("s.m FROM", "e.ts AS m FROM").replace(", s.m", "")
    ).foreach { sql =>
      val plan = sameRows(sql).queryExecution.optimizedPlan
      assert(dateFilterOn(plan, "m"), sql)
      // The filter sits between the densify and the DISTINCT.
      assert(plan.collect { case Aggregate(_, _, Filter(_, _: Generate), _) => true }.nonEmpty, sql)
    }
    // The window's event with no show keeps its row.
    assert(rows(q(truncJoin())) === Seq("[2021-01-02 05:00:00.0,NPO2,null]",
      "[2021-01-02 10:15:30.0,NPO1,2021-01-02 10:00:00.0]",
      "[2021-01-03 23:59:00.0,NPO1,2021-01-03 23:00:00.0]"))
  }

  test("no date filter is inferred for WEEK or MONTH, another time zone, a preserved side, " +
    "a FULL OUTER join, or a constraint that reads the column other than through a date cast") {
    q("""SELECT * FROM fr_ev WHERE CAST(CAST(ts AS DATE) AS STRING) IN ('2021-01-02', '2021-01-03')""")
      .createOrReplaceTempView("fr_ev_window")
    q("SELECT * FROM fr_ev WHERE ts >= TIMESTAMP '2021-01-02 00:00:00'").createOrReplaceTempView("fr_ev_after")
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try q("""SELECT * FROM fr_ev WHERE CAST(CAST(ts AS DATE) AS STRING) IN ('2021-01-02', '2021-01-03')""")
      .createOrReplaceTempView("fr_ev_ny")
    finally spark.conf.set("spark.sql.session.timeZone", zone)
    Seq(truncJoin("WEEK"), truncJoin("MONTH"), truncJoin(events = "fr_ev_ny"),
      truncJoin(flipped = true), truncJoin(join = "FULL OUTER JOIN"), truncJoin(events = "fr_ev_after")
    ).foreach { sql =>
      assert(!dateFilterOn(sameRows(sql).queryExecution.optimizedPlan, "m"), sql)
    }
  }

  test("the text streams model plans neither descendants nor channel window, nor the per-stream distinct") {
    NpoParquet.ensure(spark)
    val m = SqlReporting.project(NpoFixtures.today, spark)
      .model("atinternet_smarttag_streams_daily_v4")
    def build() = m.build(spark, m.refs.map(r => r -> spark.read.parquet(
      if (SqlReporting.allNames.contains(r)) NpoParquet.model(r)
      else NpoParquet.src(NpoFixtures.physicalAliases.getOrElse(r, r)))).toMap)
    assert(registered)
    val df = build()
    val plan = df.queryExecution.optimizedPlan
    val windowKeys = rowNumberWindows(plan).flatMap(_.partitionSpec.collect {
      case a: Attribute => a.name
    })
    // Only the livestream as-of dedup window is left.
    assert(!windowKeys.contains("id"), windowKeys)
    assert(windowKeys.contains("d_rm_playid"), windowKeys)
    // COUNT(DISTINCT unique_user_id) per date stays; the per-stream
    // COUNT(DISTINCT CASE ... d_rm_playid END) is gone.
    assert(distinctCounts(plan) === 1)
    // The five metadata branches are one aggregate: POMS is read by the
    // base and by that aggregate, and only the minute densify explodes.
    assert(scansOf(plan, "audiovisual_metadata_poms_metadata_v1") === 2)
    val gens = plan.collect { case g: Generate => g }
    assert(gens.size === 1 && gens.head.generator.sql.contains("sequence"), gens)
    assert(df.queryExecution.sparkPlan.collect { case a: SortAggregateExec => a }.isEmpty)
    // The nine window dates filter the densified minutes below the DISTINCT.
    val window = (0 to 8).map(d => NpoFixtures.today.toLocalDate.minusDays(d).toString)
    val densifyFilter = plan.collect { case Filter(c, _: Generate) => c.sql }
    assert(densifyFilter.size === 1 && window.forall(d => densifyFilter.head.contains(s"'$d'")),
      densifyFilter)
    // Rows: EXCEPT ALL both ways against the same build without the rules.
    // Building registers the rules, so they are taken out after it and
    // before the plan is optimized.
    val u = build()
    val exp = spark.experimental
    val saved = exp.extraOptimizations
    exp.extraOptimizations = saved.filterNot(FusionRules.rules.contains)
    val unfused = try {
      assert(generates(u.queryExecution.optimizedPlan) === 6)
      spark.createDataFrame(spark.sparkContext.parallelize(u.collect().toSeq), u.schema)
    } finally exp.extraOptimizations = saved
    assert(unfused.count() > 0)
    assert(df.exceptAll(unfused).isEmpty && unfused.exceptAll(df).isEmpty)
  }
}
