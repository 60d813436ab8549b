package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{DagRunner, Ephemeral, SqlModel, Table}
import graft.models.SqlReporting
import graft.models.testkit.NpoFixtures

/** The SQL-text model frontend: templating, `is_incremental()` /
  * `{{ this }}`, config headers and conditionals, down to a re-authoring
  * of the reference's incremental streams model (the `dag_*` DuckDB
  * oracle rows pin the text models themselves end-to-end).
  */
class SqlModelSpec extends SparkSpec {

  // ---- templating -------------------------------------------------------

  test("extractRefs finds ref() and source() names in first-appearance order, deduplicated") {
    val sql = """SELECT * FROM {{ ref('b_model') }} JOIN {{ source('raw', 'events') }}
                |JOIN {{ ref('a_model') }} JOIN {{ ref('b_model') }}""".stripMargin
    assert(SqlModel.extractRefs(sql) === Seq("b_model", "events", "a_model"))
  }

  test("fromSqlText builds a runnable model: refs become temp views, vars substitute, config strips") {
    import spark.implicits._
    val m = SqlModel.fromSqlText("doubled",
      """{{ config(materialized='view') }}
        |SELECT id * 2 AS id2 FROM {{ ref('base') }} WHERE id <= {{ var('cap') }}""".stripMargin,
      vars = Map("cap" -> "2"))
    assert(m.refs === Seq("base"))
    val out = m.build(spark, Map("base" -> Seq(1, 2, 3).toDF("id")))
    assert(out.as[Long].collect().sorted === Array(2L, 4L))
  }

  test("a ref name that is not a legal identifier is sanitized into the view name") {
    import spark.implicits._
    val m = SqlModel.fromSqlText("odd",
      "SELECT count(*) AS n FROM {{ ref('360_graden-rapportage.tbl') }}")
    assert(m.refs === Seq("360_graden-rapportage.tbl"))
    val out = m.build(spark, Map("360_graden-rapportage.tbl" -> Seq(1, 2).toDF("x")))
    assert(out.head().getLong(0) === 2L)
  }

  test("an unbound var fails at parse time with the bound names listed") {
    val e = intercept[IllegalArgumentException] {
      SqlModel.fromSqlText("m", "SELECT {{ var('missing') }}", vars = Map("today" -> "1"))
    }
    assert(e.getMessage.contains("missing") && e.getMessage.contains("today"))
  }

  test("{% set %} list + | join interpolation renders like the reference's incremental model") {
    import spark.implicits._
    val m = SqlModel.fromSqlText("windowed",
      """{% set days = [
        |    'CAST({{ var("today") }} AS STRING)',
        |    'CAST(date_sub({{ var("today") }}, 1) AS STRING)'
        |] %}
        |{{ config(materialized='incremental') }}
        |SELECT d FROM {{ ref('base') }}
        |WHERE d IN ({{ days | join(',') }})""".stripMargin,
      vars = Map("today" -> "DATE '2021-01-20'"))
    val base = Seq("2021-01-18", "2021-01-19", "2021-01-20").toDF("d")
    val out = m.build(spark, Map("base" -> base))
    assert(out.as[String].collect().sorted === Array("2021-01-19", "2021-01-20"))
  }

  test("a join over an undefined list fails at parse time with the defined names listed") {
    val e = intercept[IllegalArgumentException] {
      SqlModel.fromSqlText("m",
        "{% set known = ['a'] %}\nSELECT {{ missing | join(',') }}")
    }
    assert(e.getMessage.contains("missing") && e.getMessage.contains("known"))
  }

  test("extractSetLists strips the block and keeps raw items (var calls intact)") {
    val (lists, rest) = SqlModel.extractSetLists(
      "{% set xs = [ 'a', '{{ var(\"t\") }}' ] %}\nSELECT 1")
    assert(lists === Map("xs" -> Seq("a", "{{ var(\"t\") }}")))
    assert(rest.trim === "SELECT 1")
  }

  test("{% macro %}: positional, keyword, and defaulted args expand; quoted args pass content") {
    import spark.implicits._
    val m = SqlModel.fromSqlText("dollars",
      """{% macro cents_to_dollars(column_name, scale=2) %}
        |round({{ column_name }} / 100.0, {{ scale }})
        |{% endmacro %}
        |SELECT {{ cents_to_dollars('amt') }} AS d2,
        |       {{ cents_to_dollars('amt', scale=0) }} AS d0
        |FROM {{ ref('pay') }} ORDER BY d2""".stripMargin)
    val out = m.build(spark, Map("pay" -> Seq(1234L).toDF("amt")))
    val r = out.selectExpr("cast(d2 AS double)", "cast(d0 AS double)").head()
    assert(r.getDouble(0) === 12.34)
    assert(r.getDouble(1) === 12.0)
  }

  test("macro bodies may call ref()/var(): refs contribute DAG edges, vars bind at parse") {
    import spark.implicits._
    val m = SqlModel.fromSqlText("via_macro",
      """{% macro recent(rel) %}
        |(SELECT * FROM {{ rel }} WHERE id > {{ var('min_id') }})
        |{% endmacro %}
        |SELECT id FROM {{ recent(ref('events')) }} ORDER BY id""".stripMargin,
      vars = Map("min_id" -> "1"))
    assert(m.refs === Seq("events"),
      "a ref() introduced by macro expansion must appear as a DAG edge")
    val out = m.build(spark, Map("events" -> Seq(1, 2, 3).toDF("id")))
    assert(out.as[Int].collect().sorted === Array(2, 3))
  }

  test("project-level macros (dbt macros/ dir) expand in any model; macros can call macros") {
    import spark.implicits._
    val projectMacros =
      """{% macro safe_div(n, d) %}CASE WHEN {{ d }} = 0 THEN NULL ELSE {{ n }} / {{ d }} END{% endmacro %}
        |{% macro pct(n, d) %}round(100.0 * {{ safe_div(n, d) }}, 1){% endmacro %}""".stripMargin
    val m = SqlModel.fromSqlText("rates",
      "SELECT {{ pct('hits', 'total') }} AS rate FROM {{ ref('t') }} ORDER BY rate NULLS FIRST",
      macros = projectMacros)
    val out = m.build(spark, Map("t" -> Seq((3L, 4L), (1L, 0L)).toDF("hits", "total")))
    assert(out.collect().map(r => Option(r.get(0))).toSeq === Seq(None, Some(75.0)))
  }

  test("ref('m', v=N) pins a model version; the versioned node name flows into refs and views") {
    import spark.implicits._
    val m = SqlModel.fromSqlText("versioned_mart",
      "SELECT x FROM {{ ref('dim', v=2) }} ORDER BY x")
    assert(m.refs === Seq("dim.v2"))
    val out = m.build(spark, Map("dim.v2" -> Seq(10, 20).toDF("x")))
    assert(out.as[Int].collect().toSeq === Seq(10, 20))
  }

  test("writeCompiled dumps each SQL-text model's rendered SQL (dbt compile analog)") {
    import java.nio.file.Files
    val m1 = SqlModel.fromSqlText("cmp_model",
      "SELECT x FROM {{ ref('up') }} WHERE x > {{ var('cap') }}", vars = Map("cap" -> "5"))
    val scalaModel = graft.engine.Model("scala_only", Nil, (s, _) => s.range(1).toDF("x"))
    val dir = Files.createTempDirectory("graft-compiled").toString
    val written = DagRunner.writeCompiled(spark, Seq(m1, scalaModel), dir)
    assert(written.keySet === Set("cmp_model"), "Scala builders have no SQL form")
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/cmp_model.sql")), "UTF-8")
    assert(body === "SELECT x FROM graft_ref_up WHERE x > 5",
      "compiled text must be fully rendered: ref -> view name, var substituted")
  }

  test("config header declares materialization and routing (dbt: the file is the declaration)") {
    import java.nio.file.Files
    val text = """{{ config(materialized='table', schema='marts', database='analytics') }}
                 |SELECT 1 AS one""".stripMargin
    val m = SqlModel.fromSqlText("routed", text)
    assert(m.materialization === Table)
    assert(m.schema === Some("marts") && m.database === Some("analytics"))
    // It actually lands at the routed warehouse path.
    val wh = Files.createTempDirectory("graft-hdrmat").toString
    DagRunner.run(spark, Seq(m), n => fail(s"unexpected $n"), wh)
    assert(new java.io.File(s"$wh/analytics/marts/routed").exists())
    // An explicit caller arg that CONTRADICTS the header is a drift bug.
    val e = intercept[IllegalArgumentException](
      SqlModel.fromSqlText("drift", text, materialization = Ephemeral))
    assert(e.getMessage.contains("materialized='table'"))
    // Caller-passed routing wins over the header (engine override point).
    assert(SqlModel.fromSqlText("ovr", text, schema = Some("dev")).schema === Some("dev"))
    // An ephemeral header parses too.
    assert(SqlModel.fromSqlText("eph",
      "{{ config(materialized='ephemeral') }} SELECT 2 AS two").materialization === Ephemeral)
  }

  test("{% for %} over a set list stamps out pivot columns with the loop.last separator idiom") {
    import spark.implicits._
    val m = SqlModel.fromSqlText("pivoted",
      """{% set flags = [ 'A', 'N', 'R' ] %}
        |SELECT
        |{% for f in flags %}  sum(CASE WHEN flag = '{{ f }}' THEN qty ELSE 0 END) AS q{{ loop.index }}_{{ f }}{{ ',' if not loop.last }}
        |{% endfor %}
        |FROM {{ ref('li') }}""".stripMargin)
    val li = Seq(("A", 1L), ("A", 2L), ("R", 10L)).toDF("flag", "qty")
    val out = m.build(spark, Map("li" -> li))
    assert(out.columns.toSeq === Seq("q1_A", "q2_N", "q3_R"),
      "loop.index and the loop variable must both substitute per iteration")
    assert(out.head() === org.apache.spark.sql.Row(3L, 0L, 10L))
    val e = intercept[IllegalArgumentException](SqlModel.fromSqlText("bad",
      "{% for x in nolist %}{{ x }}{% endfor %} SELECT 1"))
    assert(e.getMessage.contains("nolist"))
  }

  test("{% for %} iterates a list-valued var(), in both quoted and bare-YAML shapes") {
    import spark.implicits._
    def pivot(varValue: String): Seq[String] = {
      val m = SqlModel.fromSqlText("vloop",
        """SELECT
          |{% for f in var('flags') %}  sum(CASE WHEN flag = '{{ f }}' THEN qty ELSE 0 END) AS q_{{ f }}{{ "," if not loop.last }}
          |{% endfor %}
          |FROM {{ ref('li') }}""".stripMargin,
        vars = Map("flags" -> varValue))
      val li = Seq(("A", 1L), ("R", 10L)).toDF("flag", "qty")
      m.build(spark, Map("li" -> li)).columns.toSeq
    }
    // --vars CLI shape (quoted Jinja list) and dbt_project.yml YAML list
    // shape (String.valueOf of a java List: bare, unquoted items).
    assert(pivot("['A', 'R']") === Seq("q_A", "q_R"))
    assert(pivot("[A, R]") === Seq("q_A", "q_R"))
    val e1 = intercept[IllegalArgumentException](pivot("not_a_list"))
    assert(e1.getMessage.contains("is not a list"))
    val e2 = intercept[IllegalArgumentException](SqlModel.fromSqlText("vloop2",
      "{% for f in var('nope') %}{{ f }}{% endfor %} SELECT 1"))
    assert(e2.getMessage.contains("unbound var 'nope'"))
  }

  test("{% for %} nests inside {% if %} branches; unterminated and nested loops fail loudly") {
    import spark.implicits._
    // Control flow expands top-down: a loop inside a dropped branch
    // never renders (and its list need not even exist); inside a kept
    // branch it stamps out per-item columns.
    val text =
      """{% set flags = [ 'A', 'R' ] %}
        |SELECT
        |{% if var('wide') == 'yes' %}
        |{% for f in flags %}  sum(CASE WHEN flag = '{{ f }}' THEN qty ELSE 0 END) AS q_{{ f }}{{ ',' if not loop.last }}
        |{% endfor %}
        |{% else %}
        |  count(*) AS n
        |{% endif %}
        |FROM {{ ref('li') }}""".stripMargin
    val li = Seq(("A", 1L), ("R", 10L)).toDF("flag", "qty")
    val wide = SqlModel.fromSqlText("forif", text, vars = Map("wide" -> "yes"))
      .build(spark, Map("li" -> li))
    assert(wide.columns.toSeq === Seq("q_A", "q_R"))
    val narrow = SqlModel.fromSqlText("forif2", text, vars = Map("wide" -> "no"))
      .build(spark, Map("li" -> li))
    assert(narrow.columns.toSeq === Seq("n"))
    val e1 = intercept[IllegalArgumentException](SqlModel.fromSqlText("unterm",
      "{% set xs = ['a'] %} {% for x in xs %}{{ x }} SELECT 1"))
    assert(e1.getMessage.contains("unbalanced"))
    val e2 = intercept[IllegalArgumentException](SqlModel.fromSqlText("nested",
      """{% set xs = ['a'] %}{% set ys = ['b'] %}
        |{% for x in xs %}{% for y in ys %}{{ x }}{{ y }}{% endfor %}{% endfor %} SELECT 1""".stripMargin))
    assert(e2.getMessage.contains("unbalanced"))
  }

  test("run-operation invokes a macro standalone with keyword args (dbt run-operation)") {
    val macros =
      """{% macro snapshot_count(rel, tag='op') %}
        |SELECT '{{ tag }}' AS tag, count(*) AS n FROM {{ rel }}
        |{% endmacro %}""".stripMargin
    spark.range(7).toDF("x").createOrReplaceTempView("op_probe")
    val out = SqlModel.runOperation(spark, macros, "snapshot_count",
      Map("rel" -> "op_probe"))
    val r = out.head()
    assert((r.getString(0), r.getLong(1)) === ("op", 7L))
    val e = intercept[IllegalArgumentException](
      SqlModel.runOperation(spark, macros, "nope"))
    assert(e.getMessage.contains("snapshot_count"), "error must list defined macros")
  }

  test("macro misuse fails loudly: recursion, reserved names, bad args") {
    val rec = intercept[IllegalArgumentException](SqlModel.fromSqlText("r",
      "{% macro loop(x) %}{{ loop(x) }}{% endmacro %} SELECT {{ loop('1') }}"))
    assert(rec.getMessage.contains("recursive"))
    val shadow = intercept[IllegalArgumentException](SqlModel.fromSqlText("s",
      "{% macro ref(x) %}{{ x }}{% endmacro %} SELECT 1"))
    assert(shadow.getMessage.contains("shadows"))
    val missing = intercept[IllegalArgumentException](SqlModel.fromSqlText("m",
      "{% macro two(a, b) %}{{ a }}{{ b }}{% endmacro %} SELECT {{ two('1') }}"))
    assert(missing.getMessage.contains("missing required arg 'b'"))
    val badKw = intercept[IllegalArgumentException](SqlModel.fromSqlText("k",
      "{% macro one(a) %}{{ a }}{% endmacro %} SELECT {{ one(nope='1') }}"))
    assert(badKw.getMessage.contains("unknown keyword arg"))
  }

  test("SQL-text models participate in DagRunner cycle detection") {
    val a = SqlModel.fromSqlText("a", "SELECT * FROM {{ ref('b') }}")
    val b = SqlModel.fromSqlText("b", "SELECT * FROM {{ ref('a') }}")
    val e = intercept[IllegalArgumentException] { DagRunner.topoSort(Seq(a, b)) }
    assert(e.getMessage.contains("cycle"))
  }

  private lazy val fixtures = NpoFixtures.all(spark)

  private def tmpWh(): String =
    java.nio.file.Files.createTempDirectory("graft_sqlwh").toFile.getAbsolutePath

  private def assertFrameEqual(name: String, sql: DataFrame, scala: DataFrame): Unit = {
    assert(sql.columns.toSeq === scala.columns.toSeq,
      s"$name: SQL-text column names/order must match the compiled builder")
    val order = sql.columns.map(c => col(c).asc_nulls_first)
    val a = sql.orderBy(order: _*).collect()
    val b = scala.orderBy(order: _*).collect()
    assert(a.length === b.length, s"$name: row count differs")
    a.zip(b).zipWithIndex.foreach { case ((ra, rb), i) =>
      (0 until ra.length).foreach { j =>
        (ra.get(j), rb.get(j)) match {
          case (x: Double, y: Double) =>
            assert(x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)),
              s"$name row $i col ${sql.columns(j)}: $x != $y")
          case (x, y) =>
            assert(x === y, s"$name row $i col ${sql.columns(j)}: $x != $y")
        }
      }
    }
  }

  // ---- is_incremental() / {{ this }} ------------------------------------

  test("config(tags=...) surfaces as Model.tags in both list and single-string form") {
    val listForm = SqlModel.fromSqlText("t1",
      "{{ config(materialized='view', tags=['nightly', 'pii']) }}\nSELECT 1 AS x")
    assert(listForm.tags === Set("nightly", "pii"))
    val single = SqlModel.fromSqlText("t2",
      "{{ config(tags='hourly') }}\nSELECT 1 AS x")
    assert(single.tags === Set("hourly"))
    val none = SqlModel.fromSqlText("t3",
      "{{ config(materialized='table') }}\nSELECT 1 AS x")
    assert(none.tags === Set.empty)
    // selectable through the DAG selector's tag: method
    val picked = DagRunner.select(Seq(listForm, single, none), "tag:pii")
    assert(picked.map(_.name) === Seq("t1"))
  }

  test("config pre_hook/post_hook parse into Model hooks and fire around the build") {
    Seq("sm_pre", "sm_post").foreach(v => spark.sql(s"DROP VIEW IF EXISTS $v"))
    val m = SqlModel.fromSqlText("sm_hooked",
      """{{ config(materialized='table',
        |   pre_hook='CREATE TEMP VIEW sm_pre AS SELECT 7 AS a',
        |   post_hook=['CREATE TEMP VIEW sm_post AS SELECT a FROM sm_pre']) }}
        |SELECT 1 AS x""".stripMargin,
      materialization = Table)
    assert(m.preHooks === Seq("CREATE TEMP VIEW sm_pre AS SELECT 7 AS a"))
    assert(m.postHooks.size === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-smhooks").toFile.getAbsolutePath
    DagRunner.run(spark, Seq(m), n => fail(s"unexpected $n"), dir)
    assert(spark.table("sm_post").head().getInt(0) === 7)
  }

  test("renderConditionals: branch choice, optional else, and {{ this }} substitution") {
    val t = "SELECT * FROM x {% if is_incremental() %}WHERE d > " +
      "(SELECT max(d) FROM {{ this }}){% else %}/* full */{% endif %}"
    assert(SqlModel.renderConditionals(t, incremental = false, None).contains("/* full */"))
    val inc = SqlModel.renderConditionals(t, incremental = true, Some("/wh/m"))
    assert(inc.contains("FROM parquet.`/wh/m`"))
    assert(!inc.contains("full"))
    // no else branch -> empty on a full build
    assert(SqlModel.renderConditionals(
      "SELECT 1{% if is_incremental() %} WHERE b{% endif %}", incremental = false, None)
      === "SELECT 1")
    // {{ this }} without a target path fails loudly, not with a parser error
    intercept[IllegalArgumentException] {
      SqlModel.renderConditionals(t, incremental = true, None)
    }
  }

  test("is_incremental() end-to-end: first run full, later runs delta-only vs the {{ this }} watermark") {
    import spark.implicits._
    val wh = tmpWh()
    val text = """SELECT d, v FROM {{ ref('ev') }}
                 |{% if is_incremental() %}WHERE d > (SELECT max(d) FROM {{ this }}){% endif %}""".stripMargin
    val model = SqlModel.fromSqlText("inc_ev", text,
      materialization = graft.engine.MergeUpsert("d", "d"))
    def readBack(): Map[String, Int] =
      spark.read.parquet(s"$wh/main/main/inc_ev")
        .select("d", "v").as[(String, Int)].collect().toMap
    val run1 = Seq(("a", 1), ("b", 2)).toDF("d", "v")
    DagRunner.run(spark, Seq(model), Map("ev" -> run1).apply, wh)
    assert(readBack() === Map("a" -> 1, "b" -> 2), "first run (no target) builds the full branch")
    // Second run: 'a' CHANGED upstream and 'c' is new. The delta branch
    // (d > watermark 'b') must pick ONLY c — 'a' keeping its old value
    // is the proof the conditional really rendered the incremental arm.
    val run2 = Seq(("a", 99), ("b", 2), ("c", 3)).toDF("d", "v")
    DagRunner.run(spark, Seq(model), Map("ev" -> run2).apply, wh)
    assert(readBack() === Map("a" -> 1, "b" -> 2, "c" -> 3),
      "incremental run must apply only rows past the {{ this }} watermark")
    // --full-refresh analog: the conf forces the full branch, so the
    // changed 'a' is finally picked up.
    spark.conf.set("spark.graft.fullRefresh", "true")
    try DagRunner.run(spark, Seq(model), Map("ev" -> run2).apply, wh)
    finally spark.conf.unset("spark.graft.fullRefresh")
    assert(readBack() === Map("a" -> 99, "b" -> 2, "c" -> 3))
  }

  test("streams_daily re-authored in the is_incremental() style builds identically once the target exists") {
    val text = java.nio.file.Files.readString(SqlReporting.projectDir.resolve(
      "models/datamarts/npo-data-hub/intermediary/atinternet_smarttag_streams_daily_v4.sql"))
    val guard =
      "AND CAST(CAST(r.d_date_hour_event AS DATE) AS STRING) IN ({{ partitions_to_replace | join(',') }})"
    assert(text.contains(guard), "the static partition filter must be present to re-author")
    // The real-dbt authoring of the same model: the partition window
    // filter applies only on incremental runs; a first run (or
    // --full-refresh) builds every partition.
    val reauthored = text.replace(guard, s"{% if is_incremental() %}$guard{% endif %}")
    assert(reauthored != text)
    val today = NpoFixtures.today
    val vars = Map("today" -> s"DATE '$today'")
    val proj = SqlReporting.project(today, spark)
    val streams = proj.model("atinternet_smarttag_streams_daily_v4")
    def mk(t: String) = SqlModel.fromSqlText(streams.name, t, streams.materialization,
      schema = streams.schema, database = streams.database, vars = vars)
    val wh = tmpWh()
    val upstream = DagRunner.withLazyUpstreams(proj.models, Seq(streams))
      .filterNot(_.name == streams.name)
    // Run 1: the ORIGINAL text seeds the warehouse target. Snapshot the
    // rows eagerly — run 2's insert_overwrite replaces the files this
    // lazy frame reads.
    val first = DagRunner.run(spark, upstream :+ mk(text),
      NpoFixtures.resolveProject(fixtures), wh)
    val firstDf = first("atinternet_smarttag_streams_daily_v4")
    val snapshot = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(firstDf.collect(): _*)),
      firstDf.schema)
    // Run 2: the re-authored text against the now-existing target — the
    // incremental branch renders the identical partition filter, so the
    // insert_overwrite replay must leave a frame-identical table.
    val second = DagRunner.run(spark, upstream :+ mk(reauthored),
      NpoFixtures.resolveProject(fixtures), wh)
    assertFrameEqual("streams_daily is_incremental re-authoring",
      second("atinternet_smarttag_streams_daily_v4"), snapshot)
  }

  // ---- general {% if %}/{% elif %}/{% else %} conditionals ---------------

  test("{% if var(...) %}/{% elif %}/{% else %} switches branches; fingerprint tracks the choice") {
    import spark.implicits._
    val text =
      """SELECT id,
        |{% if var('mode') == 'double' %}
        |  id * 2 AS v
        |{% elif var('mode') == 'triple' %}
        |  id * 3 AS v
        |{% else %}
        |  id AS v
        |{% endif %}
        |FROM {{ ref('base') }}""".stripMargin
    def mk(mode: String) = SqlModel.fromSqlText("branched", text, vars = Map("mode" -> mode))
    val base = Seq(1L, 2L).toDF("id")
    assert(mk("double").build(spark, Map("base" -> base))
      .select("v").as[Long].collect().sorted === Array(2L, 4L))
    assert(mk("triple").build(spark, Map("base" -> base))
      .select("v").as[Long].collect().sorted === Array(3L, 6L))
    assert(mk("off").build(spark, Map("base" -> base))
      .select("v").as[Long].collect().sorted === Array(1L, 2L))
    // Fingerprint: stable for the same var, different across branches —
    // a var that flips a branch modifies the model (state:modified).
    assert(mk("double").fingerprint === mk("double").fingerprint)
    assert(mk("double").fingerprint !== mk("triple").fingerprint)
  }

  test("condition grammar: and/or/not, defaults, truthiness, target.name, nesting") {
    import graft.engine.SqlModel.{evalCond => ec}
    val vars = Map("region" -> "eu", "n" -> "3")
    assert(ec("var('region') == 'eu'", vars, "dev"))
    assert(!ec("var('region') != 'eu'", vars, "dev"))
    assert(ec("var('region') == 'eu' and target.name == 'prod'", vars, "prod"))
    assert(!ec("var('region') == 'eu' and target.name == 'prod'", vars, "dev"))
    assert(ec("var('region') == 'us' or var('n') == '3'", vars, "dev"))
    assert(ec("not var('region') == 'us'", vars, "dev"))
    assert(ec("(var('region') == 'us' or true) and not false", vars, "dev"))
    // var defaults: unbound with default evaluates the default; the
    // default may be none/true/false/string/number.
    assert(!ec("var('flag', false)", vars, "dev"))
    assert(ec("var('flag', true)", vars, "dev"))
    assert(!ec("var('flag', none)", vars, "dev"))
    assert(ec("var('flag', 'x') == 'x'", vars, "dev"))
    // Bound var wins over the default; raw-string truthiness.
    assert(ec("var('region', 'us') == 'eu'", vars, "dev"))
    assert(ec("var('region')", vars, "dev"))
    // Unbound var without default throws with the bound names listed.
    val e = intercept[IllegalArgumentException](ec("var('missing')", vars, "dev"))
    assert(e.getMessage.contains("missing") && e.getMessage.contains("region"))
    // Strict cross-type equality (Jinja: '1' == 1 is false).
    assert(!ec("var('n') == 3", vars, "dev"))
    // Nested blocks: inner conditional inside the taken outer branch.
    val nested = SqlModel.expandIfBlocks(
      """{% if var('a') == '1' %}A{% if target.name == 'prod' %}P{% else %}D{% endif %}{% else %}B{% endif %}""",
      Map("a" -> "1"), "prod")
    assert(nested === "AP")
  }

  test("a ref inside a dropped branch contributes no DAG edge; {% set %} in a dropped branch never binds") {
    import spark.implicits._
    val text =
      """SELECT count(*) AS n FROM {{ ref('live') }}
        |{% if var('join_dead', false) %}
        |JOIN {{ ref('dead') }} USING (id)
        |{% endif %}""".stripMargin
    val m = SqlModel.fromSqlText("pruned", text)
    assert(m.refs === Seq("live"))
    assert(m.build(spark, Map("live" -> Seq(1, 2).toDF("id"))).head().getLong(0) === 2L)
    val both = SqlModel.fromSqlText("joined", text, vars = Map("join_dead" -> "true"))
    assert(both.refs === Seq("live", "dead"))
  }

  test("is_incremental() blocks survive parse-time expansion and still resolve at build time") {
    // A var-conditional nested INSIDE an is_incremental block resolves
    // at parse time; the is_incremental wrapper itself re-emits for the
    // build-time pass.
    val text =
      """SELECT * FROM {{ ref('src') }}
        |{% if is_incremental() %}
        |WHERE v > {% if var('strict', false) %}10{% else %}0{% endif %}
        |{% endif %}""".stripMargin
    val expanded = SqlModel.expandIfBlocks(text, Map.empty, "dev")
    assert(expanded.contains("{% if is_incremental() %}"))
    assert(expanded.contains("WHERE v > 0") && !expanded.contains("10"))
    // Combined conditions with is_incremental() fail loudly — it is a
    // build-time construct and cannot mix with parse-time atoms.
    val e = intercept[IllegalArgumentException](SqlModel.expandIfBlocks(
      "{% if is_incremental() and var('x', true) %}A{% endif %}", Map.empty, "dev"))
    assert(e.getMessage.contains("is_incremental"))
  }

  test("env_var(): substitution, default-argument form, missing-var error, condition use") {
    // A variable that exists in this process' environment renders its
    // value verbatim (HOME is set in any sane test environment).
    val (k, v) = sys.env.find(_._1 == "HOME").getOrElse(sys.env.head)
    assert(SqlModel.substituteEnvVars(s"SELECT '{{ env_var('$k') }}' AS h") ===
      s"SELECT '$v' AS h")
    // Missing + default → the default renders (dbt's second argument).
    assert(SqlModel.substituteEnvVars(
      "SELECT '{{ env_var(\"GRAFT_DEFINITELY_UNSET\", \"fallback\") }}' AS r") ===
      "SELECT 'fallback' AS r")
    // Missing + no default = dbt's compilation error.
    val e = intercept[IllegalArgumentException](
      SqlModel.substituteEnvVars("{{ env_var('GRAFT_DEFINITELY_UNSET') }}"))
    assert(e.getMessage.contains("GRAFT_DEFINITELY_UNSET") &&
      e.getMessage.contains("no default"))
    // env_var works in {% if %} conditions with the same semantics.
    assert(SqlModel.evalCond(s"env_var('$k') == '$v'", Map.empty, "dev"))
    assert(SqlModel.evalCond(
      "env_var('GRAFT_DEFINITELY_UNSET', 'x') == 'x'", Map.empty, "dev"))
    val ce = intercept[IllegalArgumentException](
      SqlModel.evalCond("env_var('GRAFT_DEFINITELY_UNSET')", Map.empty, "dev"))
    assert(ce.getMessage.contains("GRAFT_DEFINITELY_UNSET"))
    // End-to-end through fromSqlText: render happens at parse time.
    import spark.implicits._
    val m = SqlModel.fromSqlText("envy",
      "SELECT '{{ env_var('GRAFT_DEFINITELY_UNSET', 'eu') }}' AS region, count(*) AS n " +
        "FROM {{ ref('t') }}")
    val out = m.build(spark, Map("t" -> Seq(1, 2, 3).toDF("x"))).head()
    assert(out.getString(0) === "eu" && out.getLong(1) === 3L)
  }
}
