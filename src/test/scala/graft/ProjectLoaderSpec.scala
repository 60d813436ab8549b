package graft

import org.apache.spark.sql.functions._

import graft.engine.{DagRunner, DataTests, IncrementalInsertOverwrite, ProjectLoader, Table, View}
import graft.models.SqlReporting
import graft.models.testkit.NpoFixtures

/** The dbt PROJECT-DIRECTORY frontend over the checked-in
  * `fixtures/npo_project` tree (a layout mirror of `/root/reference`):
  * YAML parsing, config-precedence routing, source/physical-table
  * resolution, incremental-header evaluation, schema.yml test routing,
  * and the ENTIRE 20-model file-loaded DAG built and tested (dbt build),
  * the same at four scheduler threads as at one. The `dag_*` DuckDB rows
  * pin each model's output end-to-end.
  */
class ProjectLoaderSpec extends SparkSpec {

  private lazy val fixtures = NpoFixtures.all(spark)
  private lazy val proj = SqlReporting.project(NpoFixtures.today, spark)

  /** The reference's rolling window at `today` 2021-01-12: today-8 .. today. */
  private val window = Seq("2021-01-12", "2021-01-11", "2021-01-10", "2021-01-09",
    "2021-01-08", "2021-01-07", "2021-01-06", "2021-01-05", "2021-01-04")

  private def tmpWh(): String =
    java.nio.file.Files.createTempDirectory("graft_projwh").toFile.getAbsolutePath

  test("the project parses: name, all 20 model files, the declared source") {
    assert(proj.name === "dbt_test_henri")
    assert(proj.models.size === 20)
    // The ten substantive models plus the ten one-line passthroughs.
    assert(SqlReporting.allNames.toSet.subsetOf(proj.models.map(_.name).toSet))
    assert(proj.sources.map(s => (s.sourceName, s.table)) ===
      Seq(("quintly_youtube_allchannels_weekly", "v1")))
    assert(proj.sources.head.key === "quintly_youtube_allchannels_weekly.v1")
    assert(proj.sources.head.database === Some("npo-data-hub"))
  }

  test("routing derives from dbt_project.yml + headers: database default, group schemas") {
    // Project default database applies everywhere.
    proj.models.foreach(m =>
      assert(m.database === Some("mit-reporting-test-1"), s"${m.name} database"))
    // The integral_reporting group (a directory two levels deep) routes
    // its models' schema; headers agree.
    SqlReporting.names.foreach(n =>
      assert(proj.model(n).schema === Some("integral_reporting"), s"$n schema"))
    // The atinternet group key is a model-name PREFIX, not a directory.
    assert(proj.model("atinternet_smarttag_streams_daily_v4").schema ===
      Some("atinternet_smarttag_streams_daily"))
    // Ungrouped models get no schema.
    assert(proj.model("poms_flattened").schema === None)
    assert(proj.model("media_events").schema === None)
  }

  test("passthrough models resolve their physical BigQuery table as an external ref") {
    assert(proj.model("media_events").refs === Seq("npo-data-hub.analytics.media_events"))
    assert(proj.model("dim_poms_episodes").refs ===
      Seq("npo-data-hub.looker.poms_episodes_materialized"))
    // The source() model resolves under the qualified source key.
    assert(proj.model("quintly_youtube_allchannels_weekly").refs ===
      Seq("quintly_youtube_allchannels_weekly.v1"))
  }

  test("the incremental header evaluates its partitions list to the same window the Scala wiring computes") {
    proj.model("atinternet_smarttag_streams_daily_v4").materialization match {
      case IncrementalInsertOverwrite(col, parts) =>
        assert(col === "evt_date")
        assert(parts === window)
      case other => fail(s"expected IncrementalInsertOverwrite, got $other")
    }
  }

  test("schema.yml tests route into DataTests with severity split") {
    assert(proj.checks === Seq(
      DataTests.Unique("poms_flattened", Seq("mid")),
      DataTests.NotNull("poms_flattened", "mid")))
    assert(proj.warnChecks === Seq(
      DataTests.NotNull("integral_reporting_youtube", "weekdate")))
  }

  test("the full file-loaded DAG builds and passes its declared tests (dbt build)") {
    val report = DagRunner.build(spark, proj.models,
      NpoFixtures.resolveProject(fixtures), tmpWh(),
      checks = proj.checks, warnChecks = proj.warnChecks)
    assert(report.ok, s"failures=${report.failures} skipped=${report.skipped}")
    assert(report.warnings.isEmpty)
    assert(report.built.size === 20)
  }

  test("run at threads 4 builds the file-loaded project identically to threads 1") {
    // The real 13-model graph (views + an incremental table + reporting
    // fan-out), which dag_project_dashboard runs on the scheduler's
    // default threads: every model's frame must equal the one-thread
    // build's. Its builds register shared-catalog temp views for every
    // ref, so this covers the concurrent-registration path too.
    val par = DagRunner.run(spark, proj.models,
      NpoFixtures.resolveProject(fixtures), tmpWh(), threads = Some(4))
    val seq = DagRunner.run(spark, proj.models,
      NpoFixtures.resolveProject(fixtures), tmpWh(), threads = Some(1))
    assert(par.keySet === seq.keySet)
    par.keySet.foreach { name =>
      assert(par(name).columns.toSeq === seq(name).columns.toSeq, name)
      assert(par(name).exceptAll(seq(name)).count() === 0L, s"$name: extra rows at threads 4")
      assert(seq(name).exceptAll(par(name)).count() === 0L, s"$name: missing rows at threads 4")
    }
  }

  test("a streams+ refresh after a full build is the same at threads 4 and 1") {
    // The daily job: a full build at D0, then the incremental streams
    // model and everything downstream of it at D0+1.
    val streams = "atinternet_smarttag_streams_daily_v4"
    val d1 = java.sql.Date.valueOf(NpoFixtures.today.toLocalDate.plusDays(1))
    def day(threads: Int) = {
      val wh = tmpWh()
      val p0 = SqlReporting.project(NpoFixtures.today, spark)
      val full = DagRunner.build(spark, p0.models, NpoFixtures.resolveProject(fixtures), wh,
        p0.checks, p0.warnChecks, Some(threads))
      val p1 = SqlReporting.project(d1, spark)
      val sel = DagRunner.withLazyUpstreams(p1.models, DagRunner.select(p1.models, s"$streams+"))
      val refresh = DagRunner.build(spark, sel, NpoFixtures.resolveProject(fixtures), wh,
        p1.checks, p1.warnChecks, Some(threads))
      val target = spark.read.parquet(DagRunner.targetPath(wh, p1.model(streams)))
      (full, refresh, target)
    }
    val (full4, refresh4, target4) = day(4)
    val (full1, refresh1, target1) = day(1)
    assert(full4.ok && refresh4.ok, s"${refresh4.failures} ${refresh4.errors}")
    for ((a, b) <- Seq(full4 -> full1, refresh4 -> refresh1)) {
      assert(a.built.keySet === b.built.keySet)
      assert(a.failures === b.failures)
      assert(a.warnings === b.warnings)
      assert(a.skipped === b.skipped)
    }
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String) = {
      assert(a.exceptAll(b).count() === 0L, s"$what: extra rows at threads 4")
      assert(b.exceptAll(a).count() === 0L, s"$what: missing rows at threads 4")
    }
    Seq("poms_flattened", "integral_reporting_tvbroadcasts", "integral_reporting_youtube",
      "integral_reporting_sites_and_apps").foreach(v => same(refresh4.built(v), refresh1.built(v), v))
    same(target4, target1, streams)
  }

  test("the insert_overwrite partition list folds without a Spark job") {
    val (loaded, jobs) = SparkSpec.jobsDuring(spark)(SqlReporting.project(NpoFixtures.today, spark))
    assert(jobs.isEmpty, s"${jobs.size} Spark jobs while loading the project")
    assert(loaded.get.model("atinternet_smarttag_streams_daily_v4").materialization ===
      IncrementalInsertOverwrite("evt_date", window))
    // A non-deterministic entry does not fold: the list is evaluated by
    // one Spark job instead.
    val dir = synthProject("models/inc.sql" ->
      ("""{% set parts = ['CAST(date_add(DATE("2021-01-01"), 1) AS STRING)', 'CAST(spark_partition_id() AS STRING)'] %}""" +
        "{{ config(materialized='incremental', incremental_strategy='insert_overwrite', " +
        "partition_by='d', partitions = parts) }}\nSELECT 1 AS x, '2021-01-02' AS d"))
    val (synth, synthJobs) = SparkSpec.jobsDuring(spark)(ProjectLoader.load(spark, dir))
    assert(synth.get.model("inc").materialization ===
      IncrementalInsertOverwrite("d", Seq("2021-01-02", "0")))
    assert(synthJobs.size === 1)
  }

  // ---- unit: config resolution and schema.yml parsing --------------------

  private def yamlMap(s: String): Map[String, Any] = {
    val m = new org.yaml.snakeyaml.Yaml().load[Any](s)
    import scala.jdk.CollectionConverters._
    m.asInstanceOf[java.util.Map[Any, Any]].asScala
      .map { case (k, v) => String.valueOf(k) -> (v: Any) }.toMap
  }

  test("modelConfig: precedence project < group; +prefixed keys; segment and prefix matching") {
    val block = yamlMap(
      """database: projdb
        |+materialized: view
        |marts:
        |  schema: marts_schema
        |  database: martsdb
        |my_model:
        |  schema: exact_schema
        |""".stripMargin)
    // Directory-segment match overrides the project default.
    assert(ProjectLoader.modelConfig(block, Seq("x", "marts"), "other", "proj") ===
      Map("database" -> "martsdb", "materialized" -> "view", "schema" -> "marts_schema"))
    // Exact model-name group.
    assert(ProjectLoader.modelConfig(block, Nil, "my_model", "proj")("schema") === "exact_schema")
    // Model-name prefix (the reference's atinternet idiom).
    assert(ProjectLoader.modelConfig(block, Nil, "my_model_v4", "proj")("schema") === "exact_schema")
    // No group match: project defaults only.
    assert(ProjectLoader.modelConfig(block, Seq("elsewhere"), "unrelated", "proj") ===
      Map("database" -> "projdb", "materialized" -> "view"))
  }

  test("parseSchemaTests: all four test kinds, relationships ref() form, warn severity") {
    val doc = yamlMap(
      """models:
        |  - name: child
        |    columns:
        |      - name: id
        |        tests:
        |          - unique
        |          - not_null
        |          - relationships:
        |              to: ref('parent')
        |              field: pid
        |      - name: status
        |        tests:
        |          - accepted_values:
        |              values: ['a', 'b']
        |              config:
        |                severity: warn
        |""".stripMargin)
    val (checks, warns) = ProjectLoader.parseSchemaTests(doc)
    assert(checks === Seq(
      DataTests.Unique("child", Seq("id")),
      DataTests.NotNull("child", "id"),
      DataTests.Relationships("child", "id", "parent", "pid")))
    assert(warns === Seq(DataTests.AcceptedValues("child", "status", Seq("a", "b"))))
  }

  test("a synthetic project directory loads end-to-end: macros dir, folder materialization, undeclared source fails") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_synthproj")
    def write(rel: String, body: String): Unit = {
      val p = dir.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, body)
    }
    write("dbt_project.yml",
      """name: synth
        |vars:
        |  factor: 2
        |models:
        |  staging:
        |    +materialized: table
        |""".stripMargin)
    write("macros/util.sql",
      "{% macro scale(c) %}({{ c }} * {{ var('factor') }}){% endmacro %}")
    write("models/staging/stg_nums.sql",
      "SELECT {{ scale('n') }} AS n2 FROM {{ source('raw', 'nums') }}")
    write("models/sources.yml",
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: nums
        |""".stripMargin)
    val p = ProjectLoader.load(spark, dir)
    assert(p.name === "synth")
    val stg = p.model("stg_nums")
    assert(stg.materialization === Table, "folder-level +materialized applies")
    assert(stg.refs === Seq("raw.nums"))
    // The `factor` var binds from dbt_project.yml's `vars:` block.
    val built = DagRunner.run(spark, p.models,
      Map("raw.nums" -> Seq(1, 2).toDF("n")).apply, tmpWh())
    assert(built("stg_nums").as[Long].collect().sorted === Array(2L, 4L))
    // Caller vars override the project default (dbt --vars precedence).
    val p3 = ProjectLoader.load(spark, dir, vars = Map("factor" -> "3"))
    val built3 = DagRunner.run(spark, p3.models,
      Map("raw.nums" -> Seq(1, 2).toDF("n")).apply, tmpWh())
    assert(built3("stg_nums").as[Long].collect().sorted === Array(3L, 6L))
    // An undeclared source is dbt's compile error.
    write("models/staging/bad.sql", "SELECT * FROM {{ source('raw', 'nope') }}")
    val e = intercept[IllegalArgumentException](ProjectLoader.load(spark, dir))
    assert(e.getMessage.contains("nope") && e.getMessage.contains("not declared"))
  }

  // ---- packages.yml ------------------------------------------------------

  private def synthProject(files: (String, String)*): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pkgproj")
    (files :+ ("dbt_project.yml" -> "name: synth\n")).foreach { case (rel, body) =>
      val p = dir.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, body)
    }
    dir
  }

  test("packages.yml: dbt_utils resolves from the built-in registry; project macro shadows the alias, qualified reaches the package") {
    import spark.implicits._
    val dir = synthProject(
      "packages.yml" -> "packages:\n  - package: dbt-labs/dbt_utils\n    version: 1.3.0\n",
      // A project macro named like a package macro: dbt dispatch order
      // says the project wins for UNQUALIFIED calls.
      "macros/shadow.sql" ->
        ("{% macro date_spine(datepart, start_date, end_date) %}" +
          "SELECT DATE '1999-09-09' AS date_{{ datepart }}{% endmacro %}"),
      "models/uses_alias.sql" ->
        "SELECT date_day FROM ({{ date_spine('day', \"DATE '2020-01-01'\", \"DATE '2020-01-04'\") }})",
      "models/uses_qualified.sql" ->
        "SELECT date_day FROM ({{ dbt_utils.date_spine('day', \"DATE '2020-01-01'\", \"DATE '2020-01-04'\") }}) s")
    val p = ProjectLoader.load(spark, dir)
    val built = DagRunner.run(spark, p.models, n => sys.error(s"no source $n"), tmpWh())
    // Unqualified → the project's shadow (one fixed row).
    assert(built("uses_alias").as[java.sql.Date].collect().toSeq ===
      Seq(java.sql.Date.valueOf("1999-09-09")))
    // Qualified → the package macro: start inclusive, end EXCLUSIVE.
    assert(built("uses_qualified").as[java.sql.Date].collect().sorted.toSeq ===
      Seq("2020-01-01", "2020-01-02", "2020-01-03").map(java.sql.Date.valueOf))
  }

  test("packages.yml: local packages load their macros under their own namespace; unknown hub packages fail") {
    import spark.implicits._
    val dir = synthProject(
      "packages.yml" -> "packages:\n  - local: pkgs/mathkit\n",
      "pkgs/mathkit/dbt_project.yml" -> "name: mathkit\n",
      "pkgs/mathkit/macros/util.sql" ->
        "{% macro tripled(c) %}({{ c }} * 3){% endmacro %}",
      "models/m.sql" ->
        "SELECT {{ mathkit.tripled('x') }} AS t3, {{ tripled('x') }} AS t3b FROM {{ ref('nums') }}")
    val p = ProjectLoader.load(spark, dir)
    val built = DagRunner.run(spark, p.models,
      Map("nums" -> Seq(2).toDF("x")).apply, tmpWh())
    assert(built("m").collect().head.toSeq === Seq(6, 6))
    // An unknown hub package is a loud zero-egress error, not a fetch.
    val bad = synthProject(
      "packages.yml" -> "packages:\n  - package: someone/unknown_pkg\n",
      "models/m.sql" -> "SELECT 1 AS one")
    val e = intercept[IllegalArgumentException](ProjectLoader.load(spark, bad))
    assert(e.getMessage.contains("unknown_pkg") && e.getMessage.contains("zero-egress"))
  }

  test("packages.yml: pivot and generate_surrogate_key natives expand list-literal args") {
    import spark.implicits._
    val dir = synthProject(
      "packages.yml" -> "packages:\n  - package: dbt_utils\n",
      "models/piv.sql" ->
        ("SELECT grp, {{ dbt_utils.pivot('status', ['a', 'b'], prefix='n_') }} " +
          "FROM {{ ref('rows') }} GROUP BY grp"),
      "models/keyed.sql" ->
        "SELECT {{ dbt_utils.generate_surrogate_key(['grp', 'status']) }} AS sk FROM {{ ref('rows') }}")
    val p = ProjectLoader.load(spark, dir)
    val rows = Seq(("g1", "a"), ("g1", "a"), ("g1", "b")).toDF("grp", "status")
    val built = DagRunner.run(spark, p.models, Map("rows" -> rows).apply, tmpWh())
    val piv = built("piv").collect().head
    assert(built("piv").columns.toSeq === Seq("grp", "n_a", "n_b"))
    assert(piv.getLong(1) === 2L && piv.getLong(2) === 1L)
    // Null sentinel: the key of ('g1','a') differs from md5 of raw concat.
    val sk = built("keyed").orderBy("sk").collect().map(_.getString(0))
    assert(sk.length === 3 && sk.forall(_.matches("[0-9a-f]{32}")))
  }

  // ---- profiles.yml ------------------------------------------------------

  test("profiles.yml: loadProfiles resolves target outputs; load() routes database/schema below project config and flips target.name") {
    import spark.implicits._
    val profYml = java.nio.file.Files.createTempDirectory("graft_prof").resolve("profiles.yml")
    java.nio.file.Files.writeString(profYml,
      """pkg_demo:
        |  target: dev
        |  outputs:
        |    dev:
        |      database: devdb
        |      schema: dev_schema
        |      threads: 1
        |    prod:
        |      database: proddb
        |      schema: prod_schema
        |      threads: 8
        |""".stripMargin)
    val dev = ProjectLoader.loadProfiles(profYml, "pkg_demo")
    assert(dev === ProjectLoader.TargetOutput("dev", Some("devdb"), Some("dev_schema"), 1))
    val prod = ProjectLoader.loadProfiles(profYml, "pkg_demo", Some("prod"))
    assert(prod === ProjectLoader.TargetOutput("prod", Some("proddb"), Some("prod_schema"), 8))
    intercept[IllegalArgumentException](ProjectLoader.loadProfiles(profYml, "nope"))
    intercept[IllegalArgumentException](
      ProjectLoader.loadProfiles(profYml, "pkg_demo", Some("staging")))

    // Through load(): the profile is the routing FALLBACK (model header >
    // project config > profile), and its name becomes target.name.
    val dir = synthProject(
      "models/plain.sql" -> "SELECT 1 AS one",
      "models/routed.sql" -> "{{ config(schema='pinned') }}\nSELECT 1 AS one",
      "models/flagged.sql" ->
        ("SELECT {% if target.name == 'prod' %}'P'{% else %}'D'{% endif %} AS flag"))
    val p = ProjectLoader.load(spark, dir, profile = Some(prod))
    assert(p.model("plain").database === Some("proddb"))
    assert(p.model("plain").schema === Some("prod_schema"))
    assert(p.model("routed").schema === Some("pinned"), "header beats profile")
    val built = DagRunner.run(spark, p.models, n => sys.error(s"no source $n"), tmpWh())
    assert(built("flagged").as[String].head() === "P")
    val pDev = ProjectLoader.load(spark, dir, profile = Some(dev))
    val builtDev = DagRunner.run(spark, pDev.models, n => sys.error(s"no source $n"), tmpWh())
    assert(builtDev("flagged").as[String].head() === "D")
  }

  test("the checked-in fixtures/pkg_project loads: packages + env_var through the file frontend") {
    val dir = Seq(java.nio.file.Paths.get("fixtures/pkg_project"),
      java.nio.file.Paths.get("/root/repo/fixtures/pkg_project"))
      .find(java.nio.file.Files.isDirectory(_)).get
    val p = ProjectLoader.load(spark, dir)
    assert(p.name === "pkg_demo")
    assert(p.models.size === 12)
    assert(ProjectLoader.profileNameOf(dir) === Some("pkg_demo"))
    // union_relations' refs contribute DAG edges.
    assert(p.model("all_orders_rollup").refs.toSet ===
      Set("stg_orders_fulfilled", "stg_orders_open"))
    // The spine/pivot/key models depend only on the declared source.
    assert(p.model("spine_orders_daily").refs === Seq("tpch.orders"))
  }

  // ---- selectors.yml -----------------------------------------------------

  test("selectors.yml: named string-form specs load, resolve through select(), and validate") {
    val dir = Seq(java.nio.file.Paths.get("fixtures/pkg_project"),
      java.nio.file.Paths.get("/root/repo/fixtures/pkg_project"))
      .find(java.nio.file.Files.isDirectory(_)).get
    val sels = ProjectLoader.loadSelectors(dir)
    assert(sels.map(_.name) === Seq("spine_family", "staging"))
    assert(sels.find(_.default).map(_.name) === Some("staging"))
    // The definitions run through the SAME grammar --select takes.
    val p = ProjectLoader.load(spark, dir)
    val staging = DagRunner.select(p.models, sels.find(_.default).get.definition)
    assert(staging.map(_.name).toSet === Set("stg_orders_fulfilled", "stg_orders_open"))
    val spine = DagRunner.select(p.models, sels.head.definition)
    assert(spine.map(_.name).toSet === Set("spine_orders_daily"))
    // Absent file = no selectors; structured definitions are rejected
    // with a pointer to the string form; duplicate names / multiple
    // defaults fail.
    assert(ProjectLoader.loadSelectors(
      java.nio.file.Files.createTempDirectory("nosel")) === Nil)
    def write(body: String): java.nio.file.Path = {
      val d = java.nio.file.Files.createTempDirectory("selyml")
      java.nio.file.Files.writeString(d.resolve("selectors.yml"), body)
      d
    }
    val e1 = intercept[IllegalArgumentException](ProjectLoader.loadSelectors(write(
      """selectors:
        |  - name: tree
        |    definition:
        |      union:
        |        - method: tag
        |          value: nightly
        |""".stripMargin)))
    assert(e1.getMessage.contains("string form"))
    val e2 = intercept[IllegalArgumentException](ProjectLoader.loadSelectors(write(
      "selectors:\n  - name: a\n    definition: x\n  - name: a\n    definition: y\n")))
    assert(e2.getMessage.contains("duplicate"))
    val e3 = intercept[IllegalArgumentException](ProjectLoader.loadSelectors(write(
      "selectors:\n  - name: a\n    default: true\n    definition: x\n" +
        "  - name: b\n    default: true\n    definition: y\n")))
    assert(e3.getMessage.contains("default"))
  }

  test("seeds/ CSVs load as Table nodes routed by the seeds: block; on-run-start/end hooks parse rendered") {
    import spark.implicits._
    val dir = synthProject(
      "seeds/channel_map.csv" -> "channel,prio\nnpo1,1\nnpo2,2\n",
      "models/rollup.sql" ->
        "SELECT CAST(count(*) AS BIGINT) AS n FROM {{ ref('channel_map') }}")
    // Rewrite the project yml with seeds config + hooks (string + list).
    java.nio.file.Files.writeString(dir.resolve("dbt_project.yml"),
      """name: synth
        |vars:
        |  audit_tag: r12
        |seeds:
        |  +schema: seed_schema
        |  database: seeddb
        |on-run-start: "SELECT 'start-{{ var('audit_tag') }}'"
        |on-run-end:
        |  - "SELECT 'end-1'"
        |  - "SELECT 'end-2'"
        |""".stripMargin)
    val p = ProjectLoader.load(spark, dir)
    val seed = p.model("channel_map")
    assert(seed.materialization === graft.engine.Table)
    assert(seed.schema === Some("seed_schema") && seed.database === Some("seeddb"))
    assert(p.onRunStart === Seq("SELECT 'start-r12'"), "hook vars render at load")
    assert(p.onRunEnd === Seq("SELECT 'end-1'", "SELECT 'end-2'"))
    val built = DagRunner.run(spark, p.models, n => sys.error(s"no source $n"), tmpWh(),
      onRunStart = p.onRunStart, onRunEnd = p.onRunEnd)
    assert(built("rollup").as[Long].head() === 2L)
  }

  test("seeds column_types overrides inference at LOAD (leading zeros survive); nested project key accepted") {
    val dir = synthProject(
      "seeds/zips.csv" -> "zip,pop\n01234,10\n98765,20\n",
      "models/m.sql" -> "SELECT zip, pop FROM {{ ref('zips') }}")
    java.nio.file.Files.writeString(dir.resolve("dbt_project.yml"),
      """name: synth
        |seeds:
        |  synth:
        |    +schema: seed_schema
        |    zips:
        |      +column_types:
        |        zip: string
        |""".stripMargin)
    val p = ProjectLoader.load(spark, dir)
    assert(p.model("zips").schema === Some("seed_schema"),
      "scalars under the nested project key still apply project-wide")
    val built = DagRunner.run(spark, p.models, n => sys.error(s"no source $n"), tmpWh())
    val rows = built("zips").orderBy("zip").collect()
    // Without the override inference reads 1234 (int); the declared
    // string type is applied at READ, so the leading zero survives.
    assert(rows(0).getAs[String]("zip") === "01234")
    assert(rows(0).getAs[Int]("pop") === 10)
    // Unknown column names in column_types fail loudly at build.
    val bad = synthProject("seeds/s.csv" -> "a\n1\n", "models/m.sql" -> "SELECT 1 AS x")
    java.nio.file.Files.writeString(bad.resolve("dbt_project.yml"),
      "name: synth\nseeds:\n  s:\n    column_types:\n      nope: string\n")
    val e = intercept[IllegalArgumentException] {
      DagRunner.run(spark, ProjectLoader.load(spark, bad).models,
        n => sys.error(s"no source $n"), tmpWh())
    }
    assert(e.getMessage.contains("nope"))
  }

  test("dbt_utils cross-database macros render to the Spark dialect") {
    import spark.implicits._
    val dir = synthProject(
      "packages.yml" -> "packages:\n  - package: dbt_utils\n",
      "models/m.sql" ->
        ("SELECT CAST({{ dbt_utils.dateadd('day', 3, 'd') }} AS DATE) AS d3, " +
          "{{ dbt_utils.datediff('d', \"TIMESTAMP '2021-01-10 00:00:00'\", 'day') }} AS dd, " +
          "{{ dbt_utils.split_part('s', \"'-'\", 2) }} AS p2, " +
          "{{ dbt_utils.safe_cast('s', 'int') }} AS si, " +
          "{{ dbt_utils.concat(['s', \"'!'\"]) }} AS c " +
          "FROM {{ ref('t') }}"))
    val p = ProjectLoader.load(spark, dir)
    val t = Seq((java.sql.Timestamp.valueOf("2021-01-01 00:00:00"), "a-b"))
      .toDF("d", "s")
    val row = DagRunner.run(spark, p.models, Map("t" -> t).apply, tmpWh())("m").head()
    assert(row.getDate(0) === java.sql.Date.valueOf("2021-01-04"))
    assert(row.getLong(1) === 9L)
    assert(row.getString(2) === "b")
    assert(row.isNullAt(3))
    assert(row.getString(4) === "a-b!")
  }

  // ---- warehouse-introspection macros (star / get_column_values) ----------

  test("dbt_utils.star introspects the resolved schema at build time: except, alias, prefix, rename") {
    import spark.implicits._
    val dir = synthProject(
      "packages.yml" -> "packages:\n  - package: dbt_utils\n",
      "models/slim.sql" ->
        "SELECT {{ dbt_utils.star(from=ref('t'), except=['b']) }} FROM {{ ref('t') }}",
      "models/renamed.sql" ->
        ("SELECT {{ dbt_utils.star(from=ref('t'), relation_alias='x', prefix='p_') }} " +
          "FROM {{ ref('t') }} x"))
    val p = ProjectLoader.load(spark, dir)
    // The relation inside the macro args is a real DAG edge.
    assert(p.model("slim").refs === Seq("t"))
    val t = Seq((1, "one", 1.5)).toDF("a", "b", "c")
    val built = DagRunner.run(spark, p.models, Map("t" -> t).apply, tmpWh())
    assert(built("slim").columns.toSeq === Seq("a", "c"))
    // relation_alias qualifies the source side; prefix renames the output.
    assert(built("renamed").columns.toSeq === Seq("p_a", "p_b", "p_c"))
    assert(built("renamed").head().getInt(0) === 1)
  }

  test("star rejects except names missing from the relation, and excluding everything") {
    import spark.implicits._
    val t = Seq((1, 2)).toDF("a", "b")
    def loadAndRun(body: String): Unit = {
      val dir = synthProject(
        "packages.yml" -> "packages:\n  - package: dbt_utils\n",
        "models/m.sql" -> body)
      DagRunner.run(spark, ProjectLoader.load(spark, dir).models,
        Map("t" -> t).apply, tmpWh())
    }
    val e1 = intercept[IllegalArgumentException](loadAndRun(
      "SELECT {{ dbt_utils.star(from=ref('t'), except=['nope']) }} FROM {{ ref('t') }}"))
    assert(e1.getMessage.contains("nope"))
    val e2 = intercept[IllegalArgumentException](loadAndRun(
      "SELECT {{ dbt_utils.star(from=ref('t'), except=['a', 'b']) }} FROM {{ ref('t') }}"))
    assert(e2.getMessage.contains("every column"))
  }

  test("get_column_values feeds pivot at build time (dbt's compile-time run_query); where/max_records bound it") {
    import spark.implicits._
    val t = Seq(("x", "F"), ("x", "O"), ("y", "F"), ("y", "Z")).toDF("k", "v")
    val dir = synthProject(
      "packages.yml" -> "packages:\n  - package: dbt_utils\n",
      "models/piv.sql" ->
        ("SELECT k, {{ dbt_utils.pivot('v', dbt_utils.get_column_values(ref('t'), 'v', order_by='value', " +
          "where=\"v <> 'Z'\"), prefix='n_') }} FROM {{ ref('t') }} GROUP BY k"),
      "models/piv_top1.sql" ->
        ("SELECT k, {{ dbt_utils.pivot('v', dbt_utils.get_column_values(ref('t'), 'v', " +
          "order_by='count desc, value', max_records=1)) }} FROM {{ ref('t') }} GROUP BY k"))
    val p = ProjectLoader.load(spark, dir)
    assert(p.model("piv").refs === Seq("t"))
    val built = DagRunner.run(spark, p.models, Map("t" -> t).apply, tmpWh())
    // where= excludes Z from the AXIS (the data still aggregates).
    assert(built("piv").columns.toSeq === Seq("k", "n_F", "n_O"))
    assert(built("piv").filter($"k" === "x").head().getLong(1) === 1L)
    // max_records caps the axis at the most frequent value.
    assert(built("piv_top1").columns.toSeq === Seq("k", "F"))
  }

  test("standalone get_column_values is a parse-time error (it returns a list, not SQL)") {
    val dir = synthProject(
      "packages.yml" -> "packages:\n  - package: dbt_utils\n",
      "models/m.sql" ->
        "SELECT {{ dbt_utils.get_column_values(ref('t'), 'v') }} FROM {{ ref('t') }}")
    val e = intercept[IllegalArgumentException](ProjectLoader.load(spark, dir))
    assert(e.getMessage.contains("consumed by a macro"))
  }

  // ---- tests/ directory (singular tests) ----------------------------------

  test("tests/ dir loads singular tests with severity routing; violations count through DataTests") {
    import spark.implicits._
    val dir = synthProject(
      "models/m.sql" -> "SELECT * FROM {{ ref('t') }}",
      "tests/no_negatives.sql" -> "SELECT * FROM {{ ref('m') }} WHERE a < 0",
      "tests/warn_twos.sql" ->
        "{{ config(severity='warn') }} SELECT * FROM {{ ref('m') }} WHERE a = 2")
    val p = ProjectLoader.load(spark, dir)
    assert(p.checks.collect { case s: DataTests.Singular => s.name } === Seq("no_negatives"))
    assert(p.warnChecks.collect { case s: DataTests.Singular => s.name } === Seq("warn_twos"))
    // Attribution = first ref (dbt's depends_on ordering).
    assert(p.checks.collect { case s: DataTests.Singular => s.model } === Seq("m"))
    val t = Seq(1, 2, 2, 3).toDF("a")
    val built = DagRunner.run(spark, p.models, Map("t" -> t).apply, tmpWh())
    val summary = DataTests.run(n => built.getOrElse(n, t), p.checks ++ p.warnChecks)
      .collect().map(r => r.getAs[String]("column") -> r.getAs[Long]("n_violations")).toMap
    assert(summary === Map("no_negatives" -> 0L, "warn_twos" -> 2L))
  }

  test("analyses/ compile but never run: Jinja-resolved, refs extracted, excluded from the DAG") {
    val dir = Seq(java.nio.file.Paths.get("fixtures/pkg_project"),
      java.nio.file.Paths.get("/root/repo/fixtures/pkg_project"))
      .find(java.nio.file.Files.isDirectory(_)).get
    val p = ProjectLoader.load(spark, dir)
    assert(p.analyses.map(_.name) === Seq("open_order_value"))
    assert(!p.models.exists(_.name == "open_order_value"))
    val a = p.analyses.head
    assert(a.refs === Seq("tpch.orders"))
    // The compiled artifact carries the rendered SQL (dbt compile).
    assert(a.compiledSql.exists(_.contains("graft_ref_tpch_orders")))
    val out = java.nio.file.Files.createTempDirectory("graft_compiled").toString
    val written = DagRunner.writeCompiled(spark, p.models ++ p.analyses, out)
    assert(written.contains("open_order_value"))
  }

  test("description: docs parse (model + column) and land in docs.json and the site tooltips") {
    val dir = Seq(java.nio.file.Paths.get("fixtures/pkg_project"),
      java.nio.file.Paths.get("/root/repo/fixtures/pkg_project"))
      .find(java.nio.file.Files.isDirectory(_)).get
    val p = ProjectLoader.load(spark, dir)
    assert(p.descriptions("orders_status_pivot").startsWith("One row per order priority"))
    assert(p.columnDescriptions("orders_status_pivot")("o_orderpriority") ===
      "TPC-H order priority bucket")
    val out = java.nio.file.Files.createTempDirectory("graft_docs")
    DagRunner.writeDocs(spark, p.models, s"$out/docs.json",
      descriptions = p.descriptions, columnDescriptions = p.columnDescriptions)
    val json = java.nio.file.Files.readString(out.resolve("docs.json"))
    assert(json.contains(""""description":"One row per order priority"""))
    assert(json.contains(""""o_orderpriority":"TPC-H order priority bucket""""))
    DagRunner.writeDocsSite(spark, p.models, out.toString,
      descriptions = p.descriptions)
    val html = java.nio.file.Files.readString(out.resolve("index.html"))
    assert(html.contains("<title>One row per order priority"))
    val dot = java.nio.file.Files.readString(out.resolve("lineage.dot"))
    assert(dot.contains("tooltip="))
  }

  test("exposures: parse from models YAML and anchor +exposure: selection") {
    val dir = Seq(java.nio.file.Paths.get("fixtures/pkg_project"),
      java.nio.file.Paths.get("/root/repo/fixtures/pkg_project"))
      .find(java.nio.file.Files.isDirectory(_)).get
    val p = ProjectLoader.load(spark, dir)
    assert(p.exposures.map(_.name) === Seq("orders_dashboard"))
    val e = p.exposures.head
    assert(e.exposureType === "dashboard")
    assert(e.owner === "analytics")
    assert(e.dependsOn.toSet === Set("orders_status_pivot", "spine_orders_daily"))
    // dbt's impact-analysis idiom: +exposure:x selects everything the
    // dashboard reads (both models; no upstream models exist here).
    val sel = DagRunner.select(p.models, "+exposure:orders_dashboard",
      exposures = p.exposures)
    assert(sel.map(_.name).toSet === Set("orders_status_pivot", "spine_orders_daily"))
  }

  test("sources.yml freshness config parses: period math, table-level override, loaded_at required") {
    val dir = Seq(java.nio.file.Paths.get("fixtures/pkg_project"),
      java.nio.file.Paths.get("/root/repo/fixtures/pkg_project"))
      .find(java.nio.file.Files.isDirectory(_)).get
    val p = ProjectLoader.load(spark, dir)
    assert(p.freshness ===
      Seq(DataTests.Freshness("tpch.orders", "o_orderdate", 7L * 86400, 30L * 86400)))
    // Table-level block overrides the source default (dbt precedence).
    val dir2 = synthProject(
      "models/sources.yml" ->
        """version: 2
          |sources:
          |  - name: s
          |    loaded_at_field: at_src
          |    freshness:
          |      warn_after: {count: 1, period: hour}
          |    tables:
          |      - name: a
          |      - name: b
          |        loaded_at_field: at_tbl
          |        freshness:
          |          error_after: {count: 30, period: minute}
          |""".stripMargin,
      "models/m.sql" -> "SELECT 1 AS x FROM {{ source('s', 'a') }}")
    val p2 = ProjectLoader.load(spark, dir2)
    val byKey = p2.freshness.map(f => f.source -> f).toMap
    assert(byKey("s.a") === DataTests.Freshness("s.a", "at_src", 3600L, Long.MaxValue))
    assert(byKey("s.b") === DataTests.Freshness("s.b", "at_tbl", Long.MaxValue, 1800L))
    // freshness without any loaded_at_field anywhere = load error.
    val bad = synthProject(
      "models/sources.yml" ->
        """version: 2
          |sources:
          |  - name: s
          |    freshness:
          |      warn_after: {count: 1, period: hour}
          |    tables:
          |      - name: a
          |""".stripMargin,
      "models/m.sql" -> "SELECT 1 AS x FROM {{ source('s', 'a') }}")
    val err = intercept[IllegalArgumentException](ProjectLoader.load(spark, bad))
    assert(err.getMessage.contains("loaded_at_field"))
  }

  test("unit_tests: YAML parses into mocked-input tests; the fixture test passes and a broken expect fails") {
    val dir = Seq(java.nio.file.Paths.get("fixtures/pkg_project"),
      java.nio.file.Paths.get("/root/repo/fixtures/pkg_project"))
      .find(java.nio.file.Files.isDirectory(_)).get
    val p = ProjectLoader.load(spark, dir)
    assert(p.unitTests.map(_.name) === Seq("pivot_counts_statuses"))
    val ut = p.unitTests.head
    assert(ut.model === "orders_status_pivot")
    // The source mock keys under the loader's qualified source name.
    assert(ut.given.keySet === Set("tpch.orders"))
    val res = DagRunner.runUnitTests(spark, p.models, p.unitTests)
    assert(res.forall(_.passed), res.map(r => s"${r.name}: ${r.missing} / ${r.unexpected}"))
    // A wrong expectation fails with the offending rows, not silently.
    val broken = ut.copy(expect = ut.expect.limit(1))
    val bad = DagRunner.runUnitTest(spark, p.models, broken)
    assert(!bad.passed && bad.unexpected.nonEmpty)
  }

  test("unit_tests: malformed entries fail loudly (bad input call, empty rows)") {
    val e1 = intercept[IllegalArgumentException](ProjectLoader.load(spark, synthProject(
      "models/m.sql" -> "SELECT 1 AS a FROM {{ ref('t') }}",
      "models/ut.yml" ->
        """version: 2
          |unit_tests:
          |  - name: bad_input
          |    model: m
          |    given:
          |      - input: just_a_table
          |        rows:
          |          - {a: 1}
          |    expect:
          |      rows:
          |        - {a: 1}
          |""".stripMargin)))
    assert(e1.getMessage.contains("ref('x') or source('s','t')"))
    val e2 = intercept[IllegalArgumentException](ProjectLoader.load(spark, synthProject(
      "models/m.sql" -> "SELECT 1 AS a FROM {{ ref('t') }}",
      "models/ut.yml" ->
        """version: 2
          |unit_tests:
          |  - name: no_rows
          |    model: m
          |    given:
          |      - input: ref('t')
          |        rows: []
          |    expect:
          |      rows:
          |        - {a: 1}
          |""".stripMargin)))
    assert(e2.getMessage.contains("non-empty list"))
  }

  test("snapshots/ blocks parse and run as SCD2 nodes: timestamp strategy closes superseded versions") {
    import spark.implicits._
    val dir = synthProject(
      "models/m.sql" -> "SELECT 1 AS unused FROM {{ ref('src') }}",
      "snapshots/cust_snap.sql" ->
        """{% snapshot cust_snap %}
          |{{ config(strategy='timestamp', unique_key='id', updated_at='updated_at',
          |          target_schema='snapshots') }}
          |SELECT id, status, updated_at FROM {{ ref('src') }}
          |{% endsnapshot %}""".stripMargin)
    val p = ProjectLoader.load(spark, dir)
    assert(p.snapshots.map(_.name) === Seq("cust_snap"))
    val sn = p.snapshots.head
    assert(sn.strategy === "timestamp" && sn.uniqueKey === "id" &&
      sn.updatedAt === Some("updated_at") && sn.targetSchema === Some("snapshots"))
    assert(sn.model.refs === Seq("src"))
    // Snapshots never join the model DAG.
    assert(!p.models.exists(_.name == "cust_snap"))
    val wh = tmpWh()
    val day1 = Seq((1L, "new", "2024-01-01"), (2L, "new", "2024-01-01"))
      .toDF("id", "status", "updated_at")
    p.runSnapshots(spark, Map("src" -> day1).apply, wh)
    val day2 = Seq((1L, "shipped", "2024-01-02"), (2L, "new", "2024-01-01"))
      .toDF("id", "status", "updated_at")
    val snap = p.runSnapshots(spark, Map("src" -> day2).apply, wh)("cust_snap")
    // id 1: closed v1 + open v2; id 2: unchanged open row.
    assert(snap.count() === 3L)
    val open = snap.filter($"dbt_valid_to".isNull)
    assert(open.count() === 2L)
    assert(open.filter($"id" === 1L).head().getAs[String]("status") === "shipped")
    assert(snap.filter($"dbt_valid_to".isNotNull).head().getAs[String]("dbt_valid_to")
      === "2024-01-02")
    // The target path routes through target_schema.
    assert(new java.io.File(s"$wh/snapshots/cust_snap").isDirectory)
  }

  test("snapshots/ check strategy needs check_cols and an asOf; config errors are loud") {
    import spark.implicits._
    val dir = synthProject(
      "models/m.sql" -> "SELECT 1 AS unused FROM {{ ref('src') }}",
      "snapshots/s.sql" ->
        """{% snapshot chk %}
          |{{ config(strategy='check', unique_key='id', check_cols=['status']) }}
          |SELECT id, status FROM {{ ref('src') }}
          |{% endsnapshot %}""".stripMargin)
    val p = ProjectLoader.load(spark, dir)
    val wh = tmpWh()
    val src = Seq((1L, "a")).toDF("id", "status")
    val e = intercept[IllegalArgumentException](
      p.runSnapshots(spark, Map("src" -> src).apply, wh))
    assert(e.getMessage.contains("as-of"))
    val snap = p.runSnapshots(spark, Map("src" -> src).apply, wh,
      asOf = Some("2024-03-01 00:00:00"))("chk")
    assert(snap.count() === 1L)
    // Missing strategy fields fail at LOAD, not at run.
    val bad = synthProject(
      "models/m.sql" -> "SELECT 1 AS a",
      "snapshots/s.sql" ->
        """{% snapshot b %}
          |{{ config(strategy='timestamp', unique_key='id') }}
          |SELECT 1 AS id FROM {{ ref('src') }}
          |{% endsnapshot %}""".stripMargin)
    val err = intercept[IllegalArgumentException](ProjectLoader.load(spark, bad))
    assert(err.getMessage.contains("updated_at"))
  }

  test("a bare source() macro relation arg rewrites to the qualified source key (same DAG edge, same not-declared error)") {
    import spark.implicits._
    val srcYml =
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: nums
        |""".stripMargin
    val dir = synthProject(
      "packages.yml" -> "packages:\n  - package: dbt_utils\n",
      "models/sources.yml" -> srcYml,
      "models/slim.sql" ->
        "SELECT {{ dbt_utils.star(from=source('raw', 'nums'), except=['b']) }} FROM {{ source('raw', 'nums') }}")
    val p = ProjectLoader.load(spark, dir)
    // The macro-arg edge is keyed 'raw.nums' like every other source ref —
    // not the bare table name 'nums'.
    assert(p.model("slim").refs === Seq("raw.nums"))
    val t = Seq((1, "x", 2.0)).toDF("a", "b", "c")
    val built = DagRunner.run(spark, p.models, Map("raw.nums" -> t).apply, tmpWh())
    assert(built("slim").columns.toSeq === Seq("a", "c"))
    // An undeclared bare source inside a macro arg is the same compile error.
    val bad = synthProject(
      "packages.yml" -> "packages:\n  - package: dbt_utils\n",
      "models/sources.yml" -> srcYml,
      "models/m.sql" ->
        "SELECT {{ dbt_utils.star(from=source('raw', 'nope')) }} FROM {{ source('raw', 'nums') }}")
    val e = intercept[IllegalArgumentException](ProjectLoader.load(spark, bad))
    assert(e.getMessage.contains("not declared"))
  }

  test("star quote_identifiers=false leaves the renamed alias unquoted (both sides of the AS)") {
    import spark.implicits._
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("star_qt")
    def expanded(quote: String): String = {
      val sent = graft.engine.CatalogMacros
        .starNative(Seq("from=ref('star_qt')", "prefix='p_'", s"quote_identifiers=$quote"))
        .replace("{{ ref('star_qt') }}", "star_qt") // the render step the pipeline performs
      graft.engine.CatalogMacros.expand(spark, sent)
    }
    assert(expanded("false") === "a AS p_a, b AS p_b")
    assert(expanded("true") === "`a` AS `p_a`, `b` AS `p_b`")
  }

  test("{% docs %} blocks resolve doc() references in descriptions; missing and duplicate names fail loudly") {
    import spark.implicits._
    val dir = synthProject(
      "models/overview.md" ->
        """{% docs orders_doc %}
          |The **orders** staging model.
          |{% enddocs %}
          |{% docs ok_col %}Order key.{% enddocs %}""".stripMargin,
      "models/m.sql" -> "SELECT 1 AS ok",
      "models/schema.yml" ->
        """version: 2
          |models:
          |  - name: m
          |    description: "{{ doc('orders_doc') }}"
          |    columns:
          |      - name: ok
          |        description: "prefix {{ doc('ok_col') }} suffix"
          |""".stripMargin)
    val p = ProjectLoader.load(spark, dir)
    assert(p.descriptions("m") === "The **orders** staging model.")
    assert(p.columnDescriptions("m")("ok") === "prefix Order key. suffix")
    // A doc() reference to an undefined block is dbt's compile error.
    val bad = synthProject(
      "models/m.sql" -> "SELECT 1 AS ok",
      "models/schema.yml" ->
        "version: 2\nmodels:\n  - name: m\n    description: \"{{ doc('nope') }}\"\n")
    val e = intercept[IllegalArgumentException](ProjectLoader.load(spark, bad))
    assert(e.getMessage.contains("doc('nope')"))
    // Duplicate block names across files fail loudly.
    val dup = synthProject(
      "models/a.md" -> "{% docs d %}one{% enddocs %}",
      "models/b.md" -> "{% docs d %}two{% enddocs %}",
      "models/m.sql" -> "SELECT 1 AS ok")
    val e2 = intercept[IllegalArgumentException](ProjectLoader.load(spark, dup))
    assert(e2.getMessage.contains("duplicate"))
  }

  test("persist_docs writes relation/column doc sidecars into table-family targets; views are skipped") {
    import spark.implicits._
    val dir = synthProject(
      "models/t.sql" -> "{{ config(materialized='table') }} SELECT 1 AS a",
      "models/v.sql" -> "SELECT 2 AS b",
      "models/docs.md" -> "{% docs tdoc %}A documented table.{% enddocs %}",
      "models/schema.yml" ->
        """version: 2
          |models:
          |  - name: t
          |    description: "{{ doc('tdoc') }}"
          |    columns:
          |      - name: a
          |        description: the a column
          |  - name: v
          |    description: a view
          |""".stripMargin)
    // +persist_docs map form at the project level.
    java.nio.file.Files.writeString(dir.resolve("dbt_project.yml"),
      """name: synth
        |models:
        |  +persist_docs:
        |    relation: true
        |    columns: true
        |""".stripMargin)
    val p = ProjectLoader.load(spark, dir)
    assert(p.persistDocs("t") === ((true, true)))
    val wh = tmpWh()
    val builtDocs =
      graft.engine.DagRunner.run(spark, p.models, n => sys.error(s"no source $n"), wh)
    val written = p.persistDocsSidecars(spark, wh, builtDocs.keySet.toSet)
    assert(written.size === 1, s"only the table model persists docs, got $written")
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(written.head.stripPrefix("file:"))), "UTF-8")
    assert(body.contains("A documented table."))
    assert(body.contains("\"a\":\"the a column\""))
  }

  test("generate_schema_name / generate_alias_name macros route schemas and relation names per target") {
    import spark.implicits._
    val files = Seq(
      "macros/naming.sql" ->
        """{% macro generate_schema_name(custom_schema_name, node) -%}
          |  {%- if custom_schema_name is none -%}
          |    {{ target.schema }}
          |  {%- elif target.name == 'prod' -%}
          |    {{ custom_schema_name | trim }}
          |  {%- else -%}
          |    {{ target.name }}_{{ custom_schema_name }}
          |  {%- endif -%}
          |{%- endmacro %}
          |{% macro generate_alias_name(custom_alias_name, node) -%}
          |  {%- if custom_alias_name is none -%}{{ node.name }}{%- else -%}pre_{{ custom_alias_name }}{%- endif -%}
          |{%- endmacro %}""".stripMargin,
      "models/m.sql" -> "{{ config(schema='mart', alias='core') }} SELECT 1 AS a",
      "models/plain.sql" -> "SELECT 2 AS b")
    val dev = ProjectLoader.load(spark, synthProject(files: _*))
    // dev: custom schema prefixed by target name; alias macro applies.
    assert(dev.model("m").schema === Some("dev_mart"))
    assert(dev.model("m").alias === Some("pre_core"))
    // No custom schema → target.schema branch; no custom alias → node.name.
    assert(dev.model("plain").schema === Some("main"))
    assert(dev.model("plain").alias === Some("plain"))
    val prod = ProjectLoader.load(spark, synthProject(files: _*), target = "prod")
    assert(prod.model("m").schema === Some("mart"))
    // The alias routes the warehouse path; ref() stays on the model name.
    val wh = tmpWh()
    val built = DagRunner.run(spark, dev.models, n => sys.error(s"no source $n"), wh)
    assert(built.contains("m"))
    assert(DagRunner.targetPath(wh, dev.model("m")).endsWith("/main/dev_mart/pre_core"))
  }

  // ---- dependencies.yml cross-project refs (dbt mesh) ---------------------

  private def meshConsumerDir = Seq(
    java.nio.file.Paths.get("fixtures/mesh_consumer"),
    java.nio.file.Paths.get("/root/repo/fixtures/mesh_consumer"))
    .find(java.nio.file.Files.isDirectory(_)).get

  test("dependencies.yml: the upstream project's models join the DAG; a two-arg ref builds end-to-end") {
    import spark.implicits._
    val p = ProjectLoader.load(spark, meshConsumerDir)
    assert(p.name === "mesh_consumer")
    // Consumer model + both upstream models are in the runnable DAG.
    assert(p.models.map(_.name).toSet ===
      Set("mesh_dashboard", "core_orders_enriched", "core_internal_margins"))
    // The two-arg ref became a plain DAG edge; governance metadata
    // parsed from the upstream's config headers.
    assert(p.model("mesh_dashboard").refs.contains("core_orders_enriched"))
    assert(p.model("core_orders_enriched").access === "public")
    assert(p.model("core_orders_enriched").group === Some("core"))
    assert(p.model("core_internal_margins").access === "protected")
    // Upstream source declarations merged under their qualified keys.
    assert(p.sources.map(_.key).toSet === Set("tpch.customer", "tpch.orders"))
    // Build the consumer model's closure over tiny in-memory tables.
    val orders = Seq((1L, 10L, "1995-01-01", 250000.0), (2L, 10L, "1995-01-02", 1000.0),
      (3L, 20L, "1995-01-03", 900000.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val customer = Seq((10L, "BUILDING"), (20L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val sel = DagRunner.withLazyUpstreams(p.models,
      DagRunner.select(p.models, "+mesh_dashboard"))
    val built = DagRunner.run(spark, sel, {
      case "tpch.orders" => orders
      case "tpch.customer" => customer
      case n => sys.error(s"no source $n")
    })
    val rows = built("mesh_dashboard")
      .select("c_mktsegment", "size_class", "n_orders", "total_price")
      .as[(String, String, Long, Double)].collect().toSet
    assert(rows === Set(("BUILDING", "big", 1L, 250000.0),
      ("BUILDING", "small", 1L, 1000.0), ("MACHINERY", "big", 1L, 900000.0)))
  }

  test("mesh governance: non-public targets, unknown projects/models, bare refs, and cycles all fail loudly") {
    def consumer(modelSql: String, deps: String =
        "projects:\n  - name: mesh_core\n    path: MESHCORE\n"): java.nio.file.Path = {
      val core = meshConsumerDir.getParent.resolve("mesh_core")
        .toAbsolutePath.normalize
      synthProject(
        "dependencies.yml" -> deps.replace("MESHCORE", core.toString),
        "models/consumer_m.sql" -> modelSql)
    }
    // Two-arg ref to a protected model: dbt's access error.
    val e1 = intercept[IllegalArgumentException](ProjectLoader.load(spark,
      consumer("SELECT * FROM {{ ref('mesh_core', 'core_internal_margins') }}")))
    assert(e1.getMessage.contains("access: protected"))
    // Unknown model in a declared project.
    val e2 = intercept[IllegalArgumentException](ProjectLoader.load(spark,
      consumer("SELECT * FROM {{ ref('mesh_core', 'nope') }}")))
    assert(e2.getMessage.contains("has no model 'nope'"))
    // Undeclared project.
    val e3 = intercept[IllegalArgumentException](ProjectLoader.load(spark,
      consumer("SELECT * FROM {{ ref('other_proj', 'm') }}")))
    assert(e3.getMessage.contains("not declared in"))
    // A bare ref to an upstream model demands the two-arg spelling.
    val e4 = intercept[IllegalArgumentException](ProjectLoader.load(spark,
      consumer("SELECT * FROM {{ ref('core_orders_enriched') }}")))
    assert(e4.getMessage.contains("ref('mesh_core', 'core_orders_enriched')"))
    // dependencies.yml entry whose path declares a different project name.
    val e5 = intercept[IllegalArgumentException](ProjectLoader.load(spark,
      consumer("SELECT 1 AS a",
        deps = "projects:\n  - name: wrong_name\n    path: MESHCORE\n")))
    assert(e5.getMessage.contains("declares project 'mesh_core'"))
    // A self-cycle is caught, not an infinite recursion.
    val cyc = synthProject("models/m.sql" -> "SELECT 1 AS a")
    java.nio.file.Files.writeString(cyc.resolve("dependencies.yml"),
      s"projects:\n  - name: synth\n    path: $cyc\n")
    val e6 = intercept[IllegalArgumentException](ProjectLoader.load(spark, cyc))
    assert(e6.getMessage.contains("cycle"))
  }

  test("mesh governance applies to PYTHON models: bare refs error, two-arg refs enforce access and build") {
    import spark.implicits._
    def consumerPy(pyBody: String): java.nio.file.Path = {
      val core = meshConsumerDir.getParent.resolve("mesh_core")
        .toAbsolutePath.normalize
      synthProject(
        "dependencies.yml" -> s"projects:\n  - name: mesh_core\n    path: $core\n",
        "models/consumer_py.py" -> pyBody)
    }
    // A bare dbt.ref naming an upstream model demands the two-arg form
    // (the SQL models' checkBareRefs rule).
    val e1 = intercept[IllegalArgumentException](ProjectLoader.load(spark,
      consumerPy("def model(dbt, session):\n    df = dbt.ref(\"core_orders_enriched\")\n    return df\n")))
    assert(e1.getMessage.contains("dbt.ref('mesh_core', 'core_orders_enriched')"))
    // Two-arg ref to a protected model: dbt's access error.
    val e2 = intercept[IllegalArgumentException](ProjectLoader.load(spark,
      consumerPy("def model(dbt, session):\n    df = dbt.ref(\"mesh_core\", \"core_internal_margins\")\n    return df\n")))
    assert(e2.getMessage.contains("access: protected"))
    // Undeclared project.
    val e3 = intercept[IllegalArgumentException](ProjectLoader.load(spark,
      consumerPy("def model(dbt, session):\n    df = dbt.ref(\"other_proj\", \"m\")\n    return df\n")))
    assert(e3.getMessage.contains("not declared in"))
    // A legal two-arg ref rewrites to the bare upstream key and builds.
    val p = ProjectLoader.load(spark,
      consumerPy("def model(dbt, session):\n    dbt.config(materialized=\"table\")\n" +
        "    df = dbt.ref(\"mesh_core\", \"core_orders_enriched\")\n" +
        "    return df.selectExpr(\"count(*) AS n\")\n"))
    assert(p.model("consumer_py").refs === Seq("core_orders_enriched"))
    val orders = Seq((1L, 10L, "1995-01-01", 250000.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val customer = Seq((10L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
    val wh = java.nio.file.Files.createTempDirectory("graft_meshpy").toString
    val built = DagRunner.run(spark,
      DagRunner.withLazyUpstreams(p.models,
        DagRunner.select(p.models, "+consumer_py")), {
        case "tpch.orders" => orders
        case "tpch.customer" => customer
        case n => sys.error(s"no source $n")
      }, wh)
    assert(built("consumer_py").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("model versions through the file frontend: unpinned refs resolve latest, pinned refs hold") {
    import spark.implicits._
    val dir = Seq(java.nio.file.Paths.get("fixtures/ver_project"),
      java.nio.file.Paths.get("/root/repo/fixtures/ver_project"))
      .find(java.nio.file.Files.isDirectory(_)).get
    val p = ProjectLoader.load(spark, dir)
    // The family's canonical node names carry the version suffix; the
    // pinned ref extracted as the canonical name, the unpinned ref as
    // the bare family name until the resolution pre-pass.
    assert(p.models.map(_.name).toSet === Set("rev_daily.v1", "rev_daily.v2",
      "rev_latest_wide", "rev_pinned_v1"))
    assert(p.model("rev_latest_wide").refs === Seq("rev_daily"))
    assert(p.model("rev_pinned_v1").refs === Seq("rev_daily.v1"))
    val resolved = DagRunner.resolveVersionRefs(p.models)
    assert(resolved.find(_.name == "rev_latest_wide").get.refs === Seq("rev_daily.v2"))
    val orders = Seq((1L, "1995-01-01", 100.0, "F"), (2L, "1995-01-01", 50.0, "O"),
      (3L, "1995-01-02", 10.0, "F"))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus")
    val built = DagRunner.run(spark, resolved,
      { case "tpch.orders" => orders; case n => sys.error(s"no source $n") })
    // latest (v2): fulfilled only, with counts; pinned (v1): all orders.
    assert(built("rev_latest_wide").select("o_orderdate", "rev", "n_orders")
      .as[(String, Double, Long)].collect().toSet ===
      Set(("1995-01-01", 100.0, 1L), ("1995-01-02", 10.0, 1L)))
    assert(built("rev_pinned_v1").select("o_orderdate", "rev")
      .as[(String, Double)].collect().toSet ===
      Set(("1995-01-01", 150.0), ("1995-01-02", 10.0)))
  }

  test("diamond mesh: a shared transitive upstream loads once and the combined DAG builds") {
    import spark.implicits._
    // core <- mid, core <- consumer, mid <- consumer: the classic diamond.
    val root = java.nio.file.Files.createTempDirectory("graft_diamond")
    def proj(name: String, files: (String, String)*): java.nio.file.Path = {
      val d = root.resolve(name)
      (files :+ ("dbt_project.yml" -> s"name: $name\n")).foreach { case (rel, body) =>
        val p = d.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, body)
      }
      d
    }
    proj("dia_core",
      "models/core_m.sql" ->
        ("{{ config(materialized='view', access='public') }} " +
          "SELECT o_orderkey, o_totalprice FROM {{ source('tpch', 'orders') }}"),
      "models/sources.yml" ->
        "version: 2\nsources:\n  - name: tpch\n    tables:\n      - name: orders\n")
    proj("dia_mid",
      "dependencies.yml" -> "projects:\n  - name: dia_core\n",
      "models/mid_m.sql" ->
        ("{{ config(materialized='view', access='public') }} " +
          "SELECT o_orderkey, o_totalprice * 2 AS dbl FROM {{ ref('dia_core', 'core_m') }}"))
    val consumer = proj("dia_consumer",
      "dependencies.yml" ->
        "projects:\n  - name: dia_core\n  - name: dia_mid\n",
      "models/top.sql" ->
        ("SELECT a.o_orderkey, b.dbl FROM {{ ref('dia_core', 'core_m') }} a " +
          "JOIN {{ ref('dia_mid', 'mid_m') }} b USING (o_orderkey)"))
    val p = ProjectLoader.load(spark, consumer)
    // The shared upstream's model appears exactly once in the merged DAG.
    assert(p.models.map(_.name).sorted === Seq("core_m", "mid_m", "top"))
    val orders = Seq((1L, 10.0), (2L, 20.0)).toDF("o_orderkey", "o_totalprice")
    val built = DagRunner.run(spark, p.models,
      { case "tpch.orders" => orders; case n => sys.error(s"no source $n") })
    assert(built("top").as[(Long, Double)].collect().toSet ===
      Set((1L, 20.0), (2L, 40.0)))
  }

  test("a model with BOTH an unpinned and a pinned-to-latest ref to the same family builds") {
    import spark.implicits._
    val dir = synthProject(
      "models/fam.v1.sql" ->
        "SELECT o_orderkey, o_totalprice AS rev FROM {{ source('tpch', 'orders') }}",
      "models/fam.v2.sql" ->
        "SELECT o_orderkey, o_totalprice AS rev FROM {{ source('tpch', 'orders') }} WHERE o_totalprice > 15",
      // The unpinned ref and the pinned-to-latest ref collapse to the
      // SAME resolved node after resolveVersionRefs; the rendered SQL
      // still reads the unpinned view name, which must stay registered.
      "models/both.sql" ->
        ("SELECT a.o_orderkey, a.rev, b.rev AS rev2 FROM {{ ref('fam') }} a " +
          "JOIN {{ ref('fam', v=2) }} b USING (o_orderkey)"),
      "models/sources.yml" ->
        "version: 2\nsources:\n  - name: tpch\n    tables:\n      - name: orders\n")
    val p = ProjectLoader.load(spark, dir)
    val resolved = DagRunner.resolveVersionRefs(p.models)
    val orders = Seq((1L, 10.0), (2L, 20.0)).toDF("o_orderkey", "o_totalprice")
    val built = DagRunner.run(spark, resolved,
      { case "tpch.orders" => orders; case n => sys.error(s"no source $n") })
    assert(built("both").select("o_orderkey", "rev", "rev2")
      .as[(Long, Double, Double)].collect().toSet === Set((2L, 20.0, 20.0)))
  }

  test("persist_docs sidecars are scoped to built models: a selected run never creates an unbuilt model's target dir") {
    val dir = synthProject(
      "models/a.sql" -> "{{ config(materialized='table') }} SELECT 1 AS x",
      "models/b.sql" -> "{{ config(materialized='table') }} SELECT 2 AS y",
      "models/schema.yml" ->
        "version: 2\nmodels:\n  - name: a\n    description: doc a\n  - name: b\n    description: doc b\n")
    java.nio.file.Files.writeString(dir.resolve("dbt_project.yml"),
      "name: synth\nmodels:\n  +persist_docs:\n    relation: true\n")
    val p = ProjectLoader.load(spark, dir)
    val wh = tmpWh()
    // Simulate `--select a`: only a builds; the sidecar pass must not
    // touch b's target path (fs.create would CREATE the directory, and a
    // later incremental run of b would mistake it for existing state).
    val sel = DagRunner.select(p.models, "a")
    val built = DagRunner.run(spark, sel, n => sys.error(s"no source $n"), wh)
    val written = p.persistDocsSidecars(spark, wh, built.keySet.toSet)
    assert(written.size === 1 && written.head.contains("/a/"))
    val bPath = new org.apache.hadoop.fs.Path(DagRunner.targetPath(wh, p.model("b")))
    val fs = bPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(bPath), s"unbuilt model's target dir was created: $bPath")
  }

  test("naming macros refuse a custom value that is not a safe identifier") {
    val files = Seq(
      "macros/naming.sql" ->
        """{% macro generate_schema_name(custom_schema_name, node) -%}
          |  {%- if custom_schema_name is none -%}{{ target.schema }}{%- else -%}{{ custom_schema_name | trim }}{%- endif -%}
          |{%- endmacro %}""".stripMargin,
      "models/m.sql" -> "{{ config(schema='mart; drop') }} SELECT 1 AS a")
    val e = intercept[IllegalArgumentException](
      ProjectLoader.load(spark, synthProject(files: _*)))
    assert(e.getMessage.contains("not a safe identifier"))
  }

  test("schema.yml contracts: enforced column set/types/not-null through the file frontend") {
    def proj(modelSql: String, dataType: String = "bigint") = synthProject(
      "models/m.sql" -> modelSql,
      "models/schema.yml" ->
        s"""version: 2
           |models:
           |  - name: m
           |    config:
           |      contract:
           |        enforced: true
           |    columns:
           |      - name: id
           |        data_type: $dataType
           |        constraints:
           |          - type: not_null
           |      - name: label
           |        data_type: string
           |""".stripMargin)
    def run(dir: java.nio.file.Path) = {
      val p = ProjectLoader.load(spark, dir)
      assert(p.model("m").contract.map(_.name) === Seq("id", "label"))
      assert(p.model("m").contract.head.notNull)
      DagRunner.run(spark, p.models, n => sys.error(s"no source $n"), tmpWh())
    }
    // Satisfied contract (order-insensitive set match).
    run(proj("SELECT 'a' AS label, CAST(1 AS BIGINT) AS id"))
    // Type mismatch.
    val e1 = intercept[IllegalArgumentException](
      run(proj("SELECT CAST(1 AS INT) AS id, 'a' AS label")))
    assert(e1.getMessage.contains("type mismatch"))
    // Undeclared extra column.
    val e2 = intercept[IllegalArgumentException](
      run(proj("SELECT CAST(1 AS BIGINT) AS id, 'a' AS label, 2 AS extra")))
    assert(e2.getMessage.contains("undeclared"))
    // not_null violated.
    val e3 = intercept[IllegalArgumentException](
      run(proj("SELECT CAST(NULL AS BIGINT) AS id, 'a' AS label")))
    assert(e3.getMessage.toLowerCase.contains("null"))
    // Contract on a model that does not exist.
    val e4 = intercept[IllegalArgumentException](ProjectLoader.load(spark, synthProject(
      "models/other.sql" -> "SELECT 1 AS a",
      "models/schema.yml" ->
        """version: 2
          |models:
          |  - name: ghost
          |    config:
          |      contract:
          |        enforced: true
          |    columns:
          |      - name: a
          |        data_type: int
          |""".stripMargin)))
    assert(e4.getMessage.contains("unknown model 'ghost'"))
  }

  test("macroDefs expose the project+package namespace for run-operation; a standalone call renders and runs") {
    import spark.implicits._
    val dir = synthProject(
      "packages.yml" -> "packages:\n  - package: dbt-labs/dbt_utils\n    version: 1.3.0\n",
      "macros/ops.sql" ->
        ("{% macro audit_count(tbl) %}SELECT '{{ tbl }}' AS relation, " +
          "count(*) AS n FROM {{ tbl }}{% endmacro %}"),
      "models/m.sql" -> "SELECT 1 AS a")
    val p = ProjectLoader.load(spark, dir)
    // The project macro and the package namespace are both addressable.
    assert(p.macroDefs.contains("audit_count"))
    assert(p.macroDefs.contains("dbt_utils.date_spine"))
    // The run-operation core: expand one standalone call, run the SQL.
    Seq((1, "x"), (2, "y")).toDF("id", "v").createOrReplaceTempView("audit_src")
    val rendered = graft.engine.SqlModel.expandMacros(
      "{{ audit_count('audit_src') }}", p.macroDefs, p.nativeMacroDefs)
    val row = spark.sql(rendered).as[(String, Long)].head()
    assert(row === ("audit_src", 2L))
  }

  test("incremental strategies append and delete+insert parse from config headers") {
    import graft.engine.{IncrementalAppend, MergeUpsert}
    val p = ProjectLoader.load(spark, synthProject(
      "models/ev_append.sql" ->
        ("{{ config(materialized='incremental', incremental_strategy='append', " +
          "partition_by='day') }} SELECT 1 AS id, 'a' AS day"),
      "models/ev_append_flat.sql" ->
        ("{{ config(materialized='incremental', incremental_strategy='append') }} " +
          "SELECT 1 AS id"),
      "models/ev_di.sql" ->
        ("{{ config(materialized='incremental', incremental_strategy='delete+insert', " +
          "unique_key='id', partition_by='day') }} SELECT 1 AS id, 'a' AS day")))
    assert(p.model("ev_append").materialization === IncrementalAppend(Some("day")))
    assert(p.model("ev_append_flat").materialization === IncrementalAppend(None))
    assert(p.model("ev_di").materialization === MergeUpsert("id", "day"))
    // delete+insert without unique_key is loud.
    val e = intercept[IllegalArgumentException](ProjectLoader.load(spark, synthProject(
      "models/bad.sql" ->
        ("{{ config(materialized='incremental', incremental_strategy='delete+insert', " +
          "partition_by='day') }} SELECT 1 AS id, 'a' AS day"))))
    assert(e.getMessage.contains("requires unique_key"))
  }

  test("a singular test without a ref, or with a bad severity, fails loudly at load") {
    val e1 = intercept[IllegalArgumentException](ProjectLoader.load(spark, synthProject(
      "models/m.sql" -> "SELECT 1 AS a",
      "tests/no_ref.sql" -> "SELECT 1 WHERE 1 = 2")))
    assert(e1.getMessage.contains("must ref()"))
    val e2 = intercept[IllegalArgumentException](ProjectLoader.load(spark, synthProject(
      "models/m.sql" -> "SELECT 1 AS a",
      "tests/bad.sql" -> "{{ config(severity='loud') }} SELECT * FROM {{ ref('m') }}")))
    assert(e2.getMessage.contains("severity"))
  }
}
