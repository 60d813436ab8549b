package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine._

/** dbt-semantics tests (SURVEY.md §5 layer 2): DAG topo-order, view vs
  * incremental materialization, and the insert-overwrite partition
  * invariant — replace exactly the listed partitions, preserve the rest
  * (`atinternet_smarttag_streams_daily_v4.sql:1-22`).
  */
class EngineSpec extends SparkSpec {

  private def m(name: String, refs: String*): Model =
    Model(name, refs, (s, r) => s.range(1).toDF("x"))

  test("topoSort orders refs before dependents, deterministically") {
    val models = Seq(m("dashboard", "vod", "tv"), m("tv", "poms"), m("vod", "poms", "streams"),
      m("poms"), m("streams", "poms"))
    val order = DagRunner.topoSort(models).map(_.name)
    assert(order.indexOf("poms") < order.indexOf("tv"))
    assert(order.indexOf("poms") < order.indexOf("streams"))
    assert(order.indexOf("streams") < order.indexOf("vod"))
    assert(order.indexOf("vod") < order.indexOf("dashboard"))
    assert(order.indexOf("tv") < order.indexOf("dashboard"))
    assert(order === DagRunner.topoSort(models.reverse).map(_.name))
  }

  test("select resolves dbt node-selection closures (+model, model+, unions, typos)") {
    val models = Seq(m("dashboard", "vod", "tv"), m("tv", "poms"), m("vod", "poms", "streams"),
      m("poms"), m("streams", "poms"))
    def names(spec: String) = DagRunner.select(models, spec).map(_.name).toSet
    assert(names("vod") === Set("vod"))
    assert(names("+vod") === Set("vod", "poms", "streams"))
    assert(names("streams+") === Set("streams", "vod", "dashboard"))
    assert(names("+tv+") === Set("tv", "poms", "dashboard"))
    assert(names("tv streams") === Set("tv", "streams"))
    val e = intercept[IllegalArgumentException](names("+nope+"))
    assert(e.getMessage.contains("nope"))
  }

  test("select: dbt set operators — comma intersects, whitespace unions, @ closes both ways") {
    def tagged(name: String, ts: Set[String], refs: String*) =
      m(name, refs: _*).copy(tags = ts)
    val models = Seq(
      tagged("dashboard", Set("reporting"), "vod", "tv"),
      tagged("tv", Set("nightly"), "poms"),
      tagged("vod", Set("nightly", "reporting"), "poms", "streams"),
      tagged("poms", Set.empty),
      tagged("streams", Set("nightly"), "poms"))
    def names(spec: String, exclude: String = "") =
      DagRunner.select(models, spec, exclude).map(_.name).toSet
    // tag: method selector, with and without closures
    assert(names("tag:nightly") === Set("tv", "vod", "streams"))
    assert(names("tag:reporting+") === Set("dashboard", "vod"))
    assert(names("+tag:reporting") === Set("dashboard", "vod", "tv", "poms", "streams"))
    // comma = INTERSECTION within a token (dbt), whitespace = union
    assert(names("tag:nightly,streams+") === Set("streams", "vod"))
    assert(names("tag:nightly,tag:reporting") === Set("vod"))
    assert(names("poms tag:reporting") === Set("poms", "dashboard", "vod"))
    // tag matching nothing is legal (not a typo'd model name)
    assert(names("tag:nope") === Set.empty)
    // @model: descendants plus ALL their ancestors
    assert(names("@streams") === Set("streams", "vod", "dashboard", "poms", "tv"))
    assert(names("@tv") === Set("tv", "dashboard", "poms", "vod", "streams"))
    // --exclude subtracts its own selection after the union
    assert(names("tag:nightly", "streams") === Set("tv", "vod"))
    assert(names("+dashboard", "tag:nightly+") === Set("poms"),
      "excluding nightly models and their descendants (dashboard included) leaves only poms")
    intercept[IllegalArgumentException](names("@+tv"))
  }

  test("build interleaves data tests with materialization and skips descendants of a failure") {
    import org.apache.spark.sql.SparkSession
    // base -> mid (fails not_null) -> leaf; side builds from base on a
    // clean branch and must NOT be skipped.
    var builtOrder = Vector.empty[String]
    def rec(name: String)(f: (SparkSession, Map[String, org.apache.spark.sql.DataFrame]) => org.apache.spark.sql.DataFrame) =
      Model(name, if (name == "base") Nil else Seq("base"),
        (s, r) => { builtOrder :+= name; f(s, r) })
    val base = rec("base")((s, _) => s.range(3).toDF("k"))
    val mid = Model("mid", Seq("base"),
      (s, r) => { builtOrder :+= "mid"; r("base").select(when(col("k") > 0, col("k")).as("k")) })
    val leaf = Model("leaf", Seq("mid"),
      (s, r) => { builtOrder :+= "leaf"; r("mid") })
    val side = rec("side")((s, r) => r("base"))
    val report = DagRunner.build(spark, Seq(leaf, mid, side, base),
      n => fail(s"no external source expected: $n"),
      checks = Seq(
        DataTests.NotNull("mid", "k"),
        DataTests.NotNull("base", "k"),
        DataTests.Unique("side", Seq("k"))))
    assert(!report.ok)
    assert(report.failures.keySet === Set("mid"))
    assert(report.failures("mid").head._1 === "not_null(k)")
    assert(report.failures("mid").head._2 === 1L, "k=0 maps to NULL — exactly one violation")
    assert(report.skipped === Seq("leaf"), "only the failing model's descendants skip")
    assert(report.built.keySet === Set("base", "side"),
      "clean branches keep building; the failing model is not in built")
    assert(!builtOrder.contains("leaf"), "a skipped model's builder must never run")
    // all-green DAG: ok, nothing skipped, everything built
    val green = DagRunner.build(spark, Seq(side, base),
      n => fail(s"unexpected $n"),
      checks = Seq(DataTests.NotNull("base", "k")))
    assert(green.ok && green.built.keySet === Set("base", "side"))
  }

  test("retry reruns exactly the failed + skipped nodes against warehouse state (dbt retry)") {
    val wh = Files.createTempDirectory("graft-retry").toString
    val results = s"$wh/run_results.json"
    var buildCount = Map.empty[String, Int].withDefaultValue(0)
    def counted(name: String, bad: Boolean, refs: String*) =
      Model(name, refs, (s, r) => {
        buildCount += name -> (buildCount(name) + 1)
        val base = refs.foldLeft(s.range(3).toDF("k"))((d, rf) => d.unionAll(r(rf)))
        if (bad) base.select(when(col("k") > 0, col("k")).as("k")) else base
      }, materialization = Table)
    val base = counted("base", bad = false)
    val mid = counted("mid", bad = true, "base")
    val leaf = counted("leaf", bad = false, "mid")
    val models = Seq(base, mid, leaf)
    val check = Seq(DataTests.NotNull("mid", "k"))
    val r1 = DagRunner.build(spark, models, n => fail(s"unexpected $n"), wh, check)
    assert(!r1.ok && r1.failures.keySet === Set("mid") && r1.skipped === Seq("leaf"))
    DagRunner.writeRunResults(spark, r1, results)
    // "Fix" the model, then retry: only mid + leaf rebuild, base resolves
    // from the warehouse untouched.
    val fixed = models.map(m =>
      if (m.name == "mid") counted("mid", bad = false, "base") else m)
    val retry = DagRunner.retrySelection(spark, fixed, results)
    assert(retry.map(_.name).toSet === Set("mid", "leaf"))
    val r2 = DagRunner.build(spark, retry,
      n => spark.read.parquet(s"$wh/main/main/$n"), wh, check)
    assert(r2.ok && r2.built.keySet === Set("mid", "leaf"))
    assert(buildCount("base") === 1, "a green upstream must not rebuild on retry")
    DagRunner.writeRunResults(spark, r2, results)
    assert(DagRunner.retrySelection(spark, fixed, results).isEmpty,
      "a green build leaves nothing to retry")
  }

  test("clone copies table-family targets across warehouses without rebuilding (dbt clone)") {
    val prod = Files.createTempDirectory("graft-cloneprod").toString
    val dev = Files.createTempDirectory("graft-clonedev").toString
    val t = Model("t1", Nil, (s, _) => s.range(4).toDF("x"), materialization = Table)
    val v = Model("v1", Seq("t1"), (s, r) => r("t1"))
    DagRunner.run(spark, Seq(t, v), n => fail(s"unexpected $n"), prod)
    val cloned = DagRunner.cloneModels(spark, Seq(t, v), prod, dev)
    assert(cloned === Seq("t1"), "views have no on-disk form to clone")
    assert(spark.read.parquet(s"$dev/main/main/t1").count() === 4)
    // Refusal without overwrite; success with it.
    intercept[IllegalArgumentException](DagRunner.cloneModels(spark, Seq(t), prod, dev))
    assert(DagRunner.cloneModels(spark, Seq(t), prod, dev, overwrite = true) === Seq("t1"))
  }

  test("incremental append: runs accumulate rows; full-refresh rebuilds; partition_by shapes the layout") {
    val wh = Files.createTempDirectory("graft-app").toString
    def batch(n: Int): Model = Model("events_log", Nil,
      (s, _) => {
        import s.implicits._
        Seq((n.toLong, s"d$n")).toDF("id", "day")
      },
      materialization = IncrementalAppend(Some("day")))
    assert(DagRunner.run(spark, Seq(batch(1)), x => fail(x), wh)("events_log").count() === 1L)
    assert(DagRunner.run(spark, Seq(batch(2)), x => fail(x), wh)("events_log").count() === 2L)
    // append is NOT idempotent — dbt's own documented trade.
    assert(DagRunner.run(spark, Seq(batch(2)), x => fail(x), wh)("events_log").count() === 3L)
    // Partitioned layout on disk.
    val path = DagRunner.targetPath(wh, batch(0))
    assert(new java.io.File(path).list().exists(_.startsWith("day=")))
    // full-refresh resets to the single batch.
    spark.conf.set("spark.graft.fullRefresh", "true")
    try assert(DagRunner.run(spark, Seq(batch(9)), x => fail(x), wh)("events_log").count() === 1L)
    finally spark.conf.unset("spark.graft.fullRefresh")
  }

  test("model versions: unpinned refs resolve to the latest version; pinned refs hold") {
    val wh = Files.createTempDirectory("graft-ver").toString
    def v(name: String, n: Int): Model =
      Model(name, Nil, (s, _) => s.range(n).toDF("x"), materialization = Table)
    val family = Seq(v("dim_customers.v1", 1), v("dim_customers.v2", 2))
    val unpinned = Model("mart", Seq("dim_customers"), (s, r) => r("dim_customers"))
    val pinned = Model("legacy_mart", Seq("dim_customers.v1"), (s, r) => r("dim_customers.v1"))
    val resolved = DagRunner.resolveVersionRefs(family ++ Seq(unpinned, pinned))
    assert(resolved.find(_.name == "mart").get.refs === Seq("dim_customers.v2"),
      "an unversioned ref to a versioned family must resolve to latest")
    assert(resolved.find(_.name == "legacy_mart").get.refs === Seq("dim_customers.v1"),
      "a pinned ref is left untouched")
    // The rewritten refs only change WHERE the frame comes from; the
    // builder still looks it up under the ORIGINAL ref name, so rewire
    // through a builder that reads its single ref generically.
    val generic = resolved.map(m =>
      if (m.refs.size == 1 && m.name.endsWith("mart"))
        m.copy(build = (s, r) => r(m.refs.head)) else m)
    val out = DagRunner.run(spark, generic, n => fail(s"unexpected $n"), wh)
    assert(out("mart").count() === 2L)
    assert(out("legacy_mart").count() === 1L)
  }

  test("access governance: private models ref-able only within their group; --empty dry-runs the DAG") {
    val wh = Files.createTempDirectory("graft-gov").toString
    val core = Model("core_dim", Nil, (s, _) => s.range(3).toDF("x"),
      group = Some("core"), access = "private")
    val sameGroup = Model("core_mart", Seq("core_dim"), (s, r) => r("core_dim"),
      group = Some("core"))
    // Same group: allowed.
    assert(DagRunner.run(spark, Seq(core, sameGroup),
      n => fail(s"unexpected $n"), wh)("core_mart").count() === 3)
    // Cross-group ref of a private model: rejected with the edge named.
    val outsider = Model("finance_mart", Seq("core_dim"), (s, r) => r("core_dim"),
      group = Some("finance"))
    val e = intercept[IllegalArgumentException](
      DagRunner.run(spark, Seq(core, outsider), n => fail(s"unexpected $n"), wh))
    assert(e.getMessage.contains("finance_mart") && e.getMessage.contains("core_dim"))
    // Public lifts the boundary.
    assert(DagRunner.run(spark, Seq(core.copy(access = "public"), outsider),
      n => fail(s"unexpected $n"), wh)("finance_mart").count() === 3)
    intercept[IllegalArgumentException](core.copy(access = "open"))
    // --empty: external inputs limit to 0 rows, the DAG still builds
    // typed targets, and contract violations trip at near-zero cost.
    import spark.implicits._
    val src = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val tbl = Model("emptied", Seq("ext"), (s, r) => r("ext"), materialization = Table)
    val out = DagRunner.runEmpty(spark, Seq(tbl), Map("ext" -> src), wh)
    assert(out("emptied").count() === 0)
    assert(out("emptied").schema.fieldNames.toSeq === Seq("id", "name"),
      "an empty run must still materialize the full typed schema")
    val broken = tbl.copy(name = "emptied2",
      contract = Seq(ColumnContract("id", "STRING")))
    val e2 = intercept[IllegalArgumentException](
      DagRunner.runEmpty(spark, Seq(broken), Map("ext" -> src), wh))
    assert(e2.getMessage.contains("contract violated"))
  }

  test("model contracts: exact schema match + not-null constraints enforced at materialization") {
    val wh = Files.createTempDirectory("graft-contract").toString
    def withContract(c: Seq[ColumnContract], build: (org.apache.spark.sql.SparkSession, Map[String, org.apache.spark.sql.DataFrame]) => org.apache.spark.sql.DataFrame) =
      Model("contracted", Nil, build, materialization = Table, contract = c)
    val good = Seq(ColumnContract("id", "BIGINT", notNull = true),
      ColumnContract("name", "STRING"))
    // Conforming output materializes normally.
    val ok = DagRunner.run(spark, Seq(withContract(good,
      (s, _) => s.range(3).toDF("id").select(col("id"), lit("x").as("name")))),
      n => fail(s"unexpected $n"), wh)
    assert(ok("contracted").count() === 3)
    // Wrong type fails with a per-column diff naming the offender.
    val eType = intercept[IllegalArgumentException](DagRunner.run(spark,
      Seq(withContract(good, (s, _) =>
        s.range(3).toDF("id").select(col("id").cast("int").as("id"), lit("x").as("name")))),
      n => fail(s"unexpected $n"), wh))
    assert(eType.getMessage.contains("declared bigint") && eType.getMessage.contains("actual int"))
    // Reordered columns PASS — dbt compares the column set, not order.
    val reordered = DagRunner.run(spark, Seq(withContract(good, (s, _) =>
      s.range(3).toDF("id").select(lit("x").as("name"), col("id")))),
      n => fail(s"unexpected $n"), wh)
    assert(reordered("contracted").count() === 3)
    // Extra / missing columns fail, naming the offenders.
    val eCols = intercept[IllegalArgumentException](DagRunner.run(spark,
      Seq(withContract(good, (s, _) =>
        s.range(3).toDF("id").select(col("id"), lit("x").as("name"), lit(1).as("extra_col")))),
      n => fail(s"unexpected $n"), wh))
    assert(eCols.getMessage.contains("contract violated") &&
      eCols.getMessage.contains("undeclared: extra_col"))
    val eMiss = intercept[IllegalArgumentException](DagRunner.run(spark,
      Seq(withContract(good, (s, _) => s.range(3).toDF("id"))),
      n => fail(s"unexpected $n"), wh))
    assert(eMiss.getMessage.contains("missing: name"))
    // A NULL in a not-null column fails with the count.
    val eNull = intercept[IllegalArgumentException](DagRunner.run(spark,
      Seq(withContract(good, (s, _) => s.range(3).toDF("id")
        .select(when(col("id") > 0, col("id")).as("id"), lit("x").as("name")))),
      n => fail(s"unexpected $n"), wh))
    assert(eNull.getMessage.contains("not-null") && eNull.getMessage.contains("id (1 NULLs)"))
  }

  test("microbatch: back-fill from begin, then lookback + new days only; resume from a crashed prefix") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-micro").toString
    var src = Seq(("2021-01-01 10:00:00", "a"), ("2021-01-02 10:00:00", "b"),
      ("2021-01-03 10:00:00", "c")).toDF("evt_ts", "v")
      .select(col("evt_ts").cast("timestamp").as("evt_ts"), col("v"))
    def mb(asOf: String) = Model("daily", Nil,
      (s, _) => src,
      materialization = IncrementalMicrobatch("evt_ts", "evt_date",
        begin = "2021-01-01", asOf = asOf))
    // First run: every day in [begin, asOf] back-fills.
    DagRunner.run(spark, Seq(mb("2021-01-03")), n => fail(s"unexpected $n"), wh)
    val target = s"$wh/main/main/daily"
    def partDirs = new java.io.File(target).listFiles()
      .filter(_.getName.startsWith("evt_date=")).map(_.getName).sorted.toSeq
    assert(partDirs === Seq("evt_date=2021-01-01", "evt_date=2021-01-02", "evt_date=2021-01-03"))
    def fileSig(day: String) = new java.io.File(s"$target/evt_date=$day").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSeq.sorted
    val day1Before = fileSig("2021-01-01")
    // New day-4 rows, a LATE day-3 row (inside lookback=1) and a late
    // day-1 row (outside it): the second run must reprocess day 3 and
    // add day 4, leaving day 1 byte-untouched (its late row is missed —
    // exactly dbt's lookback contract).
    src = src.unionAll(Seq(("2021-01-04 09:00:00", "d"), ("2021-01-03 23:00:00", "late3"),
      ("2021-01-01 23:00:00", "late1")).toDF("evt_ts", "v")
      .select(col("evt_ts").cast("timestamp").as("evt_ts"), col("v")))
    DagRunner.run(spark, Seq(mb("2021-01-04")), n => fail(s"unexpected $n"), wh)
    val got = spark.read.parquet(target).select("v").as[String].collect().sorted.toSeq
    assert(got === Seq("a", "b", "c", "d", "late3"),
      "day-3 late row picked up by lookback, day-1 late row not, day-4 appended")
    assert(fileSig("2021-01-01") === day1Before, "untouched days keep their files")
    // Crash-resume: a target whose newest partition is day 2 (simulate a
    // crash after day 2 of a [1..4] run) resumes at day 2 (lookback),
    // not from begin and not from day 4.
    val days = DagRunner.microbatchDays(spark, target, "evt_date",
      begin = "2021-01-01", asOf = "2021-01-04", lookback = 1)
    assert(days === Seq("2021-01-04"), "newest partition day-4 + lookback 1 = reprocess day 4 only")
    val resumed = DagRunner.microbatchDays(spark, s"$wh/nope", "evt_date",
      begin = "2021-01-01", asOf = "2021-01-03", lookback = 1)
    assert(resumed === Seq("2021-01-01", "2021-01-02", "2021-01-03"),
      "missing target = first run = full back-fill")
    // Idempotency: re-running the same asOf changes nothing.
    DagRunner.run(spark, Seq(mb("2021-01-04")), n => fail(s"unexpected $n"), wh)
    assert(spark.read.parquet(target).select("v").as[String].collect().sorted.toSeq === got)
  }

  test("warn-severity checks report violations without failing the model or skipping descendants") {
    val base = Model("base", Nil, (s, _) =>
      s.range(3).toDF("k").select(when(col("k") > 0, col("k")).as("k")))
    val leaf = Model("leaf", Seq("base"), (s, r) => r("base"))
    val report = DagRunner.build(spark, Seq(leaf, base),
      n => fail(s"unexpected $n"),
      warnChecks = Seq(DataTests.NotNull("base", "k")))
    assert(report.ok, "warn severity must not fail the build")
    assert(report.built.keySet === Set("base", "leaf"),
      "descendants of a warned model still build")
    assert(report.warnings === Map("base" -> Seq(("not_null(k)", 1L))))
    // The same check at error severity kills the subtree.
    val hard = DagRunner.build(spark, Seq(leaf, base),
      n => fail(s"unexpected $n"),
      checks = Seq(DataTests.NotNull("base", "k")))
    assert(!hard.ok && hard.skipped === Seq("leaf"))
  }

  test("pre/post hooks and on-run-start/end run in dbt order with {{ this }} resolved") {
    val dir = Files.createTempDirectory("graft-hooks").toFile.getAbsolutePath
    // Audit pattern: every hook creates a temp view REFERENCING the
    // previous hook's view — CREATE TEMP VIEW analyzes its body, so a
    // hook firing out of order fails loudly at creation. The post-hook
    // additionally reads {{ this }}, proving it runs after the write
    // with the path substituted.
    Seq("h_start", "h_pre", "h_post", "h_end")
      .foreach(v => spark.sql(s"DROP VIEW IF EXISTS $v"))
    val m1 = Model("hooked", Nil, (s, _) => s.range(3).toDF("x"),
      materialization = Table,
      preHooks = Seq("CREATE TEMP VIEW h_pre AS SELECT a FROM h_start"),
      postHooks = Seq(
        "CREATE TEMP VIEW h_post AS SELECT (SELECT count(*) FROM {{ this }}) AS n, a FROM h_pre"))
    val out = DagRunner.run(spark, Seq(m1), n => fail(s"unexpected $n"), dir,
      onRunStart = Seq("CREATE TEMP VIEW h_start AS SELECT 1 AS a"),
      onRunEnd = Seq("CREATE TEMP VIEW h_end AS SELECT n FROM h_post"))
    assert(out("hooked").count() === 3)
    assert(spark.table("h_end").head().getLong(0) === 3L,
      "the hook chain must complete in order with {{ this }} reading the materialized table")
  }

  test("ephemeral models inline into dependents: no view, no write, pushdown crosses the boundary") {
    val dir = Files.createTempDirectory("graft-eph").toFile.getAbsolutePath
    val src = Files.createTempDirectory("graft-eph-src").resolve("t").toString
    spark.range(100).selectExpr("id AS k", "id % 7 AS grp", "CAST(id * 2 AS LONG) AS v")
      .write.parquet(src)
    spark.sql("DROP VIEW IF EXISTS eph_mid")
    val eph = Model("eph_mid", Nil,
      (s, _) => s.read.parquet(src).select(col("k"), col("grp"), (col("v") + 1).as("v1")),
      materialization = Ephemeral)
    val leaf = Model("eph_leaf", Seq("eph_mid"),
      (s, r) => r("eph_mid").filter(col("grp") === 3).select("k", "v1"),
      materialization = Table)
    val built = DagRunner.run(spark, Seq(leaf, eph), n => fail(s"unexpected $n"), dir)
    // correctness: leaf equals the hand-composed plan
    val expect = spark.read.parquet(src).filter(col("grp") === 3)
      .selectExpr("k", "v + 1 AS v1").orderBy("k").collect().toSeq
    assert(built("eph_leaf").orderBy("k").collect().toSeq === expect)
    // never registered, never written
    assert(!spark.catalog.tableExists("eph_mid"))
    assert(!new java.io.File(s"$dir/main/main/eph_mid").exists())
    assert(new java.io.File(s"$dir/main/main/eph_leaf").exists())
    // Catalyst optimizes ACROSS the ephemeral boundary: the leaf's grp=3
    // filter must reach the parquet scan inside the ephemeral body.
    val plan = built("eph_leaf").queryExecution.executedPlan.toString
    // leaf reads its own materialized table; re-derive the pre-write plan
    val pre = leaf.build(spark, Map("eph_mid" -> eph.build(spark, Map.empty)))
    val preStr = pre.queryExecution.executedPlan.toString
    assert(preStr.contains("PushedFilters") && preStr.contains("EqualTo(grp,3"),
      s"filter must push through the ephemeral plan into the scan:\n$preStr\n$plan")
    // dbt restriction: ephemeral models cannot carry hooks
    val hooked = eph.copy(preHooks = Seq("SELECT 1"))
    val e = intercept[IllegalArgumentException](
      DagRunner.run(spark, Seq(hooked), n => fail(n), dir))
    assert(e.getMessage.contains("ephemeral"))
    // docs artifact reports the materialization
    val p = Files.createTempDirectory("graft-eph-docs").resolve("d.json").toString
    DagRunner.writeDocs(spark, Seq(eph), p)
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
    assert(body.contains("\"materialization\":\"ephemeral\""))
  }

  test("writeDocs emits valid JSON lineage for the real 13-model DAG") {
    val docsPath = Files.createTempDirectory("graft-docs")
      .resolve("docs.json").toString
    val models = graft.models.NpoDag.models(graft.models.testkit.NpoFixtures.today)
    DagRunner.writeDocs(spark, models, docsPath)
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(docsPath)), "UTF-8")
    // must be parseable JSON with every model present and lineage intact
    val parsed = org.json4s.jackson.JsonMethods.parse(body)
    val nodes = (parsed \ "nodes").asInstanceOf[org.json4s.JObject].obj.toMap
    assert(nodes.keySet === models.map(_.name).toSet)
    val dash = nodes("integral_reporting_dashboard_channel_weekly")
    val refs = (dash \ "refs").asInstanceOf[org.json4s.JArray]
      .arr.map(_.asInstanceOf[org.json4s.JString].s).toSet
    assert(refs.contains("integral_reporting_tvbroadcasts"))
    assert((nodes("atinternet_smarttag_streams_daily_v4") \ "materialization")
      .asInstanceOf[org.json4s.JString].s.startsWith("incremental:insert_overwrite"))
    // tags serialize (sorted) and parse back — a tagged synthetic model
    val tagged = Model("t", Nil, (s, _) => s.range(1).toDF("x"),
      tags = Set("pii", "nightly"))
    val p2 = Files.createTempDirectory("graft-docs2").resolve("d.json").toString
    DagRunner.writeDocs(spark, Seq(tagged), p2)
    val n2 = org.json4s.jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p2)), "UTF-8"))
    val ts = ((n2 \ "nodes" \ "t") \ "tags").asInstanceOf[org.json4s.JArray]
      .arr.map(_.asInstanceOf[org.json4s.JString].s)
    assert(ts === List("nightly", "pii"))
  }

  test("writeDocsSite renders the real DAG: DOT with every node+edge, standalone SVG HTML") {
    val dir = Files.createTempDirectory("graft-docsite").toString
    val models = graft.models.NpoDag.models(graft.models.testkit.NpoFixtures.today)
    val exp = Exposure("weekly_dash", "dashboard",
      Seq("integral_reporting_dashboard_channel_weekly"), owner = "bi")
    DagRunner.writeDocsSite(spark, models, dir, Seq(exp))
    val dot = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/lineage.dot")), "UTF-8")
    assert(dot.startsWith("digraph lineage {"))
    // Every model is a box node; every external source a cylinder.
    models.foreach(m => assert(dot.contains(s""""${m.name}" [shape=box];"""), m.name))
    assert(dot.contains(""""dim_poms_episodes" [shape=cylinder];"""))
    assert(dot.contains(""""weekly_dash" [shape=ellipse, style=dashed];"""))
    // Every ref is an edge, exposures hang off their dependencies.
    models.foreach(m => m.refs.foreach(r =>
      assert(dot.contains(s""""$r" -> "${m.name}";"""), s"$r -> ${m.name}")))
    assert(dot.contains(
      """"integral_reporting_dashboard_channel_weekly" -> "weekly_dash";"""))
    // Edge count is exactly refs + exposure dependencies (no dupes).
    assert(dot.linesIterator.count(_.contains(" -> ")) ===
      models.map(_.refs.size).sum + exp.dependsOn.size)
    val html = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/index.html")), "UTF-8")
    assert(html.contains("<svg") && html.contains("</svg>"))
    models.foreach(m => assert(
      html.contains(m.name) || html.contains(m.name.take(27) + "…"),
      s"${m.name} missing from HTML"))
  }

  test("build overlaps independent models at threads 4 and equals threads 1") {
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    def slow(name: String, refs: String*): Model =
      Model(name, refs, (s, r) => {
        val now = active.incrementAndGet()
        peak.updateAndGet(p => math.max(p, now))
        Thread.sleep(300)
        active.decrementAndGet()
        refs.foldLeft(s.range(2).toDF("x"))((d, rf) => d.unionAll(r(rf)))
      })
    // diamond: base -> (left, right) -> top; left/right must overlap
    val models = Seq(slow("base"), slow("left", "base"), slow("right", "base"),
      slow("top", "left", "right"))
    val par = DagRunner.build(spark, models, n => sys.error(s"no source $n"),
      threads = Some(4)).built
    assert(peak.get() >= 2, "independent models must have run concurrently")
    assert(par("top").count() === 10L) // 2 + left(2+2) + right(2+2) via the unions
    val seq = DagRunner.run(spark, models, n => sys.error(s"no source $n"), threads = Some(1))
    assert(par("top").exceptAll(seq("top")).count() === 0L)
    assert(seq("top").exceptAll(par("top")).count() === 0L)
  }

  test("run at threads 4 propagates the first failure") {
    val models = Seq(m("ok"),
      Model("boom", Seq("ok"), (s, r) => sys.error("deliberate")),
      m("after", "boom"))
    val e = intercept[RuntimeException] {
      DagRunner.run(spark, models, n => sys.error(s"no source $n"), threads = Some(4))
    }
    assert(e.getMessage.contains("deliberate"))
  }

  test("build isolates a model that throws: error recorded, descendants skipped") {
    // base -> boom (throws) -> leaf; side hangs off base on its own branch.
    var ran = Set.empty[String]
    def rec(name: String, refs: String*)(f: => Unit): Model =
      Model(name, refs, (s, _) => { synchronized(ran += name); f; s.range(2).toDF("k") })
    val models = Seq(rec("base")(()), rec("boom", "base")(sys.error("deliberate")),
      rec("leaf", "boom")(()), rec("side", "base")(()))
    val r = DagRunner.build(spark, models, n => fail(s"unexpected $n"), threads = Some(4))
    assert(!r.ok)
    assert(r.errors.keySet === Set("boom"))
    assert(r.errors("boom").getMessage.contains("deliberate"))
    assert(r.failures.isEmpty)
    assert(r.skipped === Seq("leaf"))
    assert(r.built.keySet === Set("base", "side"), "the independent branch finishes")
    assert(!ran("leaf"), "a skipped model's builder must never run")
    // dbt retry reruns the errored model along with its skipped descendants.
    val results = Files.createTempDirectory("graft-err").resolve("run_results.json").toString
    DagRunner.writeRunResults(spark, r, results)
    assert(DagRunner.retrySelection(spark, models, results).map(_.name).toSet === Set("boom", "leaf"))
  }

  test("build tests selected models only; a full build tests every model") {
    val wh = Files.createTempDirectory("graft-selected").toString
    // v (view, k NULL for one row) -> t (table); other is independent.
    val v = Model("v", Nil, (s, _) => s.range(3).select(when(col("id") > 0, col("id")).as("k")))
    val t = Model("t", Seq("v"), (s, r) => r("v"), materialization = Table)
    val other = Model("other", Nil, (s, _) => s.range(1).toDF("k"), materialization = Table)
    val all = Seq(v, t, other)
    val notNull = Seq(DataTests.NotNull("v", "k"), DataTests.NotNull("t", "k"))
    def build(spec: String, checks: Seq[DataTests.Check]) = DagRunner.build(spark,
      if (spec.isEmpty) all else DagRunner.withLazyUpstreams(all, DagRunner.select(all, spec)),
      n => fail(s"unexpected $n"), wh, checks)
    assert(DagRunner.withLazyUpstreams(all, DagRunner.select(all, "t"))
      .map(m => m.name -> m.selected).toMap === Map("v" -> false, "t" -> true))
    // `t` selected: the lazily added view is built but not tested.
    val sel = build("t", notNull)
    assert(sel.failures.keySet === Set("t"))
    assert(sel.built.keySet === Set("v"))
    // No selection: every model is tested.
    val full = build("", notNull)
    assert(full.failures.keySet === Set("v"))
    assert(full.skipped === Seq("t"))
    // A relationships check runs when either end is selected.
    val rel = Seq(DataTests.Relationships("v", "k", "other", "k"))
    assert(build("t other", rel).failures === Map("v" -> Seq(("relationships(k->other.k)", 2L))))
    assert(build("t", rel).ok, "neither end selected: the check does not run")
  }

  test("every job of a build carries a job tag naming its model and phase") {
    val wh = Files.createTempDirectory("graft-tags").toString
    val models = Seq(
      Model("a", Nil, (s, _) => s.range(5).toDF("k"), materialization = Table),
      Model("b", Seq("a"), (s, r) => r("a").filter(col("k") > 1), materialization = Table))
    val (report, jobs) = SparkSpec.jobsDuring(spark) {
      DagRunner.build(spark, models, n => fail(s"unexpected $n"), wh,
        checks = Seq(DataTests.NotNull("a", "k"), DataTests.Unique("b", Seq("k"))), threads = Some(2))
    }
    assert(report.get.ok)
    val tag = "graft:(build|test):([a-z]+):[0-9a-f]+".r
    val phases = jobs.map { j =>
      val ours = j.tags.toSeq.collect { case tag(phase, model) => (phase, model) }
      assert(ours.size === 1, s"job tags ${j.tags}")
      ours.head
    }.toSet
    assert(phases === Set(("build", "a"), ("build", "b"), ("test", "a"), ("test", "b")))
  }

  test("run cancels the jobs still running by tag and rethrows the first error") {
    import org.apache.spark.TaskContext
    val wh = Files.createTempDirectory("graft-cancel").toString
    // Each task waits up to 60 s unless Spark kills it.
    val stall = udf((x: Long) => {
      val t0 = System.nanoTime()
      while (!TaskContext.get().isInterrupted() && System.nanoTime() - t0 < 60e9) Thread.sleep(20)
      x
    })
    var afterSlow = false
    val models = Seq(
      Model("slow", Nil, (s, _) => s.range(0, 2, 1, 2).select(stall(col("id")).as("x")),
        materialization = Table),
      Model("after_slow", Seq("slow"), (s, r) => { afterSlow = true; r("slow") }),
      Model("boom", Nil, (s, _) => { Thread.sleep(1500); sys.error("deliberate") }))
    val t0 = System.nanoTime()
    val (result, jobs) = SparkSpec.jobsDuring(spark) {
      DagRunner.run(spark, models, n => fail(s"unexpected $n"), wh, threads = Some(2))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(result.failed.get.getMessage.contains("deliberate"), "the first error is rethrown")
    assert(secs < 30, s"run waited $secs s: the slow model's job was not cancelled")
    val slowJobs = jobs.filter(_.tags.exists(_.startsWith("graft:build:slow:")))
    assert(slowJobs.nonEmpty && slowJobs.forall(!_.succeeded))
    assert(!afterSlow, "no model starts after the first error")
  }

  test("a CSV seed materializes as a table, participates in ref(), and fingerprints its bytes") {
    val dir = Files.createTempDirectory("graft-seed")
    val csv = dir.resolve("cities.csv")
    java.nio.file.Files.write(csv, "city,pop\nam,10\nrd,25\n".getBytes("UTF-8"))
    val seed = graft.engine.Seeds.fromCsv(csv.toString)
    assert(seed.name === "cities")
    val view = SqlModel.fromSqlText("top_pop",
      "SELECT max(pop) AS p FROM {{ ref('cities') }}")
    val wh = Files.createTempDirectory("graft-seedwh").toString
    val built = DagRunner.run(spark, Seq(seed, view),
      n => sys.error(s"unexpected source $n"), wh)
    assert(built("top_pop").head().getInt(0) === 25)
    // The seed is a real warehouse table, not just a temp view.
    assert(spark.read.parquet(s"$wh/main/main/cities").count() === 2L)
    // Editing the file changes the fingerprint -> slim CI reselects the
    // seed and its descendant.
    val manifest = {
      val p = dir.resolve("manifest.json").toString
      DagRunner.writeManifest(spark, Seq(seed, view), p)
      DagRunner.readManifest(spark, p)
    }
    assert(DagRunner.selectModified(Seq(seed, view), manifest).isEmpty)
    java.nio.file.Files.write(csv, "city,pop\nam,10\nrd,25\nut,40\n".getBytes("UTF-8"))
    val edited = graft.engine.Seeds.fromCsv(csv.toString)
    assert(edited.fingerprint !== seed.fingerprint)
    assert(DagRunner.selectModified(Seq(edited, view), manifest).map(_.name)
      === Seq("cities", "top_pop"))
    // fromDir discovers seeds in deterministic order
    assert(graft.engine.Seeds.fromDir(dir.toString).map(_.name) === Seq("cities"))
  }

  test("manifest round-trips model names containing quotes and backslashes") {
    def fm(name: String, fp: String): Model = m(name).copy(fingerprint = Some(fp))
    val hostile = Seq(fm("""plain""", "f1"), fm("""has"quote""", "f2"),
      fm("""back\slash""", "f3"), fm("tab\tname", "f4"))
    val path = Files.createTempDirectory("graft-manifest-esc")
      .resolve("manifest.json").toString
    DagRunner.writeManifest(spark, hostile, path)
    val back = DagRunner.readManifest(spark, path)
    assert(back === hostile.map(mm => mm.name -> mm.fingerprint.get).toMap,
      "escaped names must parse back verbatim, not corrupt the manifest")
    assert(DagRunner.selectModified(hostile, back).isEmpty,
      "an unchanged hostile-named project must select nothing")
  }

  test("state:modified selection picks changed models plus descendants from the manifest") {
    def fm(name: String, fp: String, refs: String*): Model =
      m(name, refs: _*).copy(fingerprint = Some(fp))
    val v1 = Seq(fm("base", "b1"), fm("mid", "m1", "base"), fm("top", "t1", "mid"),
      fm("side", "s1", "base"))
    val manifestPath = Files.createTempDirectory("graft-manifest")
      .resolve("manifest.json").toString
    DagRunner.writeManifest(spark, v1, manifestPath)
    val manifest = DagRunner.readManifest(spark, manifestPath)
    // unchanged project -> empty slim-CI selection
    assert(DagRunner.selectModified(v1, manifest).isEmpty)
    // editing mid reselects mid and its descendant top, not base/side
    val v2 = v1.map(mm => if (mm.name == "mid") mm.copy(fingerprint = Some("m2")) else mm)
    assert(DagRunner.selectModified(v2, manifest).map(_.name) === Seq("mid", "top"))
    // a fingerprint-less model can never be proven unmodified
    val v3 = v1.map(mm => if (mm.name == "side") mm.copy(fingerprint = None) else mm)
    assert(DagRunner.selectModified(v3, manifest).map(_.name) === Seq("side"))
    // first run (no manifest on disk) -> everything is modified
    assert(DagRunner.selectModified(v1,
      DagRunner.readManifest(spark, manifestPath + ".missing")).size === 4)
    // SQL-text models fingerprint their RENDERED text: a var change is a modification
    def sqlM(vars: Map[String, String]) = SqlModel.fromSqlText("sm",
      "SELECT '{{ var('day') }}' AS d", vars = vars)
    assert(sqlM(Map("day" -> "2021-01-01")).fingerprint ===
      sqlM(Map("day" -> "2021-01-01")).fingerprint)
    assert(sqlM(Map("day" -> "2021-01-01")).fingerprint !==
      sqlM(Map("day" -> "2021-01-02")).fingerprint)
  }

  test("selected subgraph runs against warehouse state for unselected upstreams") {
    // Build the full DAG once (tables), then re-run only `vod+` with a
    // resolve that reads the warehouse: the upstreams must come from
    // disk, not be rebuilt — dbt's contract for `run --select`.
    val wh = Files.createTempDirectory("graft-select").toString
    var builds = Vector.empty[String]
    def counted(name: String, refs: String*): Model =
      Model(name, refs, (s, r) => {
        builds :+= name
        refs.foldLeft(s.range(3).toDF("x"))((d, rf) => d.unionAll(r(rf)))
      }, materialization = Table)
    val models = Seq(counted("base"), counted("mid", "base"), counted("top", "mid"))
    DagRunner.run(spark, models, n => sys.error(s"no source $n"), wh)
    assert(builds === Vector("base", "mid", "top"))
    builds = Vector.empty
    val out = DagRunner.run(spark, DagRunner.select(models, "mid+"),
      n => spark.read.parquet(s"$wh/main/main/$n"), wh)
    assert(builds === Vector("mid", "top"), "only the selected closure may rebuild")
    assert(out.keySet === Set("mid", "top"))
    assert(out("top").count() === 9L) // 3 base (from disk) + 3 mid + 3 top
  }

  test("withLazyUpstreams joins View AND Ephemeral upstreams to a selection (ADVICE r9)") {
    // src(Table) → eph(Ephemeral) → vw(View) → top(Table): selecting
    // `top` must pull vw and eph into the run (no on-disk form to read
    // back) but leave src to warehouse resolution.
    val wh = Files.createTempDirectory("graft-lazysel").toString
    def model(name: String, mat: Materialization, refs: String*): Model =
      Model(name, refs, (s, r) =>
        refs.foldLeft(s.range(2).toDF("x"))((d, rf) => d.unionAll(r(rf))),
        materialization = mat)
    val models = Seq(
      model("src", Table),
      model("eph", Ephemeral, "src"),
      model("vw", View, "eph"),
      model("top", Table, "vw"))
    DagRunner.run(spark, models, n => sys.error(s"no source $n"), wh)
    val expanded = DagRunner.withLazyUpstreams(models, DagRunner.select(models, "top"))
    assert(expanded.map(_.name).toSet === Set("eph", "vw", "top"),
      "ephemeral upstreams have no warehouse form and must join the selection like views")
    // End-to-end: the expanded selection builds with src read from the
    // warehouse — an ephemeral left out would try to read a never-written path.
    val out = DagRunner.run(spark, expanded,
      n => spark.read.parquet(s"$wh/main/main/$n"), wh)
    assert(out("top").count() === 8L) // 2 top + 2 vw + 2 eph + 2 src
  }

  test("--defer resolves unselected upstreams from the deferred warehouse; --favor-state flips priority") {
    val prod = Files.createTempDirectory("graft-prod").toString
    val dev = Files.createTempDirectory("graft-dev").toString
    def model(name: String, n: Int, refs: String*): Model =
      Model(name, refs, (s, r) =>
        refs.foldLeft(s.range(n).toDF("x"))((d, rf) => d.unionAll(r(rf))),
        materialization = Table)
    val models = Seq(model("base", 3), model("top", 2, "base"))
    // Prod has the full DAG; dev is empty.
    DagRunner.run(spark, models, n => sys.error(s"no source $n"), prod)
    val deferRes = DagRunner.deferredResolver(spark, models, dev, prod)
    val out = DagRunner.run(spark, DagRunner.select(models, "top"), deferRes, dev)
    assert(out("top").count() === 5L, "base must come from the prod warehouse") // 2 + 3
    // Now dev materializes its own base with DIFFERENT cardinality: the
    // dbt default favors the dev relation...
    DagRunner.run(spark, DagRunner.select(models, "base").map(m =>
      m.copy(build = (s, _) => s.range(10).toDF("x"))), deferRes, dev)
    val out2 = DagRunner.run(spark, DagRunner.select(models, "top"), deferRes, dev)
    assert(out2("top").count() === 12L, "an existing dev relation wins by default") // 2 + 10
    // ...and --favor-state prefers prod unconditionally.
    val favored = DagRunner.deferredResolver(spark, models, dev, prod, favorState = true)
    val out3 = DagRunner.run(spark, DagRunner.select(models, "top"), favored, dev)
    assert(out3("top").count() === 5L, "--favor-state must read prod over the dev relation")
    // A ref materialized in NEITHER environment is a diagnosable error.
    val neither = DagRunner.deferredResolver(spark, Seq(model("ghost", 1)), dev, prod)
    val e = intercept[IllegalArgumentException](neither("ghost"))
    assert(e.getMessage.contains("--defer"))
  }

  test("unit tests run a model's build on mocked inputs and diff against expected rows (dbt 1.8)") {
    import spark.implicits._
    // Model under test: join + conditional aggregate — logic worth
    // pinning without real upstreams.
    val m = Model("revenue_by_tier", Seq("orders", "customers"), (s, r) => {
      r("orders").join(r("customers"), "cust_id")
        .groupBy(col("tier"))
        .agg(sum(when(col("status") === "paid", col("amt")).otherwise(0L)).as("paid_amt"))
    })
    val orders = Seq((1L, "paid", 10L), (1L, "void", 99L), (2L, "paid", 5L))
      .toDF("cust_id", "status", "amt")
    val customers = Seq((1L, "gold"), (2L, "basic")).toDF("cust_id", "tier")
    val pass = DagRunner.runUnitTest(spark, Seq(m), DagRunner.UnitTest(
      "revenue happy path", "revenue_by_tier",
      Map("orders" -> orders, "customers" -> customers),
      // String literals for the numeric column: the runner must coerce
      // expect to the model's output types, as dbt does for YAML fixtures.
      Seq(("gold", "10"), ("basic", "5")).toDF("tier", "paid_amt")))
    assert(pass.passed, s"expected pass, got $pass")
    val fail = DagRunner.runUnitTest(spark, Seq(m), DagRunner.UnitTest(
      "wrong expectation", "revenue_by_tier",
      Map("orders" -> orders, "customers" -> customers),
      Seq(("gold", 109L), ("basic", 5L)).toDF("tier", "paid_amt")))
    assert(!fail.passed)
    assert(fail.unexpected.map(r => (r.getString(0), r.getLong(1))) === Seq(("gold", 10L)))
    assert(fail.missing.map(r => (r.getString(0), r.getLong(1))) === Seq(("gold", 109L)))
    // Expect may name a SUBSET of output columns (dbt: unlisted columns ignored).
    val subset = DagRunner.runUnitTest(spark, Seq(m), DagRunner.UnitTest(
      "subset columns", "revenue_by_tier",
      Map("orders" -> orders, "customers" -> customers),
      Seq("gold", "basic").toDF("tier")))
    assert(subset.passed)
    // Every ref must be mocked.
    val e = intercept[IllegalArgumentException](
      DagRunner.runUnitTest(spark, Seq(m), DagRunner.UnitTest(
        "unmocked", "revenue_by_tier", Map("orders" -> orders),
        Seq(("gold", 10L)).toDF("tier", "paid_amt"))))
    assert(e.getMessage.contains("customers"))
  }

  test("unit tests mock a SQL-text model's ref() AND source() inputs") {
    import spark.implicits._
    val sql = SqlModel.fromSqlText("enriched",
      """SELECT o.id, c.name
        |FROM {{ source('crm', 'raw_orders') }} o
        |JOIN {{ ref('dim_customers') }} c USING (cid)
        |ORDER BY o.id""".stripMargin)
    val res = DagRunner.runUnitTest(spark, Seq(sql), DagRunner.UnitTest(
      "sql model unit", "enriched",
      Map("raw_orders" -> Seq((1L, 7L), (2L, 8L)).toDF("id", "cid"),
          "dim_customers" -> Seq((7L, "ada"), (8L, "bob")).toDF("cid", "name")),
      Seq((1L, "ada"), (2L, "bob")).toDF("id", "name")))
    assert(res.passed, s"got $res")
  }

  test("exposures: +exposure:name selects the consumer's upstream closure; docs include exposure nodes") {
    val models = Seq(m("dashboard", "vod", "tv"), m("tv", "poms"), m("vod", "poms", "streams"),
      m("poms"), m("streams", "poms"))
    val exp = Exposure("weekly_report", "dashboard", Seq("dashboard", "streams"),
      owner = "data-team", url = "https://bi.example/weekly")
    def names(spec: String) =
      DagRunner.select(models, spec, exposures = Seq(exp)).map(_.name).toSet
    // The exposure itself is not runnable: the plain atom selects nothing.
    assert(names("exposure:weekly_report") === Set.empty)
    // +exposure = direct dependencies plus ancestors (dbt impact analysis).
    assert(names("+exposure:weekly_report") ===
      Set("dashboard", "streams", "vod", "tv", "poms"))
    intercept[IllegalArgumentException](names("exposure:weekly_report+"))
    intercept[IllegalArgumentException](names("+exposure:nope"))
    // Docs manifest carries the exposure nodes.
    val p = Files.createTempDirectory("graft-expdocs").toString + "/docs.json"
    DagRunner.writeDocs(spark, models, p, exposures = Seq(exp))
    val body = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    assert(body.contains(""""weekly_report":{"type":"dashboard""""))
    assert(body.contains(""""depends_on":["dashboard","streams"]"""))
    intercept[IllegalArgumentException](Exposure("bad", "spreadsheet", Nil))
  }

  test("select: a lone-comma token fails with the offending token, not empty.reduceLeft") {
    val models = Seq(m("poms"), m("vod", "poms"))
    val e = intercept[IllegalArgumentException](
      DagRunner.select(models, "vod , poms"))
    assert(e.getMessage.contains("','"), s"diagnosable message, got: ${e.getMessage}")
  }

  test("a post-hook {{ this }} on a View model resolves to the view relation (ADVICE r9)") {
    val dir = Files.createTempDirectory("graft-viewhook").toFile.getAbsolutePath
    spark.sql("DROP VIEW IF EXISTS vh_probe")
    val v = Model("hooked_view", Nil, (s, _) => s.range(5).toDF("x"),
      materialization = View,
      postHooks = Seq(
        "CREATE TEMP VIEW vh_probe AS SELECT count(*) AS n FROM {{ this }}"))
    DagRunner.run(spark, Seq(v), n => fail(s"unexpected $n"), dir)
    assert(spark.table("vh_probe").head().getLong(0) === 5L,
      "{{ this }} in a view's hook must read the registered view, not a never-written parquet path")
  }

  test("topoSort rejects ref cycles") {
    val ex = intercept[IllegalArgumentException] {
      DagRunner.topoSort(Seq(m("a", "b"), m("b", "a")))
    }
    assert(ex.getMessage.contains("cycle"))
  }

  test("run materializes views lazily and resolves external sources") {
    val src = spark.range(10).toDF("n")
    val models = Seq(
      Model("doubled", Seq("src_numbers"),
        (_, r) => r("src_numbers").select((col("n") * 2).as("n2"))),
      Model("summed", Seq("doubled"),
        (_, r) => r("doubled").agg(sum("n2").as("total"))))
    val out = DagRunner.run(spark, models,
      { case "src_numbers" => src; case other => fail(s"unexpected source $other") })
    assert(out("summed").head().getLong(0) === 90L)
    // view materialization registered the intermediate as a temp view
    assert(spark.sql("SELECT count(*) FROM doubled").head().getLong(0) === 10L)
  }

  test("insert-overwrite replaces exactly the listed partitions, preserves others") {
    val dir = Files.createTempDirectory("graft_inc").toFile.getAbsolutePath + "/t"
    // Seed: three date partitions with value = 1.
    val seed = spark.createDataFrame(Seq(
      ("2024-01-01", 1), ("2024-01-02", 1), ("2024-01-03", 1)))
      .toDF("evt_date", "v")
    seed.write.partitionBy("evt_date").parquet(dir)

    // Incremental run claims to rewrite 01-02 and 01-03 with v=2, and
    // also (incorrectly) emits an 01-01 row — the derived filter must
    // drop it: only LISTED partitions may be touched.
    val incoming = spark.createDataFrame(Seq(
      ("2024-01-01", 2), ("2024-01-02", 2), ("2024-01-03", 2), ("2024-01-04", 2)))
      .toDF("evt_date", "v")
    DagRunner.writeIncremental(spark, incoming, dir, "evt_date",
      Seq("2024-01-02", "2024-01-03", "2024-01-04"))

    val out = spark.read.parquet(dir)
      .groupBy("evt_date").agg(sum("v").as("v")).collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap // partition col may infer as DATE
    assert(out === Map(
      "2024-01-01" -> 1L, // preserved, not in the partition list
      "2024-01-02" -> 2L, // replaced
      "2024-01-03" -> 2L, // replaced
      "2024-01-04" -> 2L)) // new partition appended
  }

  test("insert-overwrite deletes a listed partition that comes back empty") {
    val dir = Files.createTempDirectory("graft_inc3").toFile.getAbsolutePath + "/t"
    val seed = spark.createDataFrame(Seq(
      ("2024-03-01", 1), ("2024-03-02", 1), ("2024-03-03", 1)))
      .toDF("evt_date", "v")
    seed.write.partitionBy("evt_date").parquet(dir)
    // 03-02 is listed but all its rows were retracted upstream: dbt's
    // insert_overwrite drops the partition entirely; 03-01 (unlisted)
    // must survive.
    val incoming = spark.createDataFrame(Seq(("2024-03-03", 2)))
      .toDF("evt_date", "v")
    DagRunner.writeIncremental(spark, incoming, dir, "evt_date",
      Seq("2024-03-02", "2024-03-03"))
    val out = spark.read.parquet(dir).collect()
      .map(r => r.get(1).toString -> r.getInt(0)).toMap
    assert(out === Map("2024-03-01" -> 1, "2024-03-03" -> 2))
  }

  test("table target routes through database and schema (dbt two-level namespace)") {
    val wh = Files.createTempDirectory("graft_wh2").toFile.getAbsolutePath
    val models = Seq(Model("t1", Seq.empty, (s, _) => s.range(3).toDF("x"),
      materialization = Table, schema = Some("sch"), database = Some("db")))
    DagRunner.run(spark, models, n => fail(s"unexpected source $n"), wh)
    assert(new java.io.File(s"$wh/db/sch/t1").isDirectory)
    assert(spark.read.parquet(s"$wh/db/sch/t1").count() === 3L)
  }

  test("run survives a model whose first materialization is empty") {
    val wh = Files.createTempDirectory("graft_wh3").toFile.getAbsolutePath
    val models = Seq(Model("inc_empty", Seq.empty,
      (s, _) => s.range(0).selectExpr("CAST(id AS STRING) AS evt_date", "id AS v"),
      materialization = IncrementalInsertOverwrite("evt_date", Seq("2024-01-01"))))
    val out = DagRunner.run(spark, models, n => fail(s"unexpected source $n"), wh)
    // Empty write leaves no parquet footers; the schema-explicit read-back
    // still yields a well-typed empty frame instead of an inference error.
    assert(out("inc_empty").count() === 0L)
    assert(out("inc_empty").columns.toSet === Set("evt_date", "v"))
  }

  test("merge upsert updates matched keys, inserts new, rewrites only touched partitions") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_merge").toFile.getAbsolutePath + "/t"
    def df(rows: (Long, String, Int)*) =
      spark.createDataFrame(rows).toDF("k", "evt_date", "v")

    // Seed two partitions.
    DagRunner.writeMerge(spark, df(
      (1L, "2024-03-01", 10), (2L, "2024-03-01", 20), (3L, "2024-03-02", 30)),
      dir, "k", "evt_date")
    val day1 = new java.io.File(s"$dir/evt_date=2024-03-01")
    val before = day1.listFiles().map(_.getName).toSet

    // Update key 3, insert key 4 — both in the 03-02 partition only.
    DagRunner.writeMerge(spark, df(
      (3L, "2024-03-02", 31), (4L, "2024-03-02", 40)),
      dir, "k", "evt_date")

    // Partition-column inference types evt_date as DATE on read-back;
    // compare via toString.
    val got = spark.read.parquet(dir).select("k", "evt_date", "v")
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.getInt(2))).toSet
    assert(got === Set(
      (1L, "2024-03-01", 10), (2L, "2024-03-01", 20), // untouched partition intact
      (3L, "2024-03-02", 31),                          // updated in place
      (4L, "2024-03-02", 40)))                         // inserted
    // The untouched partition's files were not rewritten.
    assert(day1.listFiles().map(_.getName).toSet === before,
      "merge must not rewrite partitions the update frame does not touch")

    // Idempotent: replaying the same update changes nothing.
    DagRunner.writeMerge(spark, df(
      (3L, "2024-03-02", 31), (4L, "2024-03-02", 40)),
      dir, "k", "evt_date")
    assert(spark.read.parquet(dir).count() === 4L)

    // And the materialization routes through DagRunner.run.
    val wh = JFiles.createTempDirectory("graft_merge_wh").toFile.getAbsolutePath
    val models = Seq(Model("m_upsert", Seq.empty,
      (_, _) => df((1L, "2024-03-01", 1)),
      materialization = MergeUpsert("k", "evt_date")))
    val out = DagRunner.run(spark, models, n => fail(s"unexpected source $n"), wh)
    assert(out("m_upsert").count() === 1L)
  }

  test("merge upsert preserves untouched rows in the NULL partition") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_merge_null").toFile.getAbsolutePath + "/t"
    def df(rows: (Long, String, Int)*) =
      spark.createDataFrame(rows).toDF("k", "evt_date", "v")

    // Seed: two rows in the NULL partition, one in a real date.
    DagRunner.writeMerge(spark, df(
      (1L, null, 10), (2L, null, 20), (3L, "2024-03-01", 30)),
      dir, "k", "evt_date")
    // Update key 1 — its partition value is NULL, so the window is the
    // NULL partition: key 2 must SURVIVE the dynamic overwrite of
    // __HIVE_DEFAULT_PARTITION__ (a bare isin over a null-bearing list
    // matches nothing and would silently drop it).
    DagRunner.writeMerge(spark, df((1L, null, 11)), dir, "k", "evt_date")

    val got = spark.read.parquet(dir).select("k", "evt_date", "v")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.toString).orNull, r.getInt(2))).toSet
    assert(got === Set(
      (1L, null, 11),          // updated in the NULL partition
      (2L, null, 20),          // untouched NULL-partition row preserved
      (3L, "2024-03-01", 30))) // other partition untouched
  }

  test("merge upsert: empty-string partition IS the NULL partition (writer conflates them)") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_merge_empty").toFile.getAbsolutePath + "/t"
    def df(rows: (Long, String, Int)*) =
      spark.createDataFrame(rows).toDF("k", "evt_date", "v")

    // Seed with "" partition values: Spark stores them in
    // __HIVE_DEFAULT_PARTITION__ and they READ BACK as null.
    DagRunner.writeMerge(spark, df((1L, "", 10), (2L, "", 20)), dir, "k", "evt_date")
    // An update whose in-memory partition value is "" must still select
    // the (null-reading) survivors of that partition.
    DagRunner.writeMerge(spark, df((1L, "", 11)), dir, "k", "evt_date")
    val got = spark.read.parquet(dir).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === Set((1L, 11), (2L, 20)),
      "the untouched row in the default partition must survive an empty-string-keyed merge")
  }

  test("insert-overwrite with a listed NULL partition replaces it instead of erasing it") {
    val dir = Files.createTempDirectory("graft_inc_null").toFile.getAbsolutePath + "/t"
    def df(rows: (String, Int)*) =
      spark.createDataFrame(rows).toDF("evt_date", "v")
    DagRunner.writeIncremental(spark, df((null, 1), ("2024-05-01", 2)),
      dir, "evt_date", Seq(null, "2024-05-01"))
    // Replace the NULL partition's content.
    DagRunner.writeIncremental(spark, df((null, 9)), dir, "evt_date", Seq(null))
    val got = spark.read.parquet(dir).select("v").collect().map(_.getInt(0)).toSet
    assert(got === Set(9, 2),
      "new NULL-partition rows must land and the dated partition must be untouched")
    // A listed-but-absent NULL partition is dropped (retraction).
    DagRunner.writeIncremental(spark, df(("2024-05-01", 3)), dir, "evt_date", Seq(null))
    assert(spark.read.parquet(dir).select("v").collect().map(_.getInt(0)).toSet === Set(2),
      "retracting the NULL partition must delete exactly it")
  }

  test("deleteByKeys erases hits, drops emptied partitions, leaves the rest byte-identical") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_erase").toFile.getAbsolutePath + "/t"
    def df(rows: (Long, String, Int)*) =
      spark.createDataFrame(rows).toDF("k", "evt_date", "v")

    // Partition A: partial hit; B: ALL rows hit; C: no hits; NULL: one hit.
    df((1L, "2024-04-01", 10), (2L, "2024-04-01", 20),
       (3L, "2024-04-02", 30),
       (4L, "2024-04-03", 40),
       (5L, null, 50), (6L, null, 60))
      .write.partitionBy("evt_date").parquet(dir)
    val dayC = new java.io.File(s"$dir/evt_date=2024-04-03")
    val before = dayC.listFiles().map(_.getName).toSet

    val keys = spark.createDataFrame(Seq(Tuple1(1L), Tuple1(3L), Tuple1(5L),
      Tuple1(999L))).toDF("k")
    val deleted = DagRunner.deleteByKeys(spark, dir, "k", keys, "evt_date")
    assert(deleted === 3L, "three keys exist in the table (999 does not)")

    val got = spark.read.parquet(dir).select("k", "evt_date", "v")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.toString).orNull, r.getInt(2))).toSet
    assert(got === Set(
      (2L, "2024-04-01", 20), // survivor in the partial partition
      (4L, "2024-04-03", 40), // untouched partition
      (6L, null, 60)))        // NULL-partition survivor
    // The fully-erased partition directory is gone.
    assert(!new java.io.File(s"$dir/evt_date=2024-04-02").exists(),
      "a partition whose every row was deleted must be dropped")
    // Untouched partitions were not rewritten.
    assert(dayC.listFiles().map(_.getName).toSet === before)

    // Idempotent: nothing left to delete.
    assert(DagRunner.deleteByKeys(spark, dir, "k", keys, "evt_date") === 0L)
  }

  test("insert-overwrite is idempotent for the same window") {
    val dir = Files.createTempDirectory("graft_inc2").toFile.getAbsolutePath + "/t"
    val df = spark.createDataFrame(Seq(("2024-02-01", 5), ("2024-02-02", 7)))
      .toDF("evt_date", "v")
    df.write.partitionBy("evt_date").parquet(dir)
    DagRunner.writeIncremental(spark, df, dir, "evt_date", Seq("2024-02-01", "2024-02-02"))
    DagRunner.writeIncremental(spark, df, dir, "evt_date", Seq("2024-02-01", "2024-02-02"))
    assert(spark.read.parquet(dir).count() === 2L)
  }

  test("dbt clone: table relations copy from the state warehouse; views skip; missing is loud") {
    import spark.implicits._
    val stateWh = Files.createTempDirectory("graft_clone_state").toString
    val devWh = Files.createTempDirectory("graft_clone_dev").toString
    val t = Model("t", Nil,
      (s, _) => { import s.implicits._; Seq((1L, "a"), (2L, "b")).toDF("k", "v") },
      materialization = Table, schema = Some("mart"))
    val v = Model("v", Seq("t"), (_, refs) => refs("t"), materialization = View)
    // A prod/CI run populates the state warehouse.
    DagRunner.run(spark, Seq(t, v), n => sys.error(s"no source $n"), stateWh)
    // Clone into dev: the table copies byte-for-byte, the view skips.
    val cloned = DagRunner.cloneRelations(spark, Seq(t, v), stateWh, devWh)
    assert(cloned === Seq("t"))
    val got = spark.read.parquet(DagRunner.targetPath(devWh, t))
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "b")))
    // Re-clone overwrites cleanly (idempotent).
    assert(DagRunner.cloneRelations(spark, Seq(t, v), stateWh, devWh) === Seq("t"))
    // A selected model with no state relation is dbt's clone error.
    val ghost = Model("ghost", Nil, (s, _) => s.range(1).toDF, materialization = Table)
    val e = intercept[IllegalArgumentException](
      DagRunner.cloneRelations(spark, Seq(ghost), stateWh, devWh))
    assert(e.getMessage.contains("no relation in the state warehouse"))
    // state == target would delete-the-only-copy before the copy:
    // refused up front, and the relation survives untouched.
    val e2 = intercept[IllegalArgumentException](
      DagRunner.cloneRelations(spark, Seq(t), stateWh, stateWh))
    assert(e2.getMessage.contains("same path"))
    assert(spark.read.parquet(DagRunner.targetPath(stateWh, t)).count() === 2L)
  }

  test("dbt run --empty: the DAG executes schema-only — real schemas, LIMIT 0 inputs") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_empty_wh").toString
    val stg = Model("stg", Seq("src_events"),
      (_, refs) => refs("src_events").select(col("k"), upper(col("v")).as("vu")),
      materialization = Table)
    val agg = Model("agg", Seq("stg"),
      (_, refs) => refs("stg").groupBy("vu").count(),
      materialization = Table)
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val built = DagRunner.run(spark, DagRunner.withEmptyInputs(Seq(stg, agg)),
      { case "src_events" => src; case n => sys.error(s"no source $n") }, wh)
    // Schemas are the real ones; the data never flowed.
    assert(built("stg").columns.toSeq === Seq("k", "vu"))
    assert(built("stg").count() === 0L)
    assert(built("agg").columns.toSeq === Seq("vu", "count"))
    assert(built("agg").count() === 0L)
    assert(spark.read.parquet(DagRunner.targetPath(wh, stg)).count() === 0L)
  }
}
