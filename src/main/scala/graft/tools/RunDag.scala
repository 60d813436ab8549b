package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.DagRunner
import graft.models.NpoDag
import graft.models.testkit.NpoFixtures

/** The `dbt run` equivalent: materialize the full 13-model reference DAG.
  *
  * Usage:
  *   runMain graft.tools.RunDag --demo
  *     runs over the built-in deterministic fixtures into a temp
  *     warehouse and prints per-model row counts + a dashboard sample.
  *   runMain graft.tools.RunDag <sourcesDir> <warehouse> [todayYYYY-MM-DD]
  *     reads each source as <sourcesDir>/<name>.parquet (names per
  *     `NpoDag.sources`) and materializes into <warehouse>.
  *   Add --project <dir> to load the DAG from a dbt PROJECT DIRECTORY
  *     (`dbt_project.yml` + `models/` — `graft.engine.ProjectLoader`)
  *     instead of the compiled `NpoDag` wiring: the dropped-in-project
  *     path. External refs (declared sources and physical table names)
  *     read <sourcesDir>/<name>.parquet, with dots/spaces in physical
  *     names sanitized to `_`; schema.yml tests run when --build is
  *     given. `--vars k=v,k2=v2` binds template vars (`today` binds
  *     automatically from the positional date arg).
  *   Add --threads N to set how many ready models materialize
  *     concurrently (dbt's `threads:`; by default one per Spark core,
  *     at most one per model — `DagRunner.build`).
  *   Add --profiles <file> [--target NAME] [--profile NAME] to resolve a
  *     profiles.yml-shaped target config (ProjectLoader.loadProfiles):
  *     the output's name becomes `target.name` in model Jinja, its
  *     database/schema are the routing fallback below model/project
  *     config, and its `threads:` applies unless --threads overrides.
  *   Add --select 'spec' to materialize a node-selection subgraph
  *     (dbt's `run --select`; unselected upstreams resolve from the
  *     warehouse of a previous full run). Spec grammar per
  *     `DagRunner.select`: whitespace unions, comma intersects,
  *     `tag:` method atoms, `+`/`@` graph operators.
  *   Add --selector NAME to apply a named spec from the project's
  *     selectors.yml (string-form definitions; mutually exclusive with
  *     --select). With neither flag, a `default: true` selector
  *     applies automatically — dbt's default-selector behavior.
  *   Add --exclude 'spec' to subtract a selection (dbt `--exclude`).
  *   Add --build to interleave the DAG's default data tests with
  *     materialization (dbt `build`): a failing model's descendants are
  *     skipped, the report prints, and the exit code is nonzero on any
  *     failure or skip.
  *   Add --docs <dir> to also emit the lineage artifacts (dbt docs
  *     generate): <dir>/docs.json (machine manifest), <dir>/lineage.dot
  *     (Graphviz) and <dir>/index.html (standalone SVG render).
  *   Add --defer <otherWarehouse> (with --select) to resolve unselected
  *     upstreams from another environment's warehouse when this one has
  *     never materialized them (dbt `--defer --state`); add
  *     --favor-state to prefer the deferred environment even when a
  *     dev relation exists.
  *   Add --warn-error (with --build) to make warn-severity tests fail
  *     the build instead of merely reporting (dbt --warn-error).
  *   Add --list to print the selected node names in dependency order
  *     and stop (dbt ls) — composes with --select/--selector/--exclude.
  *   Add --snapshot (with --project) to run the project's snapshots/
  *     blocks into their SCD2 targets and stop (dbt `snapshot`); the
  *     check strategy stamps --as-of 'YYYY-MM-DD HH:MM:SS' as
  *     dbt_valid_from (injectable, never wall-clock).
  *   Add --clone --state <warehouse> to COPY the selected table-family
  *     relations from another environment's warehouse into this one and
  *     stop (dbt `clone`): CI gets prod's relations without rebuilding;
  *     view/ephemeral models are skipped (no on-disk relation).
  *   Add --empty to run the DAG schema-only (dbt `run --empty`): every
  *     model's inputs — refs AND sources — build with LIMIT 0, so the
  *     full SQL executes and relations materialize with real schemas
  *     and no data (the CI dry run for broken SQL and contract drift).
  *
  *   With --project, `unit_tests:` declared in the project YAML run
  *     BEFORE anything materializes and abort the run on failure
  *     (dbt build's ordering).
  */
object RunDag {
  def main(args0: Array[String]): Unit = {
    def flagValue(flag: String): Option[String] = {
      val i = args0.indexOf(flag)
      if (i < 0) None
      else {
        require(i < args0.length - 1, s"$flag requires a value")
        Some(args0(i + 1))
      }
    }
    val selectFlag = flagValue("--select")
    val selectorName = flagValue("--selector")
    require(selectFlag.isEmpty || selectorName.isEmpty,
      "--select and --selector are mutually exclusive (dbt's own rule)")
    val excludeSpec = flagValue("--exclude")
    val doBuild = args0.contains("--build")
    val projectDir = flagValue("--project")
    val userVars: Map[String, String] = flagValue("--vars").map(
      _.split(",").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }.toMap).getOrElse(Map.empty)
    val docsDir = flagValue("--docs")
    // profiles.yml target configs (VERDICT r11 ask #7): --profiles FILE
    // selects per-target database/schema/threads; --target NAME picks the
    // output (else the profile's own `target:` default); the profile
    // entry is --profile NAME, else the project's `profile:` key, else
    // the project directory name — dbt's own resolution order.
    val profilesFile = flagValue("--profiles")
    val targetName = flagValue("--target")
    val profileName = flagValue("--profile")
    require(profilesFile.isDefined || (targetName.isEmpty && profileName.isEmpty),
      "--target/--profile require --profiles <file>")
    val deferWarehouse = flagValue("--defer")
    val snapshotMode = args0.contains("--snapshot")
    val warnError = args0.contains("--warn-error")
    val listMode = args0.contains("--list")
    val asOfFlag = flagValue("--as-of")
    require(!snapshotMode || projectDir.isDefined,
      "--snapshot requires --project <dir> (snapshots/ lives in the project)")
    // dbt run-operation: expand a project/package macro standalone and
    // execute the rendered SQL (--args pastes verbatim into the call
    // parens). dbt prints only what the macro logs; the engine prints
    // the result frame — the useful divergence for a SQL-rendering
    // macro subset.
    val runOperation = flagValue("--run-operation")
    val opArgs = flagValue("--args")
    require(opArgs.isEmpty || runOperation.isDefined,
      "--args requires --run-operation <macro>")
    require(runOperation.isEmpty || projectDir.isDefined,
      "--run-operation requires --project <dir> (macros live in the project)")
    // dbt show: build the selected model's closure and print a row
    // preview instead of a full run.
    val showModel = flagValue("--show")
    val showLimit = flagValue("--limit").map(_.toInt).getOrElse(5)
    // dbt clone: copy the selected table-family relations from another
    // environment's warehouse (--state) into this one, no rebuild.
    val cloneMode = args0.contains("--clone")
    val stateWarehouse = flagValue("--state")
    require(!cloneMode || stateWarehouse.isDefined,
      "--clone requires --state <warehouse> (the environment to clone from)")
    // dbt run --empty: schema-only dry run (LIMIT 0 on every input).
    val emptyMode = args0.contains("--empty")
    val favorState = args0.contains("--favor-state")
    // dbt errors on --favor-state without --defer; silently defaulting
    // to dev-first resolution would ship the opposite of what the user
    // asked for.
    require(deferWarehouse.isDefined || !favorState,
      "--favor-state requires --defer <otherWarehouse>")
    val args = {
      // Strip EVERY occurrence (a repeated flag must not shift the
      // positional sourcesDir/warehouse args).
      var a = args0.toSeq
      while (a.contains("--build")) a = a.patch(a.indexOf("--build"), Nil, 1)
      while (a.contains("--favor-state")) a = a.patch(a.indexOf("--favor-state"), Nil, 1)
      while (a.contains("--snapshot")) a = a.patch(a.indexOf("--snapshot"), Nil, 1)
      while (a.contains("--warn-error")) a = a.patch(a.indexOf("--warn-error"), Nil, 1)
      while (a.contains("--list")) a = a.patch(a.indexOf("--list"), Nil, 1)
      while (a.contains("--clone")) a = a.patch(a.indexOf("--clone"), Nil, 1)
      while (a.contains("--empty")) a = a.patch(a.indexOf("--empty"), Nil, 1)
      for (f <- Seq("--threads", "--select", "--selector", "--exclude", "--defer",
                    "--project", "--vars", "--docs", "--profiles", "--profile",
                    "--target", "--as-of", "--run-operation", "--args",
                    "--show", "--limit", "--state")) {
        var i = a.indexOf(f)
        while (i >= 0) {
          require(i < a.length - 1, s"$f requires a value")
          a = a.patch(i, Nil, 2)
          i = a.indexOf(f)
        }
      }
      a.toArray
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (resolve, warehouse, today) =
      if (args.headOption.contains("--demo")) {
        val fixtures = NpoFixtures.all(spark)
        val wh = Files.createTempDirectory("graft_demo_wh").toFile.getAbsolutePath
        // Under --project, external refs are the dropped-in project's
        // physical table names — route them through the alias table.
        val res: String => org.apache.spark.sql.DataFrame =
          if (projectDir.isDefined) NpoFixtures.resolveProject(fixtures)
          else fixtures.apply _
        (res, wh, NpoFixtures.today)
      } else {
        val Array(src, wh) = args.take(2)
        val today = args.lift(2).map(java.sql.Date.valueOf)
          .getOrElse(new java.sql.Date(System.currentTimeMillis()))
        // A physical ref like `npo-data-hub.analytics.media_events`
        // maps to a sanitized parquet basename when the verbatim one
        // does not exist on disk.
        val res = (n: String) => {
          val conf = spark.sparkContext.hadoopConfiguration
          // A QUALIFIED source key (`tpch.orders`) falls back to the bare
          // table basename — the sources dir holds one parquet per table.
          val cands = Seq(n, n.replaceAll("[^A-Za-z0-9_]", "_"),
              n.substring(n.lastIndexOf('.') + 1)).distinct
            .map(b => s"$src/$b.parquet")
          val found = cands.find { c =>
            val p = new org.apache.hadoop.fs.Path(c)
            p.getFileSystem(conf).exists(p)
          }
          spark.read.parquet(found.getOrElse(cands.head))
        }
        (res, wh, today)
      }

    // --project loads the DAG (and its schema.yml tests) from a dbt
    // project directory through the file frontend; otherwise the
    // compiled NpoDag wiring runs.
    val profile = profilesFile.map { pf =>
      val pName = profileName
        .orElse(projectDir.flatMap(pd =>
          graft.engine.ProjectLoader.profileNameOf(java.nio.file.Paths.get(pd))))
        .getOrElse(throw new IllegalArgumentException(
          "--profiles needs --profile NAME (or a project with a profile: key)"))
      graft.engine.ProjectLoader.loadProfiles(
        java.nio.file.Paths.get(pf), pName, targetName)
    }
    val threads = flagValue("--threads").map(_.toInt).orElse(profile.map(_.threads))
    val project = projectDir.map(pd => graft.engine.ProjectLoader.load(spark,
      java.nio.file.Paths.get(pd),
      vars = userVars ++ Map("today" -> s"DATE '$today'"),
      profile = profile))
    // Selection resolution (dbt order): --select wins; --selector looks
    // up the project's selectors.yml; with neither, a `default: true`
    // selector applies (dbt's default-selector behavior).
    val selectors = projectDir.map(pd =>
      graft.engine.ProjectLoader.loadSelectors(java.nio.file.Paths.get(pd)))
      .getOrElse(Nil)
    val selectSpec: Option[String] = selectFlag.orElse {
      selectorName.map { sn =>
        selectors.find(_.name == sn).map(_.definition).getOrElse(
          throw new IllegalArgumentException(
            s"--selector '$sn' not found in selectors.yml " +
              s"(defined: ${selectors.map(_.name).sorted.mkString(", ")})"))
      }
    }.orElse(selectors.find(_.default).map(_.definition))
    require(selectorName.isEmpty || projectDir.isDefined,
      "--selector requires --project <dir> (selectors.yml lives in the project)")
    // Versioned-model pre-pass (dbt 1.5): unpinned refs to a versioned
    // family resolve to its latest version before selection, so
    // `--select +consumer` pulls the right version's subtree.
    val allModels = DagRunner.resolveVersionRefs(
      project.map(_.models).getOrElse(NpoDag.models(today)))
    // Under --select, unselected TABLE-family upstreams resolve from the
    // warehouse of a previous full run (dbt's contract — they persist);
    // VIEW and EPHEMERAL upstreams have no on-disk form, so their
    // subtree joins the selection (they are lazy plans — free until
    // scanned, exactly as a database view would be). True external
    // sources still come from the source resolver.
    val models = selectSpec.map { spec =>
      DagRunner.withLazyUpstreams(allModels,
        DagRunner.select(allModels, spec, excludeSpec.getOrElse(""),
          exposures = project.map(_.exposures).getOrElse(Nil)))
    }.getOrElse(allModels)
    // Unselected table-family upstreams resolve from the dev warehouse,
    // or — under --defer — fall back to the deferred environment's
    // warehouse (dbt `--defer --state`: build the changed subgraph in
    // dev, read everything else from prod).
    val byName = allModels.map(m => m.name -> m).toMap
    val resolveWithWarehouse: String => DataFrame = n =>
      if (selectSpec.isDefined && byName.contains(n) && !models.exists(_.name == n))
        deferWarehouse match {
          case Some(dw) =>
            DagRunner.deferredResolver(spark, allModels, warehouse, dw,
              favorState, resolve)(n)
          case None => spark.read.parquet(DagRunner.targetPath(warehouse, byName(n)))
        }
      else resolve(n)
    // Shared by --run-operation and --snapshot: resolve a ref()/source()
    // name to a DataFrame AGAINST STATE (these commands never build the
    // project). Table-family models read their warehouse relation from a
    // previous run; VIEW and EPHEMERAL models have no on-disk form — dbt
    // resolves such a ref to the database view object — so the engine
    // builds the model's lazy ancestor closure in-process instead of
    // failing on a parquet path that never exists.
    lazy val stateResolve: String => DataFrame = n =>
      if (byName.contains(n)) {
        val m = byName(n)
        m.materialization match {
          case graft.engine.View | graft.engine.Ephemeral =>
            DagRunner.run(spark,
              DagRunner.withLazyUpstreams(allModels, Seq(m)),
              stateResolve, warehouse)(n)
          case _ => spark.read.parquet(DagRunner.targetPath(warehouse, m))
        }
      } else resolve(n)
    // --run-operation = `dbt run-operation`: render ONE macro call and
    // execute it, nothing else. Unknown macros fail listing the known
    // namespace; vars/env resolve exactly as they would inside a model.
    if (runOperation.isDefined) {
      val opName = runOperation.get
      val p = project.get
      require(p.macroDefs.contains(opName) || p.nativeMacroDefs.contains(opName),
        s"--run-operation: macro '$opName' is not defined " +
          s"(known: ${(p.macroDefs.keySet ++ p.nativeMacroDefs.keySet).toSeq.sorted.mkString(", ")})")
      val call = s"{{ $opName(${opArgs.getOrElse("")}) }}"
      val rendered = graft.engine.SqlModel.substituteEnvVars(
        graft.engine.SqlModel.substituteVars(
          graft.engine.SqlModel.expandMacros(call, p.macroDefs, p.nativeMacroDefs),
          userVars))
      // Resolve relation call sites exactly as a model build would:
      // sources through the source resolver, refs through the model's
      // built warehouse relation (run-operation runs AGAINST state, it
      // never builds).
      val srcCall = """\{\{\s*source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}""".r
      val refCall = """\{\{\s*ref\(\s*'([^']+)'\s*\)\s*\}\}""".r
      var sql = rendered
      srcCall.findAllMatchIn(rendered).foreach { m =>
        val key = s"${m.group(1)}.${m.group(2)}"
        val vn = "graft_op_" + key.replaceAll("[^A-Za-z0-9_]", "_")
        resolve(key).createOrReplaceTempView(vn)
        sql = sql.replace(m.matched, vn)
      }
      refCall.findAllMatchIn(sql).foreach { m =>
        val n = m.group(1)
        require(byName.contains(n), s"run-operation $opName: unknown ref('$n')")
        val vn = "graft_op_" + n.replaceAll("[^A-Za-z0-9_]", "_")
        stateResolve(n).createOrReplaceTempView(vn)
        sql = sql.replace(m.matched, vn)
      }
      println(s"[rundag] run-operation $opName:\n$sql")
      spark.sql(sql).show(50, truncate = false)
      spark.stop()
      return
    }
    // --show = `dbt show`: build the model's ancestor closure lazily and
    // print a bounded row preview (nothing else materializes).
    if (showModel.isDefined) {
      val name = showModel.get
      require(byName.contains(name), s"--show: unknown model '$name'")
      val closure = DagRunner.withLazyUpstreams(allModels,
        DagRunner.select(allModels, s"+$name"))
      val built = DagRunner.run(spark, closure, resolve, warehouse)
      built(name).show(showLimit, truncate = false)
      spark.stop()
      return
    }
    // --clone = `dbt clone`: copy the selected table-family relations
    // from the --state warehouse into this one and stop — no SQL runs.
    if (cloneMode) {
      val cloned = DagRunner.cloneRelations(spark, models,
        stateWarehouse.get, warehouse)
      cloned.foreach(n => println(s"[rundag] cloned $n"))
      models.filterNot(m => cloned.contains(m.name)).foreach(m =>
        println(s"[rundag] clone skip ${m.name} (view/ephemeral — rebuilt, not cloned)"))
      println(s"[rundag] cloned ${cloned.size} relations from ${stateWarehouse.get} to $warehouse")
      spark.stop()
      return
    }
    // --list = `dbt ls`: print the selected node names in dependency
    // order and stop — nothing materializes (the CI idiom for "what
    // would this selector run?").
    if (listMode) {
      // dbt ls prints the SELECTION itself, not the lazy view/ephemeral
      // upstream subtrees withLazyUpstreams pulls in for execution.
      val listed = selectSpec.map(spec =>
        DagRunner.select(allModels, spec, excludeSpec.getOrElse(""),
          exposures = project.map(_.exposures).getOrElse(Nil))).getOrElse(allModels)
      graft.engine.DagRunner.topoSort(listed).foreach(m => println(m.name))
      spark.stop()
      return
    }
    // --snapshot = `dbt snapshot`: fold each snapshots/ block into its
    // SCD2 target and stop — snapshots never run as part of a model run.
    if (snapshotMode) {
      // A snapshot that ref()s a MODEL reads the model's built relation
      // from the warehouse (dbt resolves ref() to the target table), not
      // a source file that happens to share the model's basename;
      // view/ephemeral refs build in-process via stateResolve.
      val snapped = project.get.runSnapshots(spark, stateResolve, warehouse, asOfFlag)
      snapped.toSeq.sortBy(_._1).foreach { case (n, df) =>
        println(s"[rundag] snapshot $n: ${df.count()} rows") }
      spark.stop()
      return
    }
    // unit_tests: run BEFORE anything materializes and abort on
    // failure — dbt build's ordering (a model with broken logic never
    // reaches the warehouse).
    project.map(_.unitTests).filter(_.nonEmpty).foreach { uts =>
      val results = DagRunner.runUnitTests(spark, allModels, uts)
      results.foreach(r =>
        println(s"[rundag] unit test ${r.name}: ${if (r.passed) "PASS" else "FAIL"}"))
      val failed = results.filterNot(_.passed)
      require(failed.isEmpty,
        s"unit tests failed: ${failed.map(_.name).mkString(", ")}")
    }
    // Project run hooks (dbt_project.yml on-run-start/on-run-end):
    // start before the first model; end only after a SUCCESSFUL run —
    // DagRunner.run's own hook contract.
    project.foreach(_.onRunStart.foreach(spark.sql(_)))
    // dbt run --empty: every model's inputs (refs AND sources) build
    // with LIMIT 0 — the full DAG executes schema-only.
    val runModels = if (emptyMode) DagRunner.withEmptyInputs(models) else models
    val built: Map[String, DataFrame] =
      if (doBuild) {
        // dbt --warn-error: warn-severity tests fail the build instead
        // of merely reporting.
        val (errChecks, warnOnly) = {
          val e = project.map(_.checks).getOrElse(NpoDag.defaultChecks)
          val w = project.map(_.warnChecks).getOrElse(Nil)
          if (warnError) (e ++ w, Nil) else (e, w)
        }
        val report = DagRunner.build(spark, runModels, resolveWithWarehouse, warehouse,
          errChecks, warnOnly, threads)
        report.failures.foreach { case (m, checks) =>
          checks.foreach { case (c, n) => println(s"[rundag] FAIL $m $c: $n violations") }
        }
        report.warnings.foreach { case (m, checks) =>
          checks.foreach { case (c, n) => println(s"[rundag] WARN $m $c: $n violations") }
        }
        report.errors.foreach { case (m, t) => println(s"[rundag] ERROR $m: $t") }
        report.skipped.foreach(m => println(s"[rundag] SKIP $m (upstream failed)"))
        if (!report.ok) { spark.stop(); sys.exit(1) }
        report.built
      } else DagRunner.run(spark, runModels, resolveWithWarehouse, warehouse, threads = threads)
    project.foreach(_.onRunEnd.foreach(spark.sql(_)))
    // persist_docs: after a successful run, write the doc sidecars into
    // the configured models' target directories (dbt persists relation/
    // column comments as part of `dbt run`). Scoped to the models this
    // run actually built — under --select, a sidecar for an unbuilt
    // model would create an empty target directory that a later
    // incremental run mistakes for existing state.
    project.foreach(_.persistDocsSidecars(spark, warehouse, built.keySet.toSet)
      .foreach(p => println(s"[rundag] persisted docs: $p")))
    built.toSeq.sortBy(_._1).foreach { case (name, df) =>
      println(f"[rundag] $name%-45s ${df.count()}%8d rows")
    }
    println(s"[rundag] warehouse: $warehouse")
    docsDir.foreach { dd =>
      DagRunner.writeDocs(spark, allModels, s"$dd/docs.json",
        exposures = project.map(_.exposures).getOrElse(Nil),
        descriptions = project.map(_.descriptions).getOrElse(Map.empty),
        columnDescriptions = project.map(_.columnDescriptions).getOrElse(Map.empty))
      DagRunner.writeDocsSite(spark, allModels, dd,
        exposures = project.map(_.exposures).getOrElse(Nil),
        descriptions = project.map(_.descriptions).getOrElse(Map.empty))
      println(s"[rundag] docs: $dd/docs.json, $dd/lineage.dot, $dd/index.html")
    }
    built.get("integral_reporting_dashboard_channel_weekly").foreach(
      _.orderBy("Naam", "weekdate", "reporting_channel")
        .show(10, truncate = false))
    spark.stop()
  }
}
