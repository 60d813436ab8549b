package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pipeline layer (SURVEY.md §1 layer 1): dbt's `ref()`/`source()`/
  * materialization semantics natively on Spark.
  *
  * A `Model` declares its upstream refs and a builder; `DagRunner`
  * topo-sorts and materializes. Views stay lazy logical plans
  * (`createOrReplaceTempView`) so Catalyst optimizes ACROSS model
  * boundaries — something the reference's per-statement BigQuery
  * execution cannot do (`/root/reference/dbt_project.yml:4-11` defaults
  * every model to a view).
  */
sealed trait Materialization
case object View extends Materialization
/** Full-refresh table; written under `<warehouse>/<schema>/<name>`. */
case object Table extends Materialization
/** dbt `materialized='ephemeral'`: the model is never written OR
  * registered anywhere — dbt interpolates its SQL as a CTE into each
  * downstream model. Here the frame flows to dependents through the
  * `ref()` map as a lazy logical plan, so Catalyst inlines it exactly
  * like dbt's CTE (a downstream filter pushes through the ephemeral
  * body into the source scan — pinned by `EngineSpec`). Matching dbt's
  * restrictions, an ephemeral model cannot carry pre/post hooks
  * (there is no materialization event to hook).
  */
case object Ephemeral extends Materialization

/** Incremental insert-overwrite (`/root/reference/models/datamarts/
  * npo-data-hub/intermediary/atinternet_smarttag_streams_daily_v4.sql:
  * 1-22,75,101`): replace exactly the listed partitions, preserve older
  * ones. The reference couples the partition list and the source filter
  * by hand in two places; here the runner derives the filter FROM the
  * partition list, encoding the invariant once (SURVEY.md §3.2).
  */
final case class IncrementalInsertOverwrite(
    partitionCol: String, partitions: Seq[String]) extends Materialization

/** dbt 1.9 MICROBATCH incremental strategy: the model declares an
  * event-time column and a `begin` date; the RUNNER derives the batch
  * list — on the first run every day in [begin, asOf], afterwards the
  * last `lookback` already-processed days (late-arriving data) plus
  * every new day through asOf — and processes each day as its own
  * insert-overwrite of that day's partition, ascending. Batch isolation
  * is the point: a crash leaves every completed day committed, and the
  * retry resumes from TARGET STATE (the batch list derives from the
  * existing partitions), reprocessing only the missing tail. The
  * engine derives the partition column FROM the event time
  * (`to_date(eventTime)` as string), encoding the partition/filter
  * invariant once — the model never hand-maintains a date list
  * (contrast [[IncrementalInsertOverwrite]], the dbt<1.9 form, where
  * the list is compile-time templated).
  *
  * Input-side filtering comes free from Catalyst: each batch filters
  * the model's OUTPUT on the event date, and because upstream refs are
  * lazy plans the predicate pushes through the model body into the
  * source scans — what dbt implements by rewriting each `ref()` with
  * an event_time filter, Spark's optimizer does natively.
  */
final case class IncrementalMicrobatch(
    eventTime: String,
    partitionCol: String,
    begin: String,
    asOf: String,
    lookback: Int = 1) extends Materialization

/** Incremental merge/upsert — dbt's other incremental strategy
  * (`incremental_strategy='merge'` with a `unique_key`): rows in the
  * new frame REPLACE target rows with the same key, new keys insert,
  * untouched rows survive. The reference project uses only
  * insert_overwrite; merge completes the materialization surface a dbt
  * user expects. Partition-scoped at scale: only partitions the update
  * frame touches are rewritten — see `DagRunner.writeMerge`.
  */
final case class MergeUpsert(
    uniqueKey: String, partitionCol: String) extends Materialization

/** dbt `incremental_strategy='append'`: every incremental run INSERTS
  * its output rows — no keys, no overwrite, the event-log strategy.
  * dbt's own caveat applies verbatim: append is not idempotent (a
  * replayed run duplicates its rows); `--full-refresh` rebuilds from
  * scratch. `partitionCol` (from `partition_by`) controls the physical
  * layout only.
  */
final case class IncrementalAppend(
    partitionCol: Option[String] = None) extends Materialization

/** `database`/`schema` are dbt's two-level routing (S7,
  * `/root/reference/dbt_project.yml:5-11`): they namespace the physical
  * target of table-like materializations as
  * `<warehouse>/<database>/<schema>/<name>`, never the `ref()` name.
  */
/** One column of a dbt MODEL CONTRACT (`contract: enforced`): declared
  * name + Spark-SQL type DDL, optional not-null constraint.
  */
final case class ColumnContract(name: String, dataType: String, notNull: Boolean = false)

final case class Model(
    name: String,
    refs: Seq[String],
    build: (SparkSession, Map[String, DataFrame]) => DataFrame,
    materialization: Materialization = View,
    schema: Option[String] = None,
    database: Option[String] = None,
    /** dbt `alias` (or a `generate_alias_name` macro result): the
      * relation name the model materializes AS — ref() keys stay on the
      * model NAME; only the warehouse path segment changes.
      */
    alias: Option[String] = None,
    /** Content identity for `state:modified` selection (dbt slim CI):
      * SQL-text models hash their rendered text automatically; compiled
      * Scala models opt in with an explicit version string the author
      * bumps. None = identity unknown → always treated as modified.
      */
    fingerprint: Option[String] = None,
    /** dbt model tags (`config(tags=[...])`) — selectable via the
      * `tag:` method in [[DagRunner.select]] specs.
      */
    tags: Set[String] = Set.empty,
    /** dbt `pre-hook` / `post-hook` — SQL statements run immediately
      * before / after THIS model materializes (audit inserts, GRANTs,
      * ANALYZE). `{{ this }}` resolves to the model's warehouse path
      * and `{% if is_incremental() %}` blocks resolve against the same
      * build-time target context SQL-text models see. Hooks run on the
      * materializing worker, so with several [[DagRunner.build]]
      * threads a model's hooks serialize with its own build (dbt's
      * contract), not with other models'.
      */
    preHooks: Seq[String] = Nil,
    postHooks: Seq[String] = Nil,
    /** dbt model contract (`contract: enforced`): when non-empty, the
      * materialized output must match these columns EXACTLY — names in
      * order, types — and not-null constraints must hold, or the model
      * fails before its dependents run. Empty = unenforced (dbt's
      * default).
      */
    contract: Seq[ColumnContract] = Nil,
    /** The fully-rendered SQL text (SQL-text models set this) — what
      * `dbt compile` writes to `target/compiled/`; None for compiled
      * Scala builders, which have no SQL form.
      */
    compiledSql: Option[String] = None,
    /** dbt model governance (dbt 1.6 groups + access): `group` names
      * the owning team's group; `access` is `private` (ref-able only
      * within the same group), `protected` (same project — the
      * default), or `public` (stable cross-project interface). The
      * runners enforce the private boundary before any build.
      */
    group: Option[String] = None,
    access: String = "protected",
    /** dbt `on_schema_change` (incremental models only): how a run
      * whose output columns differ from the existing target's is
      * reconciled — `ignore` (default: new columns dropped; a column
      * the target has but the run lacks is an error, dbt's failed
      * insert), `append_new_columns` (target gains the new columns,
      * null-backfilled on old rows via the read schema), `sync_all_
      * columns` (target schema becomes the run's schema: adds AND
      * drops), or `fail` (any column-set change aborts the model).
      * Full refresh / first run always writes the run's own schema.
      */
    onSchemaChange: String = "ignore",
    /** False when [[DagRunner.withLazyUpstreams]] added the model only as
      * an input: [[DagRunner.build]] builds it but does not test it. */
    selected: Boolean = true) {
  require(Set("private", "protected", "public").contains(access),
    s"model $name: unknown access '$access'")
  require(Set("ignore", "append_new_columns", "sync_all_columns", "fail")
    .contains(onSchemaChange),
    s"model $name: unknown on_schema_change '$onSchemaChange'")
}

/** dbt EXPOSURE: a declared downstream consumer of the DAG (a
  * dashboard, ML job, notebook) — pure metadata. It materializes
  * nothing but appears in the lineage docs ([[DagRunner.writeDocs]])
  * and anchors `exposure:` selection: `+exposure:weekly_dash` selects
  * everything the dashboard reads (dbt's impact-analysis idiom —
  * "rebuild what my consumer needs" / "what breaks if I change this").
  */
final case class Exposure(
    name: String,
    exposureType: String,
    dependsOn: Seq[String],
    owner: String = "",
    url: String = "") {
  require(Set("dashboard", "notebook", "analysis", "ml", "application")
    .contains(exposureType), s"exposure $name: unknown type '$exposureType'")
}

object DagRunner {

  /** Kahn topo-sort; deterministic (name order) among ready nodes. */
  def topoSort(models: Seq[Model]): Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(n: String, stack: List[String]): Unit = {
      if (stack.contains(n))
        throw new IllegalArgumentException(s"ref() cycle: ${(n :: stack).reverse.mkString(" -> ")}")
      if (!done.contains(n)) byName.get(n) match {
        case Some(m) =>
          m.refs.sorted.foreach(visit(_, n :: stack))
          done += n
        case None => () // external source — resolved via the session catalog
      }
    }
    models.map(_.name).sorted.foreach(visit(_, Nil))
    done.toSeq.flatMap(byName.get)
  }

  /** dbt-style node selection over the model graph (`dbt run --select`),
    * with dbt's actual composition semantics: WHITESPACE-separated
    * tokens UNION; within a token, comma-separated atoms INTERSECT
    * (`tag:nightly,my_model+` = descendants of my_model that are also
    * tagged nightly — dbt "Set operators"). Each atom is either a model
    * name or a `tag:NAME` method selector, optionally wrapped in graph
    * operators: `+atom` adds ancestors, `atom+` adds descendants,
    * `@atom` adds descendants plus ALL their ancestors (dbt's at-op,
    * the "rebuild everything my change can touch, with the inputs those
    * rebuilds need" selector). Unknown model names throw (a typo'd
    * selector silently selecting nothing is how partial deploys ship);
    * `tag:` atoms may legitimately match nothing. The result keeps
    * `models` order and feeds [[run]] unchanged: refs OUTSIDE the
    * selection fall through to `resolve`, exactly dbt's contract that
    * upstream tables already exist in the warehouse from a previous
    * run. `exclude` (dbt `--exclude`) subtracts its own selection —
    * same grammar — AFTER `spec` unions.
    */
  def select(models: Seq[Model], spec: String, exclude: String = "",
             exposures: Seq[Exposure] = Nil): Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    val exposureByName = exposures.map(e => e.name -> e).toMap
    val children = models.flatMap(m => m.refs.filter(byName.contains).map(_ -> m.name))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    def parents(n: String): Seq[String] =
      byName.get(n).map(_.refs.filter(byName.contains)).getOrElse(Nil)
    def closure(start: Set[String], step: String => Seq[String]): Set[String] = {
      val seen = scala.collection.mutable.Set.empty[String] ++ start
      var frontier = start.toList
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(step).distinct.filterNot(seen)
        next.foreach(seen += _)
        frontier = next
      }
      seen.toSet
    }
    def atomSet(atom: String): Set[String] = {
      val at = atom.startsWith("@")
      val a0 = atom.stripPrefix("@")
      val up = a0.startsWith("+")
      val down = a0.endsWith("+")
      val name = a0.stripPrefix("+").stripSuffix("+")
      require(!(at && (up || down)), s"selector '$atom': @ already implies closures")
      // `exposure:` resolves dbt-faithfully: the exposure node itself is
      // not runnable, so the PLAIN atom selects no models; `+exposure:x`
      // selects its direct dependencies plus their ancestors; an
      // exposure has no descendants, so a trailing `+` is an error.
      if (name.startsWith("exposure:")) {
        val en = name.stripPrefix("exposure:")
        val e = exposureByName.getOrElse(en, throw new IllegalArgumentException(
          s"selector '$atom': no exposure named '$en'"))
        require(!down && !at, s"selector '$atom': an exposure has no descendants")
        val deps = e.dependsOn.filter(byName.contains).toSet
        return if (up) deps ++ closure(deps, parents) else Set.empty
      }
      val base: Set[String] =
        if (name.startsWith("tag:")) {
          val t = name.stripPrefix("tag:")
          models.filter(_.tags.contains(t)).map(_.name).toSet
        } else {
          require(byName.contains(name), s"selector '$atom': no model named '$name'")
          Set(name)
        }
      if (at) {
        val desc = closure(base, children.getOrElse(_, Nil))
        desc ++ closure(desc, parents)
      } else base ++
        (if (up) closure(base, parents) else Set.empty) ++
        (if (down) closure(base, children.getOrElse(_, Nil)) else Set.empty)
    }
    def evalSpec(s: String): Set[String] =
      s.split("\\s+").filter(_.nonEmpty).map { token =>
        val atoms = token.split(",").filter(_.nonEmpty)
        // A token that splits to zero atoms (a stray lone comma) must
        // fail with the offending text, not reduceLeft's opaque
        // "empty.reduceLeft".
        require(atoms.nonEmpty, s"selector token '$token' has no selectable atoms")
        atoms.map(atomSet).reduceLeft(_ intersect _)
      }.foldLeft(Set.empty[String])(_ union _)
    val picked = evalSpec(spec) -- (if (exclude.trim.isEmpty) Set.empty[String]
                                    else evalSpec(exclude))
    models.filter(m => picked(m.name))
  }

  /** Expand a `--select` result with its out-of-selection LAZY
    * upstreams. View and Ephemeral models have no on-disk form — a
    * selected descendant cannot read them from the warehouse of a
    * previous full run the way it can a Table-family upstream (dbt's
    * contract: those persist) — so their subtrees must join the
    * selection and build in-process. They are lazy plans, free until a
    * descendant scans them. The added models come back with
    * `selected = false`, so [[build]] does not test them.
    */
  def withLazyUpstreams(all: Seq[Model], selected: Seq[Model]): Seq[Model] = {
    val picked = selected.map(_.name).toSet
    var names = picked
    var grew = true
    while (grew) {
      val lazyDeps = all.filter(m => !names(m.name) &&
        (m.materialization == View || m.materialization == Ephemeral) &&
        all.exists(d => names(d.name) && d.refs.contains(m.name)))
      grew = lazyDeps.nonEmpty
      names ++= lazyDeps.map(_.name)
    }
    all.filter(m => names(m.name))
      .map(m => if (picked(m.name)) m else m.copy(selected = false))
  }

  /** Physical target of a table-family model: dbt's two-level
    * database/schema routing under a warehouse root (S7).
    */
  def targetPath(warehouse: String, m: Model): String =
    s"$warehouse/${m.database.getOrElse("main")}/${m.schema.getOrElse("main")}/${m.alias.getOrElse(m.name)}"

  /** `dbt clone`: materialize the selected models in `devWarehouse` by
    * COPYING their relations from another environment's warehouse
    * (`--state` — typically CI/prod) instead of rebuilding. On a
    * parquet warehouse the faithful analog of the adapters' zero-copy
    * `CREATE TABLE ... CLONE` is a filesystem copy of the relation
    * directory. View/ephemeral models have no on-disk relation and are
    * skipped (dbt recreates those as views pointing at state; this
    * engine's views are build-time plans, so a later run rebuilds them
    * for free). A selected table model missing from the state warehouse
    * is dbt's own clone error. Returns the cloned model names.
    */
  def cloneRelations(spark: SparkSession, models: Seq[Model],
                     stateWarehouse: String, devWarehouse: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    models.flatMap { m =>
      m.materialization match {
        case View | Ephemeral => None
        case _ =>
          val src = new org.apache.hadoop.fs.Path(targetPath(stateWarehouse, m))
          val dst = new org.apache.hadoop.fs.Path(targetPath(devWarehouse, m))
          val sFs = src.getFileSystem(conf)
          val dFs = dst.getFileSystem(conf)
          // The delete-before-copy below would destroy the ONLY copy if
          // state and target resolve to the same relation path.
          require(sFs.makeQualified(src) != dFs.makeQualified(dst),
            s"clone: state and target warehouses resolve model '${m.name}' " +
              s"to the same path ($src) — refusing to clone a relation onto itself")
          require(sFs.exists(src),
            s"clone: model '${m.name}' has no relation in the state warehouse at $src")
          if (dFs.exists(dst)) dFs.delete(dst, true)
          dFs.mkdirs(dst.getParent)
          org.apache.hadoop.fs.FileUtil.copy(sFs, src, dFs, dst,
            false /* deleteSource */, true /* overwrite */, conf)
          Some(m.name)
      }
    }
  }

  /** `dbt run --empty`: the schema-only dry run — every model builds
    * with `LIMIT 0` applied to ALL of its inputs (refs and sources
    * alike), so the full DAG's SQL executes and materializes relations
    * with the real schemas but no data — the CI smoke for broken SQL,
    * missing columns, and contract drift, at zero scan cost. Note
    * global aggregates still emit their one empty-input row (dbt limits
    * the INPUTS, not the outputs — same behavior on every adapter).
    */
  def withEmptyInputs(models: Seq[Model]): Seq[Model] =
    models.map { m =>
      val inner = m.build
      m.copy(build = (s, refs) => inner(s, refs.map { case (k, v) => k -> v.limit(0) }))
    }

  /** dbt `--defer [--favor-state]`: a ref resolver for a selected
    * subgraph run in a DEV environment that falls back to ANOTHER
    * environment's warehouse (the CI/prod state) for upstreams dev has
    * never materialized — dbt's killer CI feature: build only the
    * changed subgraph, read everything else from prod. dbt's default
    * favors the dev relation when one exists; `--favor-state` prefers
    * the deferred environment unconditionally. Names that are not
    * table-family models route to `sources` (views/ephemerals have no
    * relation to defer to — [[withLazyUpstreams]] pulls them into the
    * run instead).
    */
  def deferredResolver(spark: SparkSession, models: Seq[Model],
                       devWarehouse: String, deferWarehouse: String,
                       favorState: Boolean = false,
                       sources: String => DataFrame = n =>
                         throw new IllegalArgumentException(s"no source resolver for '$n'"))
      : String => DataFrame = {
    def existsAt(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    (n: String) => models.find(_.name == n) match {
      case Some(m) if m.materialization != View && m.materialization != Ephemeral =>
        val dev = targetPath(devWarehouse, m)
        val deferred = targetPath(deferWarehouse, m)
        val pick =
          if (favorState) { if (existsAt(deferred)) deferred else dev }
          else if (existsAt(dev)) dev
          else deferred
        require(existsAt(pick), s"--defer: ref '$n' is materialized in neither " +
          s"'$dev' nor '$deferred' — run it in one environment first")
        spark.read.parquet(pick)
      case _ => sources(n)
    }
  }

  /** dbt UNIT TEST (dbt 1.8 `unit_tests:`): run ONE model's build
    * against fully mocked inputs and compare to expected rows — pure
    * logic, no warehouse, nothing materialized. Every ref the model
    * declares must be mocked (dbt errors identically: a unit test
    * isolates the model). Comparison is dbt's: only the columns present
    * in `expect` are compared (extra output columns ignored), as an
    * unordered MULTISET; expect columns are cast to the model's output
    * types first (dbt coerces YAML fixture literals the same way).
    */
  final case class UnitTest(
      name: String,
      model: String,
      given: Map[String, DataFrame],
      expect: DataFrame)

  /** `unexpected` = rows the model produced that expect lacks;
    * `missing` = expected rows the model never produced. Driver-sized
    * by construction — unit-test fixtures are hand-written rows.
    */
  final case class UnitTestResult(
      name: String, passed: Boolean,
      unexpected: Seq[org.apache.spark.sql.Row],
      missing: Seq[org.apache.spark.sql.Row])

  def runUnitTest(spark: SparkSession, models: Seq[Model], ut: UnitTest): UnitTestResult = {
    val m = models.find(_.name == ut.model).getOrElse(
      throw new IllegalArgumentException(s"unit test '${ut.name}': no model named '${ut.model}'"))
    val unmocked = m.refs.filterNot(ut.given.contains)
    require(unmocked.isEmpty,
      s"unit test '${ut.name}': unmocked inputs ${unmocked.mkString(", ")} — " +
        "a unit test must mock every ref/source the model reads")
    val actual = m.build(spark, ut.given)
    val cols = ut.expect.columns.toSeq
    val missingCols = cols.filterNot(actual.columns.contains)
    require(missingCols.isEmpty,
      s"unit test '${ut.name}': expect names columns the model never outputs: ${missingCols.mkString(", ")}")
    val proj = actual.select(cols.map(col): _*)
    val casted = ut.expect.select(
      cols.map(c => col(c).cast(proj.schema(c).dataType).as(c)): _*)
    val unexpected = proj.exceptAll(casted).collect().toSeq
    val missing = casted.exceptAll(proj).collect().toSeq
    UnitTestResult(ut.name, unexpected.isEmpty && missing.isEmpty, unexpected, missing)
  }

  /** Run a suite of unit tests; never materializes anything. */
  def runUnitTests(spark: SparkSession, models: Seq[Model],
                   tests: Seq[UnitTest]): Seq[UnitTestResult] =
    tests.map(runUnitTest(spark, models, _))

  /** dbt `retry` state: persist a build's outcome so the NEXT
    * invocation can rerun exactly the failed and skipped nodes. One
    * small JSON artifact, same discipline as the manifest.
    */
  def writeRunResults(spark: SparkSession, report: BuildReport, path: String): Unit = {
    def arr(ns: Iterable[String]) = ns.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val body = s"""{"built":${arr(report.built.keys)},""" +
      s""""failures":${arr(report.failures.keys)},"errors":${arr(report.errors.keys)},""" +
      s""""skipped":${arr(report.skipped)}}"""
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** dbt `retry`: the models the previous build FAILED, ERRORED or SKIPPED —
    * rerun exactly these (successful upstreams resolve from the
    * warehouse, like any `--select` subgraph run). Empty when the last
    * build was green.
    */
  def retrySelection(spark: SparkSession, models: Seq[Model], path: String): Seq[Model] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"dbt retry needs a previous run's results at $path")
    val body = graft.sources.Artifacts.readSmall(fs, p)
    def names(key: String): Set[String] = {
      val m = java.util.regex.Pattern.compile("\"" + key + "\":\\[([^\\]]*)\\]").matcher(body)
      if (!m.find()) Set.empty
      else {
        val im = java.util.regex.Pattern.compile("\"((?:[^\"\\\\]|\\\\.)*)\"").matcher(m.group(1))
        val out = Set.newBuilder[String]
        while (im.find()) out += im.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
        out.result()
      }
    }
    val rerun = names("failures") ++ names("errors") ++ names("skipped")
    models.filter(m => rerun(m.name))
  }

  /** dbt `compile`: write each SQL-text model's fully-rendered SQL to
    * `<dir>/<name>.sql` (the `target/compiled/` artifact reviewers and
    * lineage tools read). Refs appear as their registered
    * `graft_ref_*` view names — the relation naming the engine itself
    * executes. Scala-builder models have no SQL form and are skipped;
    * returns the paths written.
    */
  def writeCompiled(spark: SparkSession, models: Seq[Model], dir: String): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    models.flatMap(m => m.compiledSql.map { sql =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/${m.name}.sql")
      val fs = p.getFileSystem(conf)
      val out = fs.create(p, true)
      try out.write(sql.getBytes("UTF-8")) finally out.close()
      m.name -> p.toString
    }).toMap
  }

  /** Persist the models' content fingerprints as the run manifest —
    * the engine's analog of dbt's `manifest.json` for `state:modified`
    * selection. One small JSON object `{name: fingerprint}`; models
    * without a fingerprint are omitted (they can never be proven
    * unmodified). Written through the Hadoop FileSystem like every
    * other engine artifact.
    */
  def writeManifest(spark: SparkSession, models: Seq[Model], path: String): Unit = {
    val body = models.collect { case m if m.fingerprint.isDefined =>
      s"${jstr(m.name)}:${jstr(m.fingerprint.get)}"
    }.mkString("{", ",", "}")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** JSON string escaping shared by every engine artifact writer — a
    * model name containing `"` or `\` must round-trip through the
    * manifest, not corrupt it (and then silently mis-select in
    * `selectModified`).
    */
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Inverse of [[jstr]] for the escapes it emits. */
  private def junstr(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case e => b += e; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** dbt `docs generate`-shaped project artifact: one JSON object with
    * a node per model — name, upstream refs (the lineage graph),
    * materialization, database/schema routing, and the content
    * fingerprint. Machine-readable lineage for catalog tooling; column
    * schemas intentionally live with the materialized outputs (they are
    * a property of a RUN, not of the project text).
    */
  def writeDocs(spark: SparkSession, models: Seq[Model], path: String,
                exposures: Seq[Exposure] = Nil,
                /** schema.yml `description:` docs — model-level and
                  * per-column (model → column → text). Emitted into the
                  * manifest so downstream doc tooling sees what dbt's
                  * manifest.json carries.
                  */
                descriptions: Map[String, String] = Map.empty,
                columnDescriptions: Map[String, Map[String, String]] = Map.empty): Unit = {
    def matName(m: Materialization): String = m match {
      case View => "view"
      case Ephemeral => "ephemeral"
      case Table => "table"
      case IncrementalInsertOverwrite(p, _) => s"incremental:insert_overwrite:$p"
      case MergeUpsert(k, p) => s"incremental:merge:$k:$p"
      case IncrementalMicrobatch(evt, p, _, _, _) => s"incremental:microbatch:$evt:$p"
      case IncrementalAppend(p) => s"incremental:append${p.fold("")(":" + _)}"
    }
    val nodes = topoSort(models).map { m =>
      jstr(m.name) + ":{" +
        s""""refs":[${m.refs.map(jstr).mkString(",")}],""" +
        s""""materialization":${jstr(matName(m.materialization))},""" +
        s""""database":${jstr(m.database.getOrElse("main"))},""" +
        s""""schema":${jstr(m.schema.getOrElse("main"))},""" +
        s""""tags":[${m.tags.toSeq.sorted.map(jstr).mkString(",")}],""" +
        s""""group":${m.group.map(jstr).getOrElse("null")},""" +
        s""""access":${jstr(m.access)},""" +
        s""""description":${descriptions.get(m.name).map(jstr).getOrElse("null")},""" +
        s""""columns":${
          columnDescriptions.getOrElse(m.name, Map.empty).toSeq.sorted
            .map { case (c, d) => s"${jstr(c)}:${jstr(d)}" }.mkString("{", ",", "}")
        },""" +
        s""""fingerprint":${m.fingerprint.map(jstr).getOrElse("null")}}"""
    }.mkString("{", ",", "}")
    val exps = exposures.sortBy(_.name).map { e =>
      jstr(e.name) + ":{" +
        s""""type":${jstr(e.exposureType)},""" +
        s""""depends_on":[${e.dependsOn.map(jstr).mkString(",")}],""" +
        s""""owner":${jstr(e.owner)},""" +
        s""""url":${jstr(e.url)}}"""
    }.mkString("{", ",", "}")
    val body = s"""{"nodes":$nodes,"exposures":$exps}"""
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** dbt `docs generate` static-site analog (VERDICT r10 #7): writes
    * `lineage.dot` (Graphviz) and a dependency-free `index.html` under
    * `dir`, rendering the model graph — models as boxes, EXTERNAL
    * sources (refs that are not models) as cylinders, exposures as
    * dashed consumers, every `ref()` an edge. The DOT file round-trips
    * through standard tooling (`dot -Tsvg`); the HTML needs no tooling:
    * it inlines the same graph as a topologically-layered SVG. Pure
    * driver-side string work over the model LIST — O(models+edges),
    * nothing reads data.
    */
  def writeDocsSite(spark: SparkSession, models: Seq[Model], dir: String,
                    exposures: Seq[Exposure] = Nil,
                    /** Model descriptions — rendered as DOT `tooltip`
                      * attrs and SVG `<title>` hovers.
                      */
                    descriptions: Map[String, String] = Map.empty): Unit = {
    val sorted = topoSort(models)
    val byName = models.map(m => m.name -> m).toMap
    val sources = sorted.flatMap(_.refs).distinct.filterNot(byName.contains)
    def dq(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val dot = {
      val b = new StringBuilder("digraph lineage {\n  rankdir=LR;\n")
      sources.foreach(s => b ++= s"  ${dq(s)} [shape=cylinder];\n")
      sorted.foreach { m =>
        val tip = descriptions.get(m.name)
          .map(d => s", tooltip=${dq(d)}").getOrElse("")
        b ++= s"  ${dq(m.name)} [shape=box$tip];\n"
      }
      exposures.sortBy(_.name).foreach(e =>
        b ++= s"  ${dq(e.name)} [shape=ellipse, style=dashed];\n")
      sorted.foreach(m => m.refs.foreach(r => b ++= s"  ${dq(r)} -> ${dq(m.name)};\n"))
      exposures.sortBy(_.name).foreach(e => e.dependsOn.foreach(d =>
        b ++= s"  ${dq(d)} -> ${dq(e.name)};\n"))
      b ++= "}\n"
      b.toString
    }
    // Layered layout: sources at layer 0, each model one past its
    // deepest upstream, exposures one past their deepest dependency.
    val layer = scala.collection.mutable.Map.empty[String, Int]
    sources.foreach(layer(_) = 0)
    sorted.foreach(m => layer(m.name) =
      1 + m.refs.map(layer.getOrElse(_, 0)).foldLeft(-1)(math.max))
    exposures.foreach(e => layer(e.name) =
      1 + e.dependsOn.map(layer.getOrElse(_, 0)).foldLeft(-1)(math.max))
    val kinds = sources.map(_ -> "source") ++ sorted.map(_.name -> "model") ++
      exposures.sortBy(_.name).map(_.name -> "exposure")
    val cols = kinds.groupBy { case (n, _) => layer(n) }
    val pos = cols.toSeq.sortBy(_._1).flatMap { case (l, ns) =>
      ns.zipWithIndex.map { case ((n, kind), i) =>
        n -> (40 + l * 260, 40 + i * 56, kind)
      }
    }.toMap
    val w = 120 + (if (layer.isEmpty) 0 else layer.values.max) * 260 + 200
    val h = 80 + (if (cols.isEmpty) 0 else cols.values.map(_.size).max) * 56
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val edges = (sorted.flatMap(m => m.refs.map(_ -> m.name)) ++
      exposures.flatMap(e => e.dependsOn.map(_ -> e.name))).collect {
      case (a, b) if pos.contains(a) && pos.contains(b) =>
        val (x1, y1, _) = pos(a)
        val (x2, y2, _) = pos(b)
        s"""<line x1="${x1 + 180}" y1="${y1 + 16}" x2="$x2" y2="${y2 + 16}" stroke="#999" marker-end="url(#arr)"/>"""
    }
    val nodes = pos.toSeq.sortBy(_._1).map { case (n, (x, y, kind)) =>
      val (fill, dash) = kind match {
        case "source" => ("#eef4fb", "")
        case "exposure" => ("#fdf6ec", """ stroke-dasharray="4 3"""")
        case _ => ("#f4f4f4", "")
      }
      val title = descriptions.get(n).map(d => s"<title>${esc(d)}</title>").getOrElse("")
      s"""<g>$title<rect x="$x" y="$y" width="180" height="32" rx="6" fill="$fill" stroke="#555"$dash/>""" +
        s"""<text x="${x + 90}" y="${y + 20}" font-size="11" text-anchor="middle" font-family="monospace">${esc(if (n.length > 28) n.take(27) + "…" else n)}</text></g>"""
    }
    val html =
      s"""<!doctype html><html><head><meta charset="utf-8"><title>graft lineage</title></head>
         |<body><h1 style="font-family:sans-serif">Model lineage (${sorted.size} models, ${sources.size} sources)</h1>
         |<svg width="$w" height="$h" xmlns="http://www.w3.org/2000/svg">
         |<defs><marker id="arr" markerWidth="8" markerHeight="8" refX="7" refY="3" orient="auto">
         |<path d="M0,0 L7,3 L0,6 z" fill="#999"/></marker></defs>
         |${edges.mkString("\n")}
         |${nodes.mkString("\n")}
         |</svg></body></html>
         |""".stripMargin
    val conf = spark.sparkContext.hadoopConfiguration
    def put(name: String, body: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      val fs = p.getFileSystem(conf)
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    put("lineage.dot", dot)
    put("index.html", html)
  }

  /** The previous run's manifest, or empty when none exists (first run:
    * everything is modified).
    */
  def readManifest(spark: SparkSession, path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // Escape-aware: symmetric with writeManifest's jstr.
    """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(body)
      .map(m => junstr(m.group(1)) -> junstr(m.group(2))).toMap
  }

  /** dbt `state:modified+` selection: models whose fingerprint differs
    * from the manifest (or is unknown on either side) plus every
    * transitive descendant — the slim-CI subgraph. Feed the result to
    * [[run]] with a warehouse resolver exactly like [[select]]; an
    * empty result means the project is unchanged.
    */
  def selectModified(models: Seq[Model], manifest: Map[String, String]): Seq[Model] = {
    val modified = models.collect {
      case m if m.fingerprint.isEmpty || !manifest.get(m.name).contains(m.fingerprint.get) =>
        m.name
    }.toSet
    val children = models.flatMap(m => m.refs.map(_ -> m.name))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val picked = scala.collection.mutable.Set.empty[String] ++ modified
    var frontier = modified.toList
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(n => children.getOrElse(n, Nil)).distinct
        .filterNot(picked)
      next.foreach(picked += _)
      frontier = next
    }
    models.filter(m => picked(m.name))
  }

  /** Enforce dbt's group/access governance on the ref graph: a
    * PRIVATE model may be ref'd only from models in its own group.
    * Checked before anything builds, across the full model set handed
    * to the runner, with the offending edge named.
    */
  private[engine] def validateAccess(models: Seq[Model]): Unit = {
    val byName = models.map(m => m.name -> m).toMap
    for {
      child <- models
      ref <- child.refs
      parent <- byName.get(ref)
      if parent.access == "private" && parent.group != child.group
    } throw new IllegalArgumentException(
      s"model ${child.name} (group ${child.group.getOrElse("<none>")}) cannot ref " +
        s"private model ${parent.name} (group ${parent.group.getOrElse("<none>")}) — " +
        "private models are ref-able only within their own group")
  }

  /** dbt MODEL VERSIONS (dbt 1.5): a versioned model's canonical DAG
    * name is `<base>.v<N>` (dbt's `model_name.v2` node name). An
    * UNVERSIONED ref to a versioned family resolves to the LATEST
    * version — dbt's `latest_version` default — via this explicit
    * pre-pass (compose with `select`/`withLazyUpstreams` like any
    * other graph rewrite); a pinned `ref('m', v=1)` names `m.v1`
    * directly and is left untouched.
    */
  def resolveVersionRefs(models: Seq[Model]): Seq[Model] = {
    val ver = """^(.*)\.v(\d+)$""".r
    val latest: Map[String, String] = models.map(_.name).collect {
      case n @ ver(base, v) => (base, v.toInt, n)
    }.groupBy(_._1).map { case (base, vs) => base -> vs.maxBy(_._2)._3 }
    models.map(m => m.copy(refs = m.refs.map(r => latest.getOrElse(r, r))))
  }

  /** `dbt run`: [[build]] without data tests and with `failFast`; the
    * first error is rethrown. `resolve` supplies external sources (the
    * `source()` analog); `ref()` lookups hit the materialized map.
    * Returns the materialized frames by name. `onRunStart` / `onRunEnd`
    * are dbt's project-level hooks, run once before the first model and
    * once after the last; `onRunEnd` runs only on SUCCESS, matching dbt.
    */
  def run(spark: SparkSession, models: Seq[Model], resolve: String => DataFrame,
          warehouse: String = "", onRunStart: Seq[String] = Nil,
          onRunEnd: Seq[String] = Nil, threads: Option[Int] = None): Map[String, DataFrame] = {
    validateAccess(models)
    onRunStart.foreach(spark.sql(_))
    val report = build(spark, models, resolve, warehouse, threads = threads, failFast = true)
    report.errors.headOption.foreach { case (_, t) => throw t }
    onRunEnd.foreach(spark.sql(_))
    report.built
  }

  /** Outcome of [[build]] (the `dbt build` analog): materialized frames
    * for models that built AND passed their tests, per-model failing
    * check summaries (check description → violation count), and the
    * models skipped because an upstream failed.
    */
  final case class BuildReport(
      built: Map[String, DataFrame],
      failures: Map[String, Seq[(String, Long)]],
      skipped: Seq[String],
      /** Violations from WARN-severity checks (dbt `severity: warn`):
        * reported, but the model still counts as built and its
        * descendants still run.
        */
      warnings: Map[String, Seq[(String, Long)]] = Map.empty,
      /** Models whose build or tests threw (dbt's `error`), in order. */
      errors: Map[String, Throwable] = Map.empty) {
    def ok: Boolean = failures.isEmpty && skipped.isEmpty && errors.isEmpty
  }

  /** The `dbt build` equivalent and the one DAG scheduler: a model goes
    * to a pool of `threads` workers (dbt's `threads:`; by default one per
    * core Spark schedules on, at most one per model) once its last in-set
    * ref has finished. Results do not depend on the schedule. A model's
    * data tests run on its worker right after it materializes; one that
    * fails them (`failures`) or throws (`errors`) has its descendants
    * SKIPPED while independent branches finish (dbt's semantics; `ok` is
    * the exit-code analog). Checks attach to their `model`
    * (`Relationships` to the CHILD, which also waits for the parent) and
    * run for selected models only, as in dbt `build --select X+`: the
    * views [[withLazyUpstreams]] adds are built, not tested, and a
    * `Relationships` check runs when either end is selected. `resolve`
    * runs on the caller's thread; every job a worker starts is tagged
    * `graft:<build|test>:<model>:<run id>`.
    */
  def build(spark: SparkSession, models: Seq[Model], resolve: String => DataFrame,
            warehouse: String = "",
            checks: Seq[DataTests.Check] = Nil,
            /** dbt `severity: warn` checks: violations are REPORTED in
              * `BuildReport.warnings` but never fail the model or skip
              * its descendants.
              */
            warnChecks: Seq[DataTests.Check] = Nil,
            threads: Option[Int] = None,
            /** dbt `--fail-fast`: the first error or failing test cancels
              * the running models' jobs; models not yet started skip. */
            failFast: Boolean = false): BuildReport = {
    import java.util.concurrent.{CancellationException, ExecutorCompletionService, Executors}
    import java.util.concurrent.atomic.AtomicBoolean
    validateAccess(models)
    val ordered = topoSort(models)
    val byName = ordered.map(m => m.name -> m).toMap
    def runs(c: DataTests.Check): Boolean = (c match {
      case DataTests.Relationships(cm, _, pm, _) => Seq(cm, pm)
      case _ => Seq(c.model)
    }).exists(n => byName.get(n).exists(_.selected))
    val byModel = checks.filter(runs).groupBy(_.model)
    val warnByModel = warnChecks.filter(runs).groupBy(_.model)
    // What a model's checks read besides the model: a Relationships
    // parent, a singular test's refs. The model waits for those that come
    // first in dependency order; a later one resolves as a model outside
    // the set does, as it did in the one-at-a-time runner.
    val checkReads = ordered.map(m => m.name ->
      (byModel.getOrElse(m.name, Nil) ++ warnByModel.getOrElse(m.name, Nil)).flatMap {
        case DataTests.Relationships(_, _, pm, _) => Seq(pm)
        case DataTests.Singular(_, _, sql) => SqlModel.extractRefs(sql)
        case _ => Nil
      }.filter(_ != m.name)).toMap
    val position = ordered.map(_.name).zipWithIndex.toMap
    val after = ordered.map(m => m.name -> (m.refs ++
      checkReads(m.name).filter(position.get(_).exists(_ < position(m.name))))
      .filter(byName.contains).toSet).toMap
    val sc = spark.sparkContext
    val runId = java.util.UUID.randomUUID().toString.take(8)
    def jobTag(phase: String, model: String) = s"graft:$phase:${model.replace(',', '_')}:$runId"
    val stop = new AtomicBoolean(false)
    type Done = (DataFrame, Seq[(String, Long)], Seq[(String, Long)]) // frame, failed, warned
    def work(m: Model, inputs: Map[String, DataFrame]): Either[Throwable, Done] = {
      def phase[T](name: String)(body: => T): T = {
        if (stop.get()) throw new CancellationException(s"${m.name}: an earlier model failed")
        val tag = jobTag(name, m.name)
        sc.addJobTag(tag)
        try body finally sc.removeJobTag(tag)
      }
      try {
        val df = phase("build")(
          materializeOne(spark, m, warehouse, m.refs.map(r => r -> inputs(r)).toMap))
        def violations(mine: Seq[DataTests.Check]): Seq[(String, Long)] =
          if (mine.isEmpty) Nil
          else DataTests.run(n => if (n == m.name) df else inputs(n), mine)
            .filter(col("n_violations") > 0)
            .collect()
            .map(r => (s"${r.getString(0)}(${r.getString(2)})", r.getLong(3)))
            .toSeq
        val (mine, warn) = (byModel.getOrElse(m.name, Nil), warnByModel.getOrElse(m.name, Nil))
        if (mine.isEmpty && warn.isEmpty) Right((df, Nil, Nil))
        else phase("test")(Right((df, violations(mine), violations(warn))))
      } catch { case t: Throwable => Left(t) }
    }
    val pool = Executors.newFixedThreadPool(
      math.max(1, threads.getOrElse(math.min(sc.defaultParallelism, ordered.size))))
    val finished = new ExecutorCompletionService[(String, Either[Throwable, Done])](pool)
    val waiting = scala.collection.mutable.Map(after.toSeq.map { case (m, ds) => m -> ds.size }: _*)
    var built = Map.empty[String, DataFrame]
    var failures = Map.empty[String, Seq[(String, Long)]]
    var warnings = Map.empty[String, Seq[(String, Long)]]
    var errors = scala.collection.immutable.ListMap.empty[String, Throwable]
    var dead = Set.empty[String] // failed, errored or skipped — poisons descendants
    var running = Set.empty[String]
    def ready(name: String): Unit = {
      val m = byName(name)
      if (stop.get() || m.refs.exists(dead)) {
        dead += name; release(name)
      } else try {
        // `resolve` is the caller's: it runs on the caller's thread.
        val inputs = (m.refs ++ checkReads(name)).distinct
          .map(n => n -> built.getOrElse(n, resolve(n))).toMap
        running += name
        finished.submit(() => name -> work(m, inputs))
      } catch { case scala.util.control.NonFatal(t) => record(name, Left(t)) }
    }
    def release(name: String): Unit = ordered.filter(d => after(d.name)(name)).foreach { d =>
      waiting(d.name) -= 1
      if (waiting(d.name) == 0) ready(d.name)
    }
    def record(name: String, outcome: Either[Throwable, Done]): Unit = {
      outcome match {
        case Left(t) => errors += name -> t; dead += name
        case Right((df, bad, warned)) =>
          if (warned.nonEmpty) warnings += name -> warned
          if (bad.isEmpty) built += name -> df
          else { failures += name -> bad; dead += name }
      }
      if (failFast && dead(name) && !stop.getAndSet(true))
        for (r <- running; p <- Seq("build", "test")) sc.cancelJobsWithTag(jobTag(p, r))
      release(name)
    }
    try {
      ordered.filter(m => waiting(m.name) == 0).foreach(m => ready(m.name))
      while (running.nonEmpty) {
        val (name, outcome) = finished.take().get()
        running -= name
        record(name, outcome)
      }
    } finally pool.shutdown()
    val skipped = ordered.map(_.name).filter(n => dead(n) && !failures.contains(n) && !errors.contains(n))
    BuildReport(built, failures, skipped, warnings, errors)
  }

  /** Build-time target info exposed to SQL-text models for dbt's
    * `is_incremental()` / `{{ this }}`: the model's own warehouse path
    * (when a warehouse is configured), whether its materialization is
    * incremental, and whether the target already exists on disk. Set
    * around each `m.build` call (thread-local — [[build]] runs models
    * on pool threads) and cleared after.
    */
  final case class BuildTarget(path: Option[String], incremental: Boolean, exists: Boolean)
  private val buildContext = new ThreadLocal[Option[BuildTarget]] {
    override def initialValue(): Option[BuildTarget] = None
  }
  private[engine] def currentBuildTarget: Option[BuildTarget] = buildContext.get()

  /** Build + materialize one model given its resolved upstream frames —
    * the body of each [[build]] worker.
    */
  private def materializeOne(spark: SparkSession, m: Model, warehouse: String,
                             refs: Map[String, DataFrame]): DataFrame = {
    val pathOpt =
      if (warehouse.isEmpty) None
      else Some(targetPath(warehouse, m))
    def target: String = pathOpt.getOrElse(
      throw new IllegalArgumentException(s"model ${m.name} needs a warehouse dir"))
    if (m.materialization == Ephemeral)
      require(m.preHooks.isEmpty && m.postHooks.isEmpty,
        s"model ${m.name}: ephemeral models cannot have hooks (dbt restriction)")
    val incMat = m.materialization match {
      case _: IncrementalInsertOverwrite | _: MergeUpsert |
           _: IncrementalMicrobatch | _: IncrementalAppend => true
      case _ => false
    }
    // dbt --full-refresh analog: the conf forces is_incremental() false
    // for the run, so conditional blocks rebuild from scratch.
    val fullRefresh = spark.conf.get("spark.graft.fullRefresh", "false").toBoolean
    val exists = !fullRefresh && incMat && pathOpt.exists { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    // Hooks share the SQL-text models' build-time rendering
    // ({{ this }} → warehouse path, is_incremental() blocks), run on
    // this thread in declaration order. A post-hook runs AFTER the
    // materialized write, so `{{ this }}` is readable from it.
    // A View materializes nothing at its warehouse path, so a hook's
    // `{{ this }}` must render to the registered temp-view name (dbt
    // resolves {{ this }} to the view relation), not the parquet path.
    def runHooks(hooks: Seq[String]): Unit = hooks.foreach { h =>
      spark.sql(SqlModel.renderConditionals(h,
        incremental = incMat && exists, thisPath = pathOpt,
        thisRel = if (m.materialization == View) Some(m.name) else None))
    }
    buildContext.set(Some(BuildTarget(pathOpt, incMat, exists)))
    val df = try {
      runHooks(m.preHooks)
      m.build(spark, refs)
    } finally buildContext.remove()
    val out = m.materialization match {
      case Ephemeral =>
        df // stays a lazy plan; dependents compose it via their refs map
      case View =>
        // Versioned node names (`family.vN`) are not legal single-part
        // view identifiers; register under the sanitized ref-view name
        // every SQL consumer actually reads (SqlModel.viewName), and
        // the plain name too when it is a legal identifier.
        if (m.name.forall(c => c.isLetterOrDigit || c == '_'))
          df.createOrReplaceTempView(m.name)
        else df.createOrReplaceTempView(SqlModel.viewName(m.name))
        df
      case Table =>
        val path = target
        val o = breakSelfRead(spark, df, path)
        o.write.mode("overwrite").parquet(path)
        // Explicit schema: an empty frame writes no parquet footers, and
        // schema inference over zero files would fail the read-back.
        spark.read.schema(df.schema).parquet(path)
      case IncrementalInsertOverwrite(partCol, parts) =>
        val path = target
        val rec = reconcileSchema(spark, breakSelfRead(spark, df, path), path, exists, m)
        writeIncremental(spark, rec, path, partCol, parts)
        spark.read.schema(rec.schema).parquet(path)
      case IncrementalMicrobatch(evt, partCol, begin, asOf, lookback) =>
        val path = target
        val days = microbatchDays(spark, path, partCol, begin, asOf, lookback,
          firstRun = fullRefresh)
        val out = reconcileSchema(spark,
          breakSelfRead(spark, df, path)
            .withColumn(partCol, to_date(col(evt)).cast("string")),
          path, exists, m)
        // Ascending, one insert-overwrite per day: a crash mid-run
        // leaves a contiguous committed prefix, and the next run's
        // batch list (derived from the target's partitions) resumes
        // exactly where it died.
        days.foreach(d => writeIncremental(spark, out, path, partCol, Seq(d)))
        spark.read.schema(out.schema).parquet(path)
      case MergeUpsert(key, partCol) =>
        val path = target
        val rec = reconcileSchema(spark, breakSelfRead(spark, df, path), path, exists, m)
        writeMerge(spark, rec, path, key, partCol)
        spark.read.schema(rec.schema).parquet(path)
      case IncrementalAppend(partCol) =>
        val path = target
        // breakSelfRead: an is_incremental() body may read {{ this }};
        // appending to a path the plan also scans needs the same
        // self-read break the other incremental writers use.
        val rec = reconcileSchema(spark, breakSelfRead(spark, df, path), path, exists, m)
        val w0 = rec.write.mode(if (exists) "append" else "overwrite")
        partCol.fold(w0)(w0.partitionBy(_)).parquet(path)
        spark.read.schema(rec.schema).parquet(path)
    }
    if (m.contract.nonEmpty) enforceContract(m, out)
    runHooks(m.postHooks)
    out
  }

  /** dbt `on_schema_change` reconciliation for incremental targets
    * (see [[Model.onSchemaChange]]). Runs only when the target exists
    * (first run / --full-refresh write the run's own schema, dbt
    * semantics) and only the column-name SETS differ — column ORDER is
    * irrelevant because every write here is by-name (parquet + explicit
    * read schemas). Cost: one footer read for the existing schema; the
    * reconciliation itself is a projection, fused into the write plan.
    * A same-name TYPE change is not reconcilable by any mode (the old
    * files' pages are authoritative) — it surfaces as a scan error and
    * needs --full-refresh, as in dbt.
    */
  private def reconcileSchema(spark: SparkSession, df: DataFrame, path: String,
                              exists: Boolean, m: Model): DataFrame = {
    if (!exists || m.onSchemaChange == "sync_all_columns") return df
    // mergeSchema: after an append_new_columns run the target's
    // partitions carry heterogeneous footers; a bare read picks an
    // arbitrary one and can silently resurrect a pre-append schema.
    // The union of all footers is the deterministic "catalog" schema.
    val existing = spark.read.option("mergeSchema", "true").parquet(path).schema
    val exNames = existing.fields.map(_.name).toSeq
    val newNames = df.columns.toSeq
    if (exNames.toSet == newNames.toSet) return df
    val added = newNames.filterNot(exNames.contains)
    val removed = exNames.filterNot(newNames.contains)
    m.onSchemaChange match {
      case "fail" =>
        throw new IllegalStateException(
          s"model ${m.name}: on_schema_change='fail' and the schema changed — " +
            s"added: [${added.mkString(", ")}], removed: [${removed.mkString(", ")}]")
      case "ignore" =>
        // dbt's default: new columns never reach the target; a column
        // the target expects but the run no longer produces is the
        // failed INSERT dbt raises, made explicit.
        require(removed.isEmpty,
          s"model ${m.name}: output no longer produces target columns " +
            s"[${removed.mkString(", ")}]; on_schema_change='ignore' cannot drop " +
            "target columns — use sync_all_columns or --full-refresh")
        df.select(exNames.map(col): _*)
      case "append_new_columns" =>
        // Target order, null-filling columns this run stopped
        // producing, then the new columns appended; old rows read the
        // appended columns back as NULL through the explicit schema.
        val kept = exNames.map(c =>
          if (newNames.contains(c)) col(c)
          else lit(null).cast(existing(existing.fieldIndex(c)).dataType).as(c))
        df.select(kept ++ added.map(col): _*)
    }
  }

  /** dbt contract enforcement: name-keyed (name, type) match — dbt
    * compares the column SET, not ordering, so a model whose SELECT
    * lists the contracted columns in a different order still satisfies
    * its contract — then not-null constraints in ONE aggregate pass.
    * Missing, extra, and type-mismatched columns each fail with the
    * offending names (the error a user actually debugs with). For
    * table-family models `out` scans the just-written parquet, so the
    * null check is a column-pruned read of the materialized data, not a
    * recompute of the model; a violation throws before post-hooks and
    * before any dependent builds (dbt's failure point).
    */
  private def enforceContract(m: Model, out: DataFrame): Unit = {
    val actual = out.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString).toMap
    val declared = m.contract.map(c =>
      c.name -> org.apache.spark.sql.types.DataType.fromDDL(c.dataType).simpleString).toMap
    val missing = (declared.keySet -- actual.keySet).toSeq.sorted
    val extra = (actual.keySet -- declared.keySet).toSeq.sorted
    val mismatched = declared.keySet.intersect(actual.keySet).toSeq.sorted
      .filter(c => declared(c) != actual(c))
      .map(c => s"$c (declared ${declared(c)}, actual ${actual(c)})")
    if (missing.nonEmpty || extra.nonEmpty || mismatched.nonEmpty) {
      val parts = Seq(
        if (missing.nonEmpty) Some(s"missing: ${missing.mkString(", ")}") else None,
        if (extra.nonEmpty) Some(s"undeclared: ${extra.mkString(", ")}") else None,
        if (mismatched.nonEmpty) Some(s"type mismatch: ${mismatched.mkString(", ")}") else None
      ).flatten.mkString("; ")
      throw new IllegalArgumentException(
        s"model ${m.name}: contract violated — $parts")
    }
    val nn = m.contract.filter(_.notNull).map(_.name)
    if (nn.nonEmpty) {
      val row = out.agg(
        sum(when(col(nn.head).isNull, 1L).otherwise(0L)).as(nn.head),
        nn.tail.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(c)): _*).head()
      val bad = nn.zipWithIndex.collect {
        case (c, i) if !row.isNullAt(i) && row.getLong(i) > 0 => s"$c (${row.getLong(i)} NULLs)"
      }
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"model ${m.name}: contract violated — not-null constraint failed: ${bad.mkString(", ")}")
    }
  }

  /** A self-referencing model (dbt's `{{ this }}` idiom, e.g.
    * `WHERE ts > (SELECT max(ts) FROM {{ this }})`) reads its own
    * target path; Spark refuses to overwrite a path that is also being
    * read, and a dynamic-partition overwrite mid-scan would be a
    * correctness hazard anyway. When (and only when) the plan really
    * scans the target, break the lineage with an eager local
    * checkpoint — one batch-sized materialization, the same price
    * dbt-spark pays by staging the new rows before its insert.
    */
  private def breakSelfRead(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return df
    val qualified = fs.makeQualified(hp).toString
    // collectWithSubqueries: the usual self-read sits inside a scalar
    // subquery (max-watermark probe), which a plain collect would miss.
    val reads = df.queryExecution.analyzed.collectWithSubqueries {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    if (reads.exists(r => r == qualified || r.startsWith(qualified + "/")))
      df.localCheckpoint(true)
    else df
  }

  /** The microbatch batch list: every day from `begin` (first run /
    * --full-refresh) or from `maxExistingDay - (lookback-1)` (the
    * late-arrival reprocess window) through `asOf`, ascending. Derived
    * from TARGET STATE — the existing `partCol=day` directories — so a
    * crashed run's retry resumes from its committed prefix without any
    * bookkeeping table.
    */
  private[graft] def microbatchDays(spark: SparkSession, path: String,
      partCol: String, begin: String, asOf: String, lookback: Int,
      firstRun: Boolean = false): Seq[String] = {
    import java.time.LocalDate
    require(lookback >= 1, s"microbatch lookback must be >= 1, got $lookback")
    val beginD = LocalDate.parse(begin)
    val asOfD = LocalDate.parse(asOf)
    require(!asOfD.isBefore(beginD), s"microbatch asOf $asOf precedes begin $begin")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: Seq[LocalDate] =
      if (firstRun || !fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.collect {
        case st if st.isDirectory && st.getPath.getName.startsWith(s"$partCol=") =>
          st.getPath.getName.stripPrefix(s"$partCol=")
      }.flatMap(d => scala.util.Try(LocalDate.parse(d)).toOption)
    val start =
      if (existing.isEmpty) beginD
      else {
        val resume = existing.maxBy(_.toEpochDay).minusDays(lookback - 1L)
        if (resume.isBefore(beginD)) beginD else resume
      }
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(asOfD))
      .map(_.toString).toSeq
  }

  /** Replace exactly `partitions` of the target, preserving all others
    * (dbt `insert_overwrite`). The source filter derives from the SAME
    * list (the invariant the reference keeps by hand,
    * `atinternet_smarttag_streams_daily_v4.sql:1-12` vs 75,101). Every
    * listed partition directory is dropped first, then one
    * dynamic-overwrite write runs the model plan once: a listed partition
    * without new rows disappears, unlisted ones keep their files. A crash
    * between drop and commit leaves a window partition missing until the
    * next run's identical window rewrites it.
    */
  def writeIncremental(spark: SparkSession, df: DataFrame, path: String,
                       partitionCol: String, partitions: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    // NULL-safe via the shared window predicate: a listed null (or "")
    // partition must select its replacement rows, not silently filter
    // them out after its directory was dropped.
    val partsOpt = partitions.map(p => normPart(Option(p))).distinct
    val filtered = df.filter(partitionWindow(partitionCol, partitions.map(Option(_))))
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      partsOpt.foreach(p => dropPartitionDir(fs, root, partitionCol, p))
    filtered.write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** Spark's parquet writer stores BOTH null and the empty string as
    * `__HIVE_DEFAULT_PARTITION__`, and the directory reads back as
    * null — so for window/drop purposes "" IS the NULL partition.
    * Normalizing here keeps an in-memory "" (from an updates frame)
    * and the null it becomes on read in the same window.
    */
  private def normPart(p: Option[String]): Option[String] =
    p.filter(_.nonEmpty)

  /** NULL-safe partition-window predicate: a bare `isin` over a list
    * containing null matches NOTHING under SQL null semantics, so the
    * NULL partition needs an explicit isNull-or-empty branch. Shared by
    * writeIncremental, writeMerge, and deleteByKeys so the null
    * handling can never diverge between them.
    */
  private def partitionWindow(partitionCol: String,
                              parts: Seq[Option[String]]): org.apache.spark.sql.Column = {
    val normed = parts.map(normPart)
    val partStr = col(partitionCol).cast("string")
    val nonNull = normed.flatten
    if (normed.contains(None))
      partStr.isin(nonNull: _*) || partStr.isNull || partStr === ""
    else partStr.isin(nonNull: _*)
  }

  /** Delete one partition directory (None = the NULL partition's
    * `__HIVE_DEFAULT_PARTITION__`), using the same escaping Spark's
    * writer uses for the directory name.
    */
  private def dropPartitionDir(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path,
                               partitionCol: String, value: Option[String]): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val dir = new org.apache.hadoop.fs.Path(root,
      ExternalCatalogUtils.getPartitionPathString(
        partitionCol, value.getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)))
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  /** Upsert `updates` into the parquet target by `uniqueKey`,
    * PARTITION-SCOPED: only the partitions the update frame touches are
    * read back, merged (existing rows whose key is being updated are
    * anti-joined away, then the updates union in), and dynamically
    * overwritten — a day of updates against a 100 TB table rewrites one
    * day, not the table. The merged window is staged to a scratch dir
    * first because Spark (correctly) refuses to overwrite a path it is
    * lazily reading from; the stage write is the same bounded window.
    * `updates` is persisted for the three passes over it (partition
    * list, key probe, staged union) so the upstream model pipeline runs
    * once, not three times.
    *
    * A NULL partition value is part of the window like any other:
    * survivors are selected with an explicit isNull branch (a bare
    * `isin` over a list containing null matches NOTHING under SQL null
    * semantics — old null-partition rows would silently vanish when the
    * dynamic overwrite replaces `__HIVE_DEFAULT_PARTITION__`).
    *
    * Failure behavior: if the final overwrite dies mid-commit, the
    * staging dir is deliberately LEFT IN PLACE — it holds the only
    * complete copy of the merged window once target partitions have
    * started being replaced. Staging is deleted only after a successful
    * overwrite (and any stale leftover is cleared at the start of the
    * next run).
    *
    * Contract: `updates` carries at most one row per `uniqueKey` (dbt's
    * unique_key contract) and a key's partition value must not change
    * across runs (else the old row lives in a partition this run never
    * rewrites — same constraint dbt merge has when the table is
    * partition-filtered).
    */
  def writeMerge(spark: SparkSession, updates: DataFrame, path: String,
                 uniqueKey: String, partitionCol: String): Unit =
    writeMerge(spark, updates, path, Seq(uniqueKey), partitionCol)

  /** Composite-key form of [[writeMerge]]: a row matches when ALL
    * `uniqueKeys` columns are equal (e.g. a postings table keyed by
    * (word, doc_id)). Same staging, NULL-partition and failure contract.
    */
  def writeMerge(spark: SparkSession, updates: DataFrame, path: String,
                 uniqueKeys: Seq[String], partitionCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    require(uniqueKeys.nonEmpty, "writeMerge needs at least one key column")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) {
      updates.write.partitionBy(partitionCol).parquet(path)
      return
    }
    // Persist only if the CALLER has not: unpersisting a caller-owned
    // cache here would silently evict it for their later reuse.
    val weCache = updates.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (weCache) updates.persist()
    try {
      val parts = updates.select(col(partitionCol).cast("string"))
        .distinct().collect().map(r => Option(r.getString(0))).toSeq
      val old = spark.read.schema(updates.schema).parquet(path)
        .filter(partitionWindow(partitionCol, parts))
      // No broadcast hint: the update-key set is usually small (AQE will
      // broadcast it), but a backfill-sized update must stay a shuffled
      // anti join rather than OOM the driver.
      val survivors = old.join(
        updates.select(uniqueKeys.map(col): _*).distinct(), uniqueKeys, "left_anti")
      // NOT dot/underscore-prefixed: Spark's file index treats those as
      // hidden and would read the staging dir back as empty.
      val staging = new Path(root.getParent, s"${root.getName}-merge-staging")
      if (fs.exists(staging)) fs.delete(staging, true)
      survivors.unionByName(updates)
        .write.partitionBy(partitionCol).parquet(staging.toString)
      spark.read.schema(updates.schema).parquet(staging.toString)
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy(partitionCol).parquet(path)
      fs.delete(staging, true) // success only — see scaladoc
    } finally if (weCache) updates.unpersist()
  }

  /** dbt SNAPSHOT materialization — SCD2 change capture over a mutable
    * source (dbt's `check` strategy: a row version closes when any
    * tracked column changes). First run opens every row
    * (`dbt_valid_from = asOf`, `dbt_valid_to` NULL); each later run
    * closes open rows whose check-column hash changed and inserts the
    * new version, inserts rows for new keys, and leaves unchanged and
    * hard-deleted keys open (dbt's default `invalidate_hard_deletes =
    * false`). `asOf` is injectable (never wall-clock) so runs are
    * deterministic and replayable — the same discipline as the models'
    * `today`.
    *
    * Idempotent: re-running with the same source and `asOf` is a no-op
    * (the new version's hash equals the open row's, so nothing closes
    * and the key set adds nothing).
    *
    * Scale: the change detection is ONE key-equi-join between the open
    * slice and the current source (both hash-reduced to key + digest —
    * never a column-wise compare shuffle); closed history is read and
    * rewritten untouched here for simplicity, and the documented
    * production layout partitions by an `is_open` flag so only the
    * open slice rewrites. Publishing is staging + rename-swap
    * ([[publishSwap]]): a crash can no longer lose the live table.
    */
  def writeSnapshot(spark: SparkSession, current: DataFrame, path: String,
                    uniqueKey: String, checkCols: Seq[String], asOf: String,
                    /** dbt `invalidate_hard_deletes`: close the open
                      * version of a key the source no longer carries
                      * (dbt_valid_to = asOf) instead of leaving it open.
                      */
                    invalidateHardDeletes: Boolean = false): Unit = {
    import org.apache.hadoop.fs.Path
    def checkHash(of: DataFrame): org.apache.spark.sql.Column = md5(concat_ws("\u0001",
      checkCols.map(c => coalesce(of(c).cast("string"), lit("\u0000"))): _*))
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamped = current
      .withColumn("dbt_valid_from", lit(asOf))
      .withColumn("dbt_valid_to", lit(null).cast("string"))
    if (!fs.exists(root)) {
      assertSnapshotKeyUnique(current, uniqueKey)
      stamped.write.parquet(path)
      return
    }
    val snap = spark.read.parquet(path)
    assertSnapshotInputs(current, snap, uniqueKey)
    val closed = snap.filter(col("dbt_valid_to").isNotNull)
    val open = snap.filter(col("dbt_valid_to").isNull)
    val curKeyed = current.select(col(uniqueKey).as("__k"), checkHash(current).as("__ch"))
    val openJ = open.withColumn("__oh", checkHash(open))
      .join(curKeyed, open(uniqueKey) === col("__k"), "left")
    val hardDeleted = if (invalidateHardDeletes) col("__k").isNull else lit(false)
    val stillOpen = openJ
      .filter(!hardDeleted && (col("__k").isNull || col("__ch") === col("__oh")))
      .select(snap.columns.map(col): _*)
    val nowClosed = openJ
      .filter(hardDeleted || (col("__k").isNotNull && col("__ch") =!= col("__oh")))
      .withColumn("dbt_valid_to", lit(asOf))
      .select(snap.columns.map(col): _*)
    val openKeysUnchanged = openJ
      .filter(col("__k").isNotNull && col("__ch") === col("__oh"))
      .select(col("__k"))
    val newOpen = stamped
      .join(openKeysUnchanged, stamped(uniqueKey) === col("__k"), "left_anti")
      .select(snap.columns.map(col): _*)
    val result = closed.unionByName(stillOpen).unionByName(nowClosed).unionByName(newOpen)
    publishSwap(spark, result, root, fs)
  }

  /** dbt SNAPSHOT with the `timestamp` strategy: a key's row version
    * closes when the source's `updatedAt` is STRICTLY newer than the
    * open version's — content is never compared (dbt's semantics: the
    * updated_at column is the change signal). `dbt_valid_from` is the
    * row's own `updatedAt` (not the run time, unlike the check
    * strategy's `asOf`), and a closed version's `dbt_valid_to` is the
    * superseding row's `updatedAt` — so the validity intervals tile the
    * source's OWN timeline and a replay is idempotent. Out-of-order
    * arrivals (source `updatedAt` equal or older than the open
    * version's, or NULL) are no-ops, as in dbt. Shares the first-run
    * stamping shape, the precondition checks and the staging +
    * rename-swap publish with [[writeSnapshot]].
    */
  def writeSnapshotTimestamp(spark: SparkSession, current: DataFrame, path: String,
                             uniqueKey: String, updatedAt: String,
                             /** dbt `invalidate_hard_deletes`: close keys
                               * missing from the source at `asOf` (the
                               * injectable run stamp — dbt uses the
                               * snapshot run's own timestamp). Requires
                               * asOf when enabled.
                               */
                             invalidateHardDeletes: Boolean = false,
                             asOf: Option[String] = None): Unit = {
    require(!invalidateHardDeletes || asOf.nonEmpty,
      "invalidate_hard_deletes on the timestamp strategy needs an asOf stamp " +
        "to close deleted keys at (RunDag --as-of)")
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamped = current
      .withColumn("dbt_valid_from", col(updatedAt).cast("string"))
      .withColumn("dbt_valid_to", lit(null).cast("string"))
    if (!fs.exists(root)) {
      assertSnapshotKeyUnique(current, uniqueKey)
      stamped.write.parquet(path)
      return
    }
    val snap = spark.read.parquet(path)
    assertSnapshotInputs(current, snap, uniqueKey)
    val closed = snap.filter(col("dbt_valid_to").isNotNull)
    val open = snap.filter(col("dbt_valid_to").isNull)
    val curKeyed = current.select(col(uniqueKey).as("__k"), col(updatedAt).as("__cu"))
    val openJ = open.join(curKeyed, open(uniqueKey) === col("__k"), "left")
    // NULL-safe: a NULL source updated_at compares to nothing → not newer.
    val isNewer = coalesce(col("__cu") > open(updatedAt), lit(false))
    val hardDeleted = if (invalidateHardDeletes) col("__k").isNull else lit(false)
    val stillOpen = openJ
      .filter(!hardDeleted && (col("__k").isNull || !isNewer))
      .select(snap.columns.map(col): _*)
    val nowClosed = openJ
      .filter(hardDeleted || (col("__k").isNotNull && isNewer))
      // A superseded version closes at the superseding row's own
      // updated_at; a hard-deleted key closes at the run stamp.
      .withColumn("dbt_valid_to",
        when(col("__k").isNull, lit(asOf.orNull)).otherwise(col("__cu").cast("string")))
      .select(snap.columns.map(col): _*)
    val openKeysNotSuperseded = openJ
      .filter(col("__k").isNotNull && !isNewer)
      .select(col("__k"))
    val newOpen = stamped
      .join(openKeysNotSuperseded, stamped(uniqueKey) === col("__k"), "left_anti")
      .select(snap.columns.map(col): _*)
    val result = closed.unionByName(stillOpen).unionByName(nowClosed).unionByName(newOpen)
    publishSwap(spark, result, root, fs)
  }

  /** Snapshot preconditions (both strategies): the source must carry at
    * most one row per `uniqueKey` (duplicate keys would fan out the
    * open-row join and silently multiply snapshot rows — dbt surfaces
    * this as an error), and the source schema must equal the snapshot's
    * minus the dbt columns (a silently dropped or new column is schema
    * drift the user must migrate deliberately).
    */
  private def assertSnapshotKeyUnique(current: DataFrame, uniqueKey: String): Unit = {
    // Bounded probe: at most one row comes back to the driver.
    val dup = current.groupBy(col(uniqueKey)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"snapshot unique_key '$uniqueKey' is not unique in the source " +
        s"(e.g. value ${dup.headOption.map(_.get(0)).orNull} occurs ${dup.headOption.map(_.get(1)).orNull} times)")
  }

  private def assertSnapshotInputs(current: DataFrame, snap: DataFrame,
                                   uniqueKey: String): Unit = {
    val dbtCols = Set("dbt_valid_from", "dbt_valid_to")
    val snapData = snap.columns.toSet -- dbtCols
    val extra = current.columns.toSet -- snapData
    val missing = snapData -- current.columns.toSet
    require(extra.isEmpty && missing.isEmpty,
      s"snapshot schema drift: source adds ${extra.toSeq.sorted.mkString(",")} " +
        s"/ drops ${missing.toSeq.sorted.mkString(",")} vs the existing snapshot " +
        "— migrate the snapshot table explicitly instead of silently dropping columns")
    assertSnapshotKeyUnique(current, uniqueKey)
  }

  /** Atomic-ish publish for whole-table rewrites: write the new content
    * to a staging dir, then COMMIT BY RENAME — live → `-prev`, staging →
    * live, delete `-prev` — instead of the old read-staging-then-
    * overwrite, whose delete+rewrite window could lose the live table
    * to a crash mid-overwrite. A crash anywhere before the first rename
    * leaves the live table untouched; between the renames the complete
    * new table sits in staging and the complete old table in `-prev`
    * (nothing is ever deleted before its replacement is fully written),
    * and the next run's stale-staging cleanup recovers. On HDFS a
    * rename is atomic in the namenode; on object stores substitute a
    * pointer-file/manifest commit (Iceberg/Delta's approach).
    */
  private def publishSwap(spark: SparkSession, result: DataFrame,
                          root: org.apache.hadoop.fs.Path,
                          fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val staging = new org.apache.hadoop.fs.Path(root.getParent, s"${root.getName}-snapshot-staging")
    val prev = new org.apache.hadoop.fs.Path(root.getParent, s"${root.getName}-prev")
    if (fs.exists(staging)) fs.delete(staging, true)
    if (fs.exists(prev)) fs.delete(prev, true)
    result.write.parquet(staging.toString)
    require(fs.rename(root, prev), s"publish: rename $root -> $prev failed")
    if (!fs.rename(staging, root)) {
      fs.rename(prev, root) // roll back to the old table
      throw new IllegalStateException(s"publish: rename $staging -> $root failed; rolled back")
    }
    fs.delete(prev, true)
  }

  /** Targeted erasure (the GDPR right-to-be-forgotten job every
    * long-lived table needs): delete all rows whose `keyCol` appears in
    * `keys`, rewriting ONLY partitions that contain at least one hit —
    * a handful of user-ids against a 100 TB table rewrites the touched
    * partitions, not the table. `keys` is a DataFrame, not a driver
    * list: erasure batches can be millions of keys, so the probe and
    * the anti-join stay distributed (semi/anti joins AQE can
    * broadcast when small). Partitions whose every row is deleted are
    * dropped explicitly (dynamic overwrite never replaces a partition
    * the staged frame has no rows for). NULL-partition and staging
    * semantics follow `writeMerge` (explicit isNull branch; staging
    * kept on failure). Returns the number of rows deleted.
    */
  def deleteByKeys(spark: SparkSession, path: String, keyCol: String,
                   keys: DataFrame, partitionCol: String): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    val table = spark.read.parquet(path)
    val keyDf = keys.select(col(keyCol)).distinct()
    val partStr = col(partitionCol).cast("string")
    // Probe pass: key + partition columns only (column-pruned scan);
    // one aggregation yields both the touched-partition set and the
    // total hit count — no persist needed for a single action.
    val touched = table.join(keyDf, Seq(keyCol), "left_semi")
      .groupBy(partStr.as("p")).count().collect()
    val nHits = touched.map(_.getLong(1)).sum
    if (touched.isEmpty) return 0L
    val touchedParts = touched.map(r => Option(r.getString(0))).toSeq
    // Keep the original column order: a Seq-join reorders keyCol first,
    // and mixed column orders across parquet files corrupt later reads.
    val survivors = table.filter(partitionWindow(partitionCol, touchedParts))
      .join(keyDf, Seq(keyCol), "left_anti")
      .select(table.columns.map(col): _*).persist()
    val staging = new Path(root.getParent, s"${root.getName}-erase-staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    try {
      survivors.write.partitionBy(partitionCol).parquet(staging.toString)
      // Collect the surviving-partition set BEFORE mutating the target:
      // after the overwrite, losing a cache block would recompute
      // `survivors` against source files the overwrite just deleted —
      // FileNotFoundException at best, and with ignoreMissingFiles a
      // silently smaller set that makes the drop loop below delete a
      // partition that still has survivors.
      val written = survivors.select(partStr).distinct().collect()
        .map(r => Option(r.getString(0))).toSet
      spark.read.schema(table.schema).parquet(staging.toString)
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy(partitionCol).parquet(path)
      // Touched partitions with zero survivors must be dropped by hand
      // (dynamic overwrite never replaces a partition the staged frame
      // has no rows for).
      touchedParts.filterNot(written)
        .foreach(p => dropPartitionDir(fs, root, partitionCol, p))
      fs.delete(staging, true) // success only, as in writeMerge
    } finally survivors.unpersist()
    nHits
  }
}
