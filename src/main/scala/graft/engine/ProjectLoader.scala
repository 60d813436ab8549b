package graft.engine

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt PROJECT-DIRECTORY frontend: point the engine at a directory laid
  * out like the reference project (`/root/reference/dbt_project.yml`,
  * `models/` (recursive) with `.sql` models and `sources.yml`/`schema.yml`
  * declarations, optional `macros/` SQL files) and get back a runnable DAG —
  * no Scala wiring. This closes the last parity gap VERDICT r10 named:
  * previously the YAML files' CONTENT was mirrored in Scala
  * (`models/NpoDag.scala`); now the files themselves are the input.
  *
  * What is parsed from where (all reference line cites):
  *   - `dbt_project.yml:1` project `name`; `:4-11` the `models:` config
  *     block — project-default `database`, per-group `database`/`schema`
  *     routing. Keys accept the modern `+database:` prefixed form too.
  *   - any `sources.yml` under `models/` (reference
  *     `models/source/ingest_incremental/sources.yml:1-8`): source
  *     declarations. A `{{ source('s', 't') }}` call site resolves
  *     through the runner's callback under the QUALIFIED key `s.t` —
  *     bare table names like `v1` would collide across sources.
  *   - any `schema.yml` under `models/`: per-model column test declarations
  *     (`unique`, `not_null`, `accepted_values`, `relationships`) routed
  *     into the existing [[DataTests.Check]] algebra; a test with
  *     `config: {severity: warn}` lands in `warnChecks` (dbt warn
  *     semantics — reported, never fails the build).
  *   - every `.sql` file under `models/` is a model named by its basename,
  *     loaded through [[SqlModel.fromSqlText]] (refs/vars/macros/
  *     conditionals all apply). `macros/` SQL files concatenate into the
  *     project macro namespace.
  *
  * Config precedence matches dbt: model config header > folder group >
  * project default.
  *
  * Group-key matching: dbt nests `models:` config by project name then
  * directory. The reference's own file keys groups LOOSELY —
  * `integral_reporting` names a directory two levels deep, and
  * `atinternet_smarttag_streams_daily` is a model-name PREFIX
  * (`dbt_project.yml:6-11`), not a directory at all. Accommodating that
  * layout verbatim, a group key applies when it equals the project name,
  * matches ANY path segment of the model's location under `models/`, or
  * is the model name / an `_`-separated prefix of it. Deeper matches
  * override shallower ones.
  *
  * Two BigQuery-project idioms the reference models use get loader-level
  * rewrites (the SQL dialect is otherwise the engine's native Spark
  * SQL, same policy as [[SqlModel]]):
  *   - a backtick-quoted three-part physical table
  *     (`` `npo-data-hub.analytics.media_events` `` — reference
  *     `models/source/ingest_latest/media_events.sql:1`) becomes an
  *     EXTERNAL ref under its full dotted name: the warehouse table is
  *     the interface, the runner's resolve callback maps it to data.
  *     This is how the reference's 10 one-line passthrough models
  *     ("sources in disguise", SURVEY §3.3) load as real DAG nodes.
  *   - `materialized='incremental'` headers: `insert_overwrite` reads
  *     `partition_by` and the `partitions = <set-list>` config
  *     (reference `atinternet_smarttag_streams_daily_v4.sql:15-22`),
  *     renders the list items (var substitution) and EVALUATES them as
  *     one constant SELECT — exactly what dbt+BigQuery does with the
  *     partition-expression list — yielding the literal
  *     [[IncrementalInsertOverwrite]] partition values. A `merge`
  *     strategy maps `unique_key`+`partition_by` to [[MergeUpsert]].
  *
  * Seeds (`seeds/` CSVs) load through [[Seeds.fromCsv]] when present;
  * the reference project has none.
  */
object ProjectLoader {

  /** One declared source table (`sources.yml`). `key` is the resolve
    * name `{{ source(name, table) }}` call sites rewrite to.
    */
  final case class SourceTable(sourceName: String, database: Option[String],
                               schema: Option[String], table: String) {
    def key: String = s"$sourceName.$table"
  }

  /** One `{% snapshot NAME %}` block (snapshots/ dir): the SELECT as a
    * [[Model]] (refs + build closure, full Jinja), plus the SCD2
    * strategy config from its `{{ config(...) }}` header.
    */
  final case class SnapshotNode(name: String, model: Model, strategy: String,
                                uniqueKey: String, updatedAt: Option[String],
                                checkCols: Seq[String],
                                targetSchema: Option[String],
                                targetDatabase: Option[String],
                                /** dbt `invalidate_hard_deletes`: close
                                  * open versions of keys the source no
                                  * longer carries (default false).
                                  */
                                invalidateHardDeletes: Boolean = false)

  final case class DbtProject(
      name: String,
      models: Seq[Model],
      sources: Seq[SourceTable],
      checks: Seq[DataTests.Check],
      warnChecks: Seq[DataTests.Check],
      /** dbt_project.yml `on-run-start:` / `on-run-end:` project hooks
        * (string or list form), vars/env already rendered. RunDag fires
        * start hooks before the first model and end hooks after a
        * SUCCESSFUL run — `DagRunner.run`'s own hook semantics.
        */
      onRunStart: Seq[String] = Nil,
      onRunEnd: Seq[String] = Nil,
      /** analyses/ — dbt's compile-only nodes: fully Jinja-resolved
        * (their compiledSql lands in the compile artifact beside the
        * models'), never materialized by a run.
        */
      analyses: Seq[Model] = Nil,
      /** `exposures:` declared in models YAML — downstream consumers
        * anchoring `exposure:` selection and the docs lineage.
        */
      exposures: Seq[Exposure] = Nil,
      /** sources.yml `freshness:` + `loaded_at_field` specs (table
        * level overrides source level, dbt precedence), ready for
        * [[DataTests.freshness]].
        */
      freshness: Seq[DataTests.Freshness] = Nil,
      /** `unit_tests:` (dbt 1.8) — mocked-input logic tests, ready for
        * [[DagRunner.runUnitTests]]. RunDag runs them BEFORE the build
        * and aborts on failure, dbt build's ordering.
        */
      unitTests: Seq[DagRunner.UnitTest] = Nil,
      /** snapshots/ `{% snapshot %}` blocks — SCD2 nodes run by
        * [[runSnapshots]] (`dbt snapshot`), never by a model run.
        */
      snapshots: Seq[SnapshotNode] = Nil,
      /** schema.yml `description:` docs: model-level and per-column
        * (model → column → text), surfaced through `writeDocs` /
        * `writeDocsSite` — dbt's manifest/catalog documentation.
        */
      descriptions: Map[String, String] = Map.empty,
      columnDescriptions: Map[String, Map[String, String]] = Map.empty,
      /** dbt `persist_docs`: model → (persist relation description,
        * persist column descriptions). The warehouse analog of dbt's
        * table/column COMMENTs: [[persistDocsSidecars]] writes a
        * `_graft_docs.json` sidecar inside each configured TABLE-family
        * model's target directory (views have no on-disk relation to
        * comment — dbt skips those per-adapter too).
        */
      persistDocs: Map[String, (Boolean, Boolean)] = Map.empty,
      /** The project's macro namespace (package macros under qualified
        * AND alias names, project macros shadowing) plus the natively-
        * rendered package macros — what `dbt run-operation` expands a
        * standalone macro call against ([[graft.tools.RunDag]]).
        */
      macroDefs: Map[String, SqlModel.MacroDef] = Map.empty,
      nativeMacroDefs: Map[String, Seq[String] => String] = Map.empty) {

    /** Write the persist_docs sidecars for every configured table-family
      * model under `warehouse`; returns the paths written. Call after a
      * successful build (dbt persists docs as part of `dbt run`).
      * `builtNames` limits the write to models the run actually
      * materialized: under `--select`, writing a sidecar for a
      * never-built model would CREATE its target directory
      * (fs.create(path, overwrite) makes parent dirs), so a later
      * incremental run of that model sees exists=true and tries to read
      * a parquet relation containing only the sidecar.
      */
    def persistDocsSidecars(spark: SparkSession, warehouse: String,
                            builtNames: Set[String]): Seq[String] = {
      def js(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      models.flatMap { m =>
        persistDocs.get(m.name).filter(_ => builtNames.contains(m.name))
          .flatMap { case (rel, cols) =>
          m.materialization match {
            case View | Ephemeral => None
            case _ =>
              val desc = if (rel) descriptions.get(m.name) else None
              val cdocs = if (cols) columnDescriptions.getOrElse(m.name, Map.empty)
                          else Map.empty[String, String]
              val body = "{" +
                s""""description":${desc.map(js).getOrElse("null")},""" +
                s""""columns":${cdocs.toSeq.sorted
                  .map { case (c, d) => s"${js(c)}:${js(d)}" }.mkString("{", ",", "}")}}"""
              val path = new org.apache.hadoop.fs.Path(
                DagRunner.targetPath(warehouse, m), "_graft_docs.json")
              val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
              val out = fs.create(path, true)
              try out.write(body.getBytes("UTF-8")) finally out.close()
              Some(path.toString)
          }
        }
      }
    }

    /** `dbt snapshot`: build each snapshot's SELECT against `resolve`
      * and fold it into its SCD2 target under `warehouse` (timestamp
      * strategy keys validity on the source's own updated_at; check
      * strategy stamps the injectable `asOf` — never wall-clock, the
      * engine-wide determinism discipline). Returns the updated
      * snapshot tables.
      */
    def runSnapshots(spark: SparkSession, resolve: String => DataFrame,
                     warehouse: String, asOf: Option[String] = None): Map[String, DataFrame] =
      snapshots.map { sn =>
        val current = sn.model.build(spark,
          sn.model.refs.map(r => r -> resolve(r)).toMap)
        val path = (Seq(warehouse) ++ sn.targetDatabase ++ sn.targetSchema :+ sn.name)
          .mkString("/")
        sn.strategy match {
          case "timestamp" =>
            DagRunner.writeSnapshotTimestamp(spark, current, path,
              sn.uniqueKey, sn.updatedAt.get,
              invalidateHardDeletes = sn.invalidateHardDeletes, asOf = asOf)
          case "check" =>
            // check_cols='all' = every non-key source column (dbt).
            val cols =
              if (sn.checkCols == Seq("all"))
                current.columns.toSeq.filterNot(_ == sn.uniqueKey)
              else sn.checkCols
            DagRunner.writeSnapshot(spark, current, path, sn.uniqueKey, cols,
              asOf.getOrElse(throw new IllegalArgumentException(
                s"snapshot ${sn.name}: the check strategy stamps an explicit " +
                  "as-of (RunDag --as-of 'YYYY-MM-DD HH:MM:SS')")),
              invalidateHardDeletes = sn.invalidateHardDeletes)
        }
        sn.name -> spark.read.parquet(path)
      }.toMap
    def model(n: String): Model = models.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"no model '$n' in project $name (models: ${models.map(_.name).sorted.mkString(", ")})"))
  }

  // ---- YAML helpers (snakeyaml ships on the Spark classpath) -----------

  private def parseYaml(p: Path): Any =
    new org.yaml.snakeyaml.Yaml().load[Any](Files.readString(p))

  private def asMap(a: Any): Map[String, Any] = a match {
    case null => Map.empty
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, v) => String.valueOf(k) -> (v: Any) }.toMap
    case other => throw new IllegalArgumentException(
      s"expected a YAML map, got ${other.getClass.getSimpleName}: $other")
  }

  private def asList(a: Any): Seq[Any] = a match {
    case null => Nil
    case l: java.util.List[_] => l.asScala.toSeq.map(v => v: Any)
    case other => throw new IllegalArgumentException(
      s"expected a YAML list, got ${other.getClass.getSimpleName}: $other")
  }

  private def optStr(m: Map[String, Any], k: String): Option[String] =
    m.get(k).filter(_ != null).map(String.valueOf)

  // ---- dbt_project.yml model-config resolution --------------------------

  /** Merge the `models:` block's applicable config for one model; see
    * the object scaladoc for the group-matching rule. Scalar entries at
    * a level are config for that level; map entries are groups.
    */
  private[graft] def modelConfig(modelsBlock: Map[String, Any],
                                  relPathSegs: Seq[String], modelName: String,
                                  projectName: String): Map[String, String] = {
    def scalars(m: Map[String, Any]): Map[String, String] = m.collect {
      case (k, v) if v != null && !v.isInstanceOf[java.util.Map[_, _]] &&
          !v.isInstanceOf[java.util.List[_]] =>
        k.stripPrefix("+") -> String.valueOf(v)
    }
    // A '+'-prefixed MAP entry is a config whose value is a dict
    // (+persist_docs: {relation: true, columns: true}), never a group —
    // flatten to dotted scalars (persist_docs.relation -> "true").
    def plusMaps(m: Map[String, Any]): Map[String, String] = m.toSeq.collect {
      case (k, sub: java.util.Map[_, _]) if k.startsWith("+") =>
        asMap(sub).collect { case (sk, sv) if sv != null =>
          s"${k.stripPrefix("+")}.$sk" -> String.valueOf(sv)
        }
    }.flatten.toMap
    def walk(m: Map[String, Any], acc: Map[String, String]): Map[String, String] = {
      var out = acc ++ scalars(m) ++ plusMaps(m)
      m.toSeq.sortBy(_._1).foreach {
        case (k, sub: java.util.Map[_, _]) if !k.startsWith("+") =>
          val applies = k == projectName || relPathSegs.contains(k) ||
            modelName == k || modelName.startsWith(k + "_")
          if (applies) out = walk(asMap(sub), out)
        case _ => ()
      }
      out
    }
    walk(modelsBlock, Map.empty)
  }

  // ---- model-body rewrites ----------------------------------------------

  // {% snapshot NAME %} body {% endsnapshot %} — dbt's snapshots/ file
  // grammar (one or more blocks per file).
  private val snapshotBlockPat = java.util.regex.Pattern.compile(
    """\{%-?\s*snapshot\s+(\w+)\s*-?%\}(.*?)\{%-?\s*endsnapshot\s*-?%\}""",
    java.util.regex.Pattern.DOTALL)

  private val sourceCallPat = java.util.regex.Pattern.compile(
    """\{\{\s*source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}""")
  // Backtick-quoted THREE-part name (two dots inside the backticks) —
  // single-part backticks are ordinary quoted identifiers (`type`,
  // `index`) and must pass through untouched.
  private val physicalTablePat = java.util.regex.Pattern.compile(
    """`([^`\s.]+\.[^`\s.]+\.[^`\s.]+)`""")
  private val bareSourceCallPat = java.util.regex.Pattern.compile(
    """source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)""")
  // Two-arg {{ ref('project', 'model') }} — dbt 1.6 cross-project refs
  // ("dbt mesh"). Distinct from the version-pinned form (second arg
  // there is bare `v=N`, not quoted).
  private val projRefPat = java.util.regex.Pattern.compile(
    """\{\{\s*ref\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}""")

  // {% docs NAME %} markdown {% enddocs %} — dbt's doc blocks, defined
  // in any .md file under models/ or docs/ and referenced from YAML
  // descriptions as {{ doc('NAME') }}.
  private val docBlockPat = java.util.regex.Pattern.compile(
    """(?s)\{%\s*docs\s+(\w+)\s*%\}(.*?)\{%\s*enddocs\s*%\}""")
  private val docRefPat = java.util.regex.Pattern.compile(
    """\{\{\s*doc\(\s*['"]([^'"]+)['"]\s*\)\s*\}\}""")

  /** Parse every `{% docs %}` block in `text`; duplicate names across
    * the project fail loudly (dbt's compile error).
    */
  private def parseDocBlocks(text: String, file: String): Seq[(String, String)] = {
    val m = docBlockPat.matcher(text)
    val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
    while (m.find()) out += (m.group(1) -> m.group(2).trim)
    out.toSeq
  }

  /** Evaluate a project-defined `generate_schema_name` /
    * `generate_alias_name` macro (dbt's custom-naming hooks) for one
    * node. Supported body constructs — the subset every published
    * override actually uses: `{% if/elif/else %}` on `is [not] none` /
    * `==`/`!=` comparisons, the macro's parameters, `node.name`,
    * `{{ target.name }}`, `{{ target.schema }}`, and string literals
    * (optionally `| trim`). The result is whitespace-stripped (a
    * relation name); anything unresolved fails loudly rather than
    * routing a model to a half-rendered path.
    */
  private[graft] def evalNamingMacro(d: SqlModel.MacroDef, custom: Option[String],
                                     nodeName: String, targetName: String,
                                     targetSchema: String): String = {
    import java.util.regex.{Matcher, Pattern}
    // The parameter binds by textual substitution and the custom value is
    // injected as a bare quoted literal — an embedded quote (or any
    // non-identifier junk) would render garbage that can slip past the
    // leftover-{{ check and route the model to a wrong path. Schema and
    // alias names are identifiers; demand that shape loudly.
    custom.foreach(c => require(c.matches("[A-Za-z0-9_.\\-]+"),
      s"${d.name}: custom value '$c' is not a safe identifier " +
        "([A-Za-z0-9_.-]+) — refusing to substitute it into the macro body"))
    val customLit = custom.map(c => s"'$c'").getOrElse("none")
    val param = d.params.headOption.map(_._1).getOrElse("custom_schema_name")
    val bound = d.body
      .replaceAll("""\bnode\.name\b""", Matcher.quoteReplacement(s"'$nodeName'"))
      .replaceAll("\\b" + Pattern.quote(param) + "\\b",
        Matcher.quoteReplacement(customLit))
    val rendered = SqlModel.expandIfBlocks(bound, Map.empty, targetName)
      .replaceAll("""\{\{\s*target\.name\s*\}\}""", Matcher.quoteReplacement(targetName))
      .replaceAll("""\{\{\s*target\.schema\s*\}\}""", Matcher.quoteReplacement(targetSchema))
      .replaceAll("""\{\{\s*'([^']*)'\s*(?:\|\s*trim\s*)?\}\}""", "$1")
    val out = rendered.replaceAll("\\s+", "")
    require(!out.contains("{{") && !out.contains("{%"),
      s"${d.name}: unsupported construct in naming-macro body " +
        s"(rendered: ${rendered.trim})")
    require(out.nonEmpty, s"${d.name} rendered an empty name for $nodeName")
    out
  }

  /** Resolve `{{ doc('name') }}` references inside a description
    * against the project's doc blocks — unknown names are dbt's
    * compile error, not a silent empty string.
    */
  private def renderDocRefs(text: String, blocks: Map[String, String],
                            where: String): String = {
    val m = docRefPat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val name = m.group(1)
      val body = blocks.getOrElse(name, throw new IllegalArgumentException(
        s"$where: doc('$name') is not defined in any {% docs %} block " +
          s"(defined: ${blocks.keys.toSeq.sorted.mkString(", ")})"))
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(body))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Rewrite `{{ source('s','t') }}` to `{{ ref('s.t') }}` (qualified
    * resolve key), failing on a source not declared in any sources.yml —
    * dbt's own compile error.
    */
  private def rewriteSources(text: String, declared: Set[(String, String)],
                             file: String): String = {
    val m = sourceCallPat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val (s, t) = (m.group(1), m.group(2))
      require(declared.contains((s, t)),
        s"$file: source('$s', '$t') is not declared in any sources.yml " +
          s"(declared: ${declared.toSeq.sorted.map { case (a, b) => s"$a.$b" }.mkString(", ")})")
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(s"{{ ref('$s.$t') }}"))
    }
    m.appendTail(sb)
    // Second pass: a BARE source('s','t') inside a Jinja region — a macro
    // relation argument like {{ dbt_utils.star(from=source('s','t')) }} —
    // is not caught by the braced pattern above. Rewriting it to the
    // qualified ref('s.t') form keeps the DAG edge keyed identically to
    // every other source reference (selectors, freshness, alias routing)
    // and preserves the not-declared compile error. Bare source(...)
    // OUTSIDE any {{ }} is left untouched (it would be plain SQL text).
    val braced = sb.toString
    val m2 = bareSourceCallPat.matcher(braced)
    val sb2 = new java.lang.StringBuilder
    while (m2.find()) {
      val before = braced.substring(0, m2.start)
      val insideJinja = before.lastIndexOf("{{") > before.lastIndexOf("}}")
      if (insideJinja) {
        val (s, t) = (m2.group(1), m2.group(2))
        require(declared.contains((s, t)),
          s"$file: source('$s', '$t') is not declared in any sources.yml " +
            s"(declared: ${declared.toSeq.sorted.map { case (a, b) => s"$a.$b" }.mkString(", ")})")
        m2.appendReplacement(sb2,
          java.util.regex.Matcher.quoteReplacement(s"ref('$s.$t')"))
      } else {
        m2.appendReplacement(sb2,
          java.util.regex.Matcher.quoteReplacement(m2.group(0)))
      }
    }
    m2.appendTail(sb2)
    sb2.toString
  }

  private def rewritePhysicalTables(text: String): String =
    physicalTablePat.matcher(text).replaceAll(m =>
      java.util.regex.Matcher.quoteReplacement(s"{{ ref('${m.group(1)}') }}"))

  // ---- incremental-header materialization --------------------------------

  // partitions = <identifier> inside the config header (a Jinja variable
  // naming a {% set %} list — reference line 21).
  private val partitionsRefPat = java.util.regex.Pattern.compile(
    """\{\{\s*config\([^}]*?partitions\s*=\s*(\w+)[^}]*\)\s*\}\}""", java.util.regex.Pattern.DOTALL)

  private def materializationFor(spark: SparkSession, name: String, raw: String,
                                 vars: Map[String, String],
                                 cfg: Map[String, String]): Materialization = {
    val headerMat = SqlModel.configStr(raw, "materialized")
    if (!headerMat.contains("incremental")) {
      // view/table/ephemeral headers are honored by fromSqlText itself;
      // a FOLDER-level materialized applies only when the header is
      // silent (dbt precedence: model header > folder).
      return (if (headerMat.isEmpty) cfg.get("materialized") else None) match {
        case Some("table") => Table
        case Some("ephemeral") => Ephemeral
        case Some("view") | None => View
        case Some(other) => throw new IllegalArgumentException(
          s"model $name: folder-level materialized='$other' is not supported " +
            "outside a model config header (incremental needs partition config)")
      }
    }
    val strategy = SqlModel.configStr(raw, "incremental_strategy")
      .getOrElse("insert_overwrite")
    // append is the one strategy with no partition requirement (the
    // event-log shape); partition_by remains an optional layout hint.
    if (strategy == "append")
      return IncrementalAppend(SqlModel.configStr(raw, "partition_by"))
    val partCol = SqlModel.configStr(raw, "partition_by").getOrElse(
      throw new IllegalArgumentException(
        s"model $name: materialized='incremental' requires partition_by"))
    strategy match {
      case "insert_overwrite" =>
        val pm = partitionsRefPat.matcher(raw)
        require(pm.find(),
          s"model $name: insert_overwrite requires `partitions = <set-list>` in config")
        val listName = pm.group(1)
        val (lists, _) = SqlModel.extractSetLists(raw)
        val items = lists.getOrElse(listName, throw new IllegalArgumentException(
          s"model $name: partitions list '$listName' is not a {% set %} list " +
            s"(defined: ${lists.keys.toSeq.sorted.mkString(", ")})"))
        // Render each partition EXPRESSION (var substitution) and
        // evaluate the whole list as one constant SELECT — the loader's
        // analog of BigQuery evaluating dbt's partition expressions.
        // The optimizer folds a constant list to literals without running it;
        // only a list that does not fold runs as a Spark job.
        val exprs = items.map(SqlModel.substituteVars(_, vars))
        val select = spark.sql(
          exprs.zipWithIndex.map { case (e, i) => s"$e AS p$i" }
            .mkString("SELECT ", ", ", ""))
        import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
        import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
        import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
        val literals = select.queryExecution.optimizedPlan match {
          case Project(list, _: OneRowRelation) =>
            list.collect { case Alias(Literal(v, t), _) => convertToScala(v, t) }
          case _ => Nil
        }
        val values = if (literals.size == exprs.size) literals else select.head().toSeq
        IncrementalInsertOverwrite(partCol, values.map(v => String.valueOf(v)))
      case "merge" | "delete+insert" =>
        // On a parquet file warehouse the two strategies share one
        // mechanism: writeMerge's key-anti-join + insert. `merge`
        // carries dbt's at-most-one-row-per-key update contract;
        // `delete+insert` is the same operation without it (all target
        // rows for a batch key are dropped, every batch row inserts —
        // which is exactly what the anti-join + unionByName does).
        val key = SqlModel.configStr(raw, "unique_key").getOrElse(
          throw new IllegalArgumentException(
            s"model $name: incremental_strategy='$strategy' requires unique_key"))
        MergeUpsert(key, partCol)
      case other => throw new IllegalArgumentException(
        s"model $name: unsupported incremental_strategy '$other' " +
          "(supported: insert_overwrite, merge, delete+insert, append)")
    }
  }

  // ---- schema.yml test routing -------------------------------------------

  /** Parse one schema.yml `models:` LIST (distinct from dbt_project.yml's
    * `models:` MAP) into (fail-severity checks, warn-severity checks).
    */
  private[graft] def parseSchemaTests(doc: Map[String, Any]):
      (Seq[DataTests.Check], Seq[DataTests.Check]) = {
    val fails = Seq.newBuilder[DataTests.Check]
    val warns = Seq.newBuilder[DataTests.Check]
    doc.get("models").map(asList).getOrElse(Nil).foreach { mAny =>
      val m = asMap(mAny)
      val model = optStr(m, "name").getOrElse(
        throw new IllegalArgumentException("schema.yml model entry without a name"))
      m.get("columns").map(asList).getOrElse(Nil).foreach { cAny =>
        val c = asMap(cAny)
        val colName = optStr(c, "name").getOrElse(throw new IllegalArgumentException(
          s"schema.yml: column entry without a name under model $model"))
        c.get("tests").map(asList).getOrElse(Nil).foreach { tAny =>
          val (check, warn) = tAny match {
            case s: String => (simpleCheck(s, model, colName), false)
            case mm: java.util.Map[_, _] =>
              val tm = asMap(mm)
              require(tm.size == 1,
                s"schema.yml: a test map must have exactly one test key ($model.$colName)")
              val (kind, body) = tm.head
              val bm = asMap(body)
              val isWarn = bm.get("config").map(asMap)
                .flatMap(optStr(_, "severity")).contains("warn")
              (parameterizedCheck(kind, bm, model, colName), isWarn)
            case other => throw new IllegalArgumentException(
              s"schema.yml: unsupported test declaration $other ($model.$colName)")
          }
          if (warn) warns += check else fails += check
        }
      }
    }
    (fails.result(), warns.result())
  }

  private def simpleCheck(kind: String, model: String, col: String): DataTests.Check =
    kind match {
      case "unique" => DataTests.Unique(model, Seq(col))
      case "not_null" => DataTests.NotNull(model, col)
      case other => throw new IllegalArgumentException(
        s"schema.yml: unsupported test '$other' on $model.$col " +
          "(supported: unique, not_null, accepted_values, relationships)")
    }

  private def parameterizedCheck(kind: String, body: Map[String, Any],
                                 model: String, col: String): DataTests.Check =
    kind match {
      case "unique" => DataTests.Unique(model, Seq(col))
      case "not_null" => DataTests.NotNull(model, col)
      case "accepted_values" =>
        DataTests.AcceptedValues(model, col,
          body.get("values").map(asList).getOrElse(Nil).map(String.valueOf))
      case "relationships" =>
        val toRaw = optStr(body, "to").getOrElse(throw new IllegalArgumentException(
          s"schema.yml: relationships on $model.$col requires `to:`"))
        // to: ref('parent') — the dbt form; a bare name is accepted too.
        val parent = "ref\\('([^']+)'\\)".r.findFirstMatchIn(toRaw)
          .map(_.group(1)).getOrElse(toRaw)
        val field = optStr(body, "field").getOrElse(throw new IllegalArgumentException(
          s"schema.yml: relationships on $model.$col requires `field:`"))
        DataTests.Relationships(model, col, parent, field)
      case other => throw new IllegalArgumentException(
        s"schema.yml: unsupported test '$other' on $model.$col")
    }

  // ---- packages.yml -------------------------------------------------------

  /** Resolve `packages.yml` (VERDICT r11 ask #5). Supported entries:
    *   - `- package: org/name` (or bare `name`) → the engine's BUILT-IN
    *     registry ([[Packages.builtin]]) — zero-egress stand-in for the
    *     hub download; `version:` is accepted and ignored (the built-in
    *     IS the pinned version). Unknown names fail loudly.
    *   - `- local: relative/path` → a package directory read from disk:
    *     the SQL files under its `macros/` dir concatenate under a
    *     namespace named by its own dbt_project.yml `name:` (falling
    *     back to the directory basename) — dbt's local-package behavior.
    */
  private[graft] def loadPackages(dir: Path): Seq[Packages.Package] = {
    val f = dir.resolve("packages.yml")
    if (!Files.exists(f)) return Nil
    val doc = asMap(parseYaml(f))
    doc.get("packages").map(asList).getOrElse(Nil).map(asMap).map { entry =>
      (optStr(entry, "package"), optStr(entry, "local")) match {
        case (Some(hub), None) =>
          val base = hub.split('/').last
          Packages.builtin.getOrElse(base, throw new IllegalArgumentException(
            s"packages.yml: unknown package '$hub' — zero-egress build resolves only " +
              s"built-ins (${Packages.builtin.keys.toSeq.sorted.mkString(", ")}) and local: paths"))
        case (None, Some(rel)) =>
          val pdir = dir.resolve(rel)
          require(Files.isDirectory(pdir), s"packages.yml: local package $pdir does not exist")
          val name = {
            val py = pdir.resolve("dbt_project.yml")
            if (Files.exists(py)) optStr(asMap(parseYaml(py)), "name")
              .getOrElse(pdir.getFileName.toString)
            else pdir.getFileName.toString
          }
          val macrosDir = pdir.resolve("macros")
          require(Files.isDirectory(macrosDir),
            s"packages.yml: local package $pdir has no macros/ directory")
          val stream = Files.walk(macrosDir)
          val text =
            try stream.iterator().asScala
              .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".sql"))
              .toSeq.sortBy(_.toString).map(Files.readString(_)).mkString("\n")
            finally stream.close()
          val (defs, _) = SqlModel.extractMacros(text)
          Packages.Package(name, defs, Map.empty)
        case _ => throw new IllegalArgumentException(
          s"packages.yml: each entry needs exactly one of package:/local: ($entry)")
      }
    }
  }

  // ---- selectors.yml ------------------------------------------------------

  /** One named selection spec (dbt selectors.yml). The definition is the
    * STRING form of dbt's selector grammar — exactly what `--select`
    * takes, resolved by [[DagRunner.select]] (whitespace unions, comma
    * intersects, `tag:`/`+`/`@` operators). dbt's structured YAML-tree
    * form is rejected with a pointer to the string form: both compile
    * to the same algebra, and the string IS that algebra here.
    */
  final case class Selector(name: String, definition: String, default: Boolean)

  /** Parse `<dir>/selectors.yml` (empty when absent). Validates unique
    * names and at most one `default: true` — dbt's own constraints.
    */
  def loadSelectors(dir: Path): Seq[Selector] = {
    val f = dir.resolve("selectors.yml")
    if (!Files.exists(f)) return Nil
    val doc = asMap(parseYaml(f))
    val out = doc.get("selectors").map(asList).getOrElse(Nil).map(asMap).map { entry =>
      val name = optStr(entry, "name").getOrElse(
        throw new IllegalArgumentException(s"$f: selector entry without a name"))
      val defn = entry.get("definition") match {
        case Some(s: String) => s
        case Some(other) => throw new IllegalArgumentException(
          s"$f: selector '$name' uses the structured definition form " +
            s"(${other.getClass.getSimpleName}); write the string form of the same " +
            "spec instead (whitespace unions, commas intersect, tag:/+/@ operators)")
        case None => throw new IllegalArgumentException(
          s"$f: selector '$name' has no definition")
      }
      val dflt = entry.get("default").exists(v => String.valueOf(v) == "true")
      Selector(name, defn, dflt)
    }
    val names = out.map(_.name)
    require(names.distinct.size == names.size,
      s"$f: duplicate selector names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    require(out.count(_.default) <= 1,
      s"$f: more than one default selector: ${out.filter(_.default).map(_.name).mkString(", ")}")
    out
  }

  // ---- profiles.yml -------------------------------------------------------

  /** One resolved profiles.yml output — dbt's per-target connection
    * config reduced to what a lake engine routes on: target name,
    * default database/schema (the fallback BELOW dbt_project.yml model
    * config, dbt's own precedence), and threads.
    */
  final case class TargetOutput(name: String, database: Option[String],
                                schema: Option[String], threads: Int)

  /** Parse a profiles.yml-shaped file and resolve one output:
    * `profile` picks the top-level entry (dbt_project.yml's `profile:`
    * key names it), `target` overrides the entry's default `target:`.
    */
  def loadProfiles(path: Path, profile: String,
                   target: Option[String] = None): TargetOutput = {
    require(Files.exists(path), s"profiles file $path does not exist")
    val doc = asMap(parseYaml(path))
    val prof = asMap(doc.getOrElse(profile, throw new IllegalArgumentException(
      s"$path: no profile '$profile' (profiles: ${doc.keys.toSeq.sorted.mkString(", ")})")))
    val tName = target.orElse(optStr(prof, "target")).getOrElse(
      throw new IllegalArgumentException(
        s"$path: profile '$profile' declares no default target and none was passed"))
    val outputs = prof.get("outputs").map(asMap).getOrElse(
      throw new IllegalArgumentException(s"$path: profile '$profile' has no outputs:"))
    val out = asMap(outputs.getOrElse(tName, throw new IllegalArgumentException(
      s"$path: profile '$profile' has no output '$tName' " +
        s"(outputs: ${outputs.keys.toSeq.sorted.mkString(", ")})")))
    TargetOutput(tName, optStr(out, "database"), optStr(out, "schema"),
      optStr(out, "threads").map(_.toInt).getOrElse(1))
  }

  /** The project's `profile:` key (dbt_project.yml names which
    * profiles.yml entry it connects through).
    */
  def profileNameOf(dir: Path): Option[String] = {
    val f = dir.resolve("dbt_project.yml")
    if (Files.exists(f)) optStr(asMap(parseYaml(f)), "profile") else None
  }

  // ---- the loader ---------------------------------------------------------

  def load(spark: SparkSession, dir: Path,
           vars: Map[String, String] = Map.empty,
           target: String = "dev",
           /** A resolved profiles.yml output: its name becomes
             * `target.name` (overriding the `target` arg) and its
             * database/schema are the LAST-resort routing fallback —
             * below model headers and dbt_project.yml config, dbt's
             * precedence.
             */
           profile: Option[TargetOutput] = None): DbtProject =
    loadImpl(spark, dir, vars, target, profile, Set.empty,
      scala.collection.mutable.Map.empty)

  private def loadImpl(spark: SparkSession, dir: Path,
                       vars: Map[String, String],
                       target: String,
                       profile: Option[TargetOutput],
                       /** Absolute project dirs already on the load
                         * path — guards dependencies.yml cycles.
                         */
                       visited: Set[Path],
                       /** Projects already loaded ANYWHERE in this load
                         * (dir → result): a diamond mesh (consumer → A,
                         * consumer → B → A) resolves the shared upstream
                         * to ONE project instance instead of loading it
                         * twice and tripping the duplicate-basename
                         * check. dbt supports diamond dependencies.
                         */
                       memo: scala.collection.mutable.Map[Path, DbtProject]): DbtProject = {
    // Package macros may render to the engine's native functions
    // (safe_cast); register them in this session before any model SQL
    // parses. Idempotent (createOrReplaceTempFunction).
    graft.functions.GraftFunctions.register(spark)
    val projFile = dir.resolve("dbt_project.yml")
    require(Files.exists(projFile), s"not a dbt project: $projFile does not exist")
    val projYml = asMap(parseYaml(projFile))
    val projectName = optStr(projYml, "name").getOrElse(
      throw new IllegalArgumentException(s"$projFile: missing project name"))

    // dependencies.yml (dbt 1.6 cross-project "mesh" refs): each
    // declared upstream project loads recursively; its PUBLIC models are
    // the only ones a two-arg ref('project', 'model') may target (dbt's
    // access enforcement). The upstream's models join THIS project's
    // runnable DAG — where dbt Cloud resolves a cross-project ref to the
    // upstream's already-deployed relation, the engine materializes the
    // upstream in-run, so a mesh works on the FIRST run (the same
    // strictly-stronger divergence as build-time star introspection).
    // `path:` locates the upstream relative to the consumer project dir;
    // default is a sibling directory named after the project. Upstream
    // TESTS/snapshots/unit tests do not merge — dbt never runs an
    // upstream project's checks from a consumer invocation.
    val dirKey = dir.toAbsolutePath.normalize
    require(!visited.contains(dirKey),
      s"dependencies.yml cycle: project at $dirKey is already on the load path")
    val depsFile = dir.resolve("dependencies.yml")
    val upstreamProjects: Seq[DbtProject] =
      (if (Files.exists(depsFile)) asMap(parseYaml(depsFile)).get("projects")
         .map(asList).getOrElse(Nil).map(asMap)
       else Nil).map { p =>
        val depName = optStr(p, "name").getOrElse(throw new IllegalArgumentException(
          s"$depsFile: projects entry without a name"))
        val depDir = optStr(p, "path").map(dir.resolve(_).normalize)
          .getOrElse(Option(dir.getParent).map(_.resolve(depName)).getOrElse(
            throw new IllegalArgumentException(
              s"$depsFile: project '$depName' has no path and $dir has no parent")))
        require(Files.isDirectory(depDir),
          s"$depsFile: upstream project '$depName' not found at $depDir")
        val depKey = depDir.toAbsolutePath.normalize
        val up = memo.getOrElseUpdate(depKey, loadImpl(spark, depDir, vars, target,
          profile = None, visited = visited + dirKey, memo = memo))
        require(up.name == depName,
          s"$depsFile: entry '$depName' points at $depDir, which declares " +
            s"project '${up.name}'")
        up
      }
    // Full and public model maps per upstream project — full for the
    // does-it-exist error, public for what a cross-project ref may use.
    val upAll: Map[String, Map[String, Model]] =
      upstreamProjects.map(up => up.name -> up.models.map(m => m.name -> m).toMap).toMap
    def rewriteProjectRefs(text: String, where: String): String = {
      val m = projRefPat.matcher(text)
      val sb = new java.lang.StringBuilder
      while (m.find()) {
        val (p, mod) = (m.group(1), m.group(2))
        val fam = upAll.getOrElse(p, throw new IllegalArgumentException(
          s"$where: ref('$p', '$mod') — project '$p' is not declared in " +
            s"dependencies.yml (declared: ${
              if (upAll.isEmpty) "none" else upAll.keys.toSeq.sorted.mkString(", ")})"))
        val refd = fam.getOrElse(mod, throw new IllegalArgumentException(
          s"$where: ref('$p', '$mod') — project '$p' has no model '$mod'"))
        require(refd.access == "public",
          s"$where: ref('$p', '$mod') — model '$mod' has access: " +
            s"${refd.access}; only access: public models may be " +
            "referenced across projects")
        m.appendReplacement(sb,
          java.util.regex.Matcher.quoteReplacement(s"{{ ref('$mod') }}"))
      }
      m.appendTail(sb)
      sb.toString
    }
    val modelsBlock = projYml.get("models").map(asMap).getOrElse(Map.empty)
    // dbt_project.yml `vars:` declares project-level DEFAULTS; caller
    // vars (dbt's --vars) override them — dbt's own precedence.
    val projectVars = projYml.get("vars").map(asMap).getOrElse(Map.empty)
      .map { case (k, v) => k -> String.valueOf(v) }
    val boundVars = projectVars ++ vars

    val modelsDir = dir.resolve("models")
    require(Files.isDirectory(modelsDir), s"$dir has no models/ directory")
    def filesUnder(root: Path, suffixes: Seq[String]): Seq[Path] = {
      if (!Files.isDirectory(root)) return Nil
      val stream = Files.walk(root)
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          suffixes.exists(p.getFileName.toString.endsWith(_)))
        .toSeq.sortBy(_.toString)
      finally stream.close()
    }

    // Sources (+ per-source/table freshness config) + schema tests from
    // every YAML under models/.
    val ymls = filesUnder(modelsDir, Seq(".yml", ".yaml")).map(p => p -> asMap(parseYaml(p)))
    // {% docs %} blocks from markdown under models/ and docs/ — the
    // project-wide doc-block namespace (dbt: unique across the project).
    val docBlocks: Map[String, String] = {
      val all = (filesUnder(modelsDir, Seq(".md")) ++
        filesUnder(dir.resolve("docs"), Seq(".md"))).flatMap(p =>
        parseDocBlocks(Files.readString(p), p.toString))
      val dups = all.groupBy(_._1).collect { case (n, g) if g.size > 1 => n }
      require(dups.isEmpty,
        s"duplicate {% docs %} block name(s): ${dups.toSeq.sorted.mkString(", ")}")
      all.toMap
    }
    def periodSec(fresh: Map[String, Any], key: String, where: String): Long =
      fresh.get(key).map(asMap).map { a =>
        val count = a.get("count").map(String.valueOf(_).toLong).getOrElse(
          throw new IllegalArgumentException(s"$where: $key needs a count"))
        val unit = a.get("period").map(String.valueOf) match {
          case Some("minute") => 60L
          case Some("hour") => 3600L
          case Some("day") => 86400L
          case other => throw new IllegalArgumentException(
            s"$where: $key period must be minute/hour/day, got ${other.getOrElse("(none)")}")
        }
        count * unit
      }.getOrElse(Long.MaxValue) // absent threshold never fires (dbt: filter-only)
    val sourceEntries = ymls.flatMap { case (_, doc) =>
      doc.get("sources").map(asList).getOrElse(Nil).map(asMap).flatMap { src =>
        val sName = optStr(src, "name").getOrElse(
          throw new IllegalArgumentException("sources.yml: source entry without a name"))
        val srcLoaded = optStr(src, "loaded_at_field")
        val srcFresh = src.get("freshness").map(asMap)
        src.get("tables").map(asList).getOrElse(Nil).map(asMap).map { t =>
          val st = SourceTable(sName, optStr(src, "database"), optStr(src, "schema"),
            optStr(t, "name").getOrElse(throw new IllegalArgumentException(
              s"sources.yml: table entry without a name under source $sName")))
          // dbt precedence: a table-level freshness/loaded_at_field
          // block overrides the source-level default.
          val loaded = optStr(t, "loaded_at_field").orElse(srcLoaded)
          val spec = t.get("freshness").map(asMap).orElse(srcFresh).map { f =>
            DataTests.Freshness(st.key,
              loaded.getOrElse(throw new IllegalArgumentException(
                s"source ${st.key}: freshness declared without loaded_at_field")),
              periodSec(f, "warn_after", st.key), periodSec(f, "error_after", st.key))
          }
          (st, spec)
        }
      }
    }
    val sources = sourceEntries.map(_._1)
    val freshSpecs = sourceEntries.flatMap(_._2)
    // unit_tests: (dbt 1.8) — one model built against fully mocked
    // inputs, compared to expected rows. Fixture rows are YAML dicts;
    // column types infer from the first non-null scalar (int → long,
    // float → double, bool, else string) — the same coercion dbt applies
    // to YAML literals; the COMPARISON side is cast to the model's
    // output types by runUnitTest, so expect rows never need casts.
    def fixtureFrame(rowsAny: Seq[Any], where: String): DataFrame = {
      val rows = rowsAny.map(asMap)
      require(rows.nonEmpty, s"$where: rows must be a non-empty list of dicts")
      val cols = rows.flatMap(_.keys).distinct
      def sparkType(v: Any): org.apache.spark.sql.types.DataType = v match {
        case _: java.lang.Integer | _: java.lang.Long => org.apache.spark.sql.types.LongType
        case _: java.lang.Double | _: java.lang.Float => org.apache.spark.sql.types.DoubleType
        case _: java.lang.Boolean => org.apache.spark.sql.types.BooleanType
        case _ => org.apache.spark.sql.types.StringType
      }
      val types = cols.map(c =>
        c -> rows.flatMap(_.get(c)).filter(_ != null).headOption.map(sparkType)
          .getOrElse(org.apache.spark.sql.types.StringType))
      val schema = org.apache.spark.sql.types.StructType(types.map { case (c, t) =>
        org.apache.spark.sql.types.StructField(c, t, nullable = true)
      })
      def conv(v: Any, t: org.apache.spark.sql.types.DataType): Any = (v, t) match {
        case (null, _) => null
        case (x, org.apache.spark.sql.types.LongType) => String.valueOf(x).toLong
        case (x, org.apache.spark.sql.types.DoubleType) => String.valueOf(x).toDouble
        case (x: java.lang.Boolean, org.apache.spark.sql.types.BooleanType) => x
        case (x, _) => String.valueOf(x)
      }
      val data = rows.map(r => org.apache.spark.sql.Row.fromSeq(
        types.map { case (c, t) => conv(r.get(c).orNull, t) }))
      spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
    }
    // A unit-test input names the model's resolve key the same way the
    // model text does: ref('x') → x; source('s','t') → the loader's
    // qualified s.t key (the rewrite every model body goes through).
    def inputKey(raw: String, where: String): String = {
      val t = raw.trim
      val r = """ref\(\s*'([^']+)'\s*\)""".r
      val s = """source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)""".r
      t match {
        case r(name) => name
        case s(sn, tn) => s"$sn.$tn"
        case _ => throw new IllegalArgumentException(
          s"$where: input must be a ref('x') or source('s','t') call, got: $raw")
      }
    }
    val unitTests = ymls.flatMap { case (_, doc) =>
      doc.get("unit_tests").map(asList).getOrElse(Nil).map(asMap).map { ut =>
        val utName = optStr(ut, "name").getOrElse(
          throw new IllegalArgumentException("unit_tests: entry without a name"))
        val modelName = optStr(ut, "model").getOrElse(
          throw new IllegalArgumentException(s"unit test $utName: missing model"))
        val given = ut.get("given").map(asList).getOrElse(Nil).map(asMap).map { g =>
          val key = inputKey(optStr(g, "input").getOrElse(throw new IllegalArgumentException(
            s"unit test $utName: given entry without input")), s"unit test $utName")
          key -> fixtureFrame(g.get("rows").map(asList).getOrElse(Nil),
            s"unit test $utName given $key")
        }.toMap
        val expect = fixtureFrame(
          ut.get("expect").map(asMap).flatMap(_.get("rows")).map(asList).getOrElse(Nil),
          s"unit test $utName expect")
        DagRunner.UnitTest(utName, modelName, given, expect)
      }
    }
    // description: docs from the models YAML — model-level and
    // per-column, for the docs artifacts (dbt manifest/catalog).
    val modelDescs = ymls.flatMap { case (_, doc) =>
      doc.get("models").map(asList).getOrElse(Nil).map(asMap).flatMap { m =>
        optStr(m, "name").flatMap(n => optStr(m, "description")
          .map(d => n -> renderDocRefs(d, docBlocks, s"model $n description")))
      }
    }.toMap
    val columnDescs = ymls.flatMap { case (_, doc) =>
      doc.get("models").map(asList).getOrElse(Nil).map(asMap).flatMap { m =>
        optStr(m, "name").toSeq.flatMap { n =>
          m.get("columns").map(asList).getOrElse(Nil).map(asMap).flatMap { c =>
            for (cn <- optStr(c, "name"); d <- optStr(c, "description"))
              yield (n, cn,
                renderDocRefs(d, docBlocks, s"model $n column $cn description"))
          }
        }
      }
    }.groupBy(_._1).map { case (m, xs) => m -> xs.map(x => x._2 -> x._3).toMap }
    // Model contracts (dbt 1.5): schema.yml `config: {contract:
    // {enforced: true}}` turns the model's column list into an enforced
    // interface — every column needs a data_type; a `not_null`
    // constraint routes to the ColumnContract flag. Enforced by
    // materializeOne BEFORE dependents run.
    val contractCols: Map[String, Seq[ColumnContract]] = ymls.flatMap { case (_, doc) =>
      doc.get("models").map(asList).getOrElse(Nil).map(asMap).flatMap { m =>
        val mName = optStr(m, "name")
        val enforced = m.get("config").map(asMap)
          .flatMap(_.get("contract").map(asMap))
          .exists(_.get("enforced").exists(v =>
            String.valueOf(v).equalsIgnoreCase("true")))
        if (!enforced) None
        else {
          val n = mName.getOrElse(throw new IllegalArgumentException(
            "schema.yml: contract config on a model entry without a name"))
          val cols = m.get("columns").map(asList).getOrElse(Nil).map(asMap).map { c =>
            val cn = optStr(c, "name").getOrElse(throw new IllegalArgumentException(
              s"model $n: contract column entry without a name"))
            val dt = optStr(c, "data_type").getOrElse(
              throw new IllegalArgumentException(
                s"model $n: contract is enforced but column $cn has no data_type"))
            val notNull = c.get("constraints").map(asList).getOrElse(Nil).map(asMap)
              .exists(k => optStr(k, "type").contains("not_null"))
            ColumnContract(cn, dt, notNull)
          }
          require(cols.nonEmpty,
            s"model $n: contract is enforced but no columns are declared")
          Some(n -> cols)
        }
      }
    }.toMap
    // exposures: — downstream consumers (dashboards, ML jobs): pure
    // metadata anchoring `exposure:` selection and the docs lineage.
    val exposures = ymls.flatMap { case (_, doc) =>
      doc.get("exposures").map(asList).getOrElse(Nil).map(asMap).map { e =>
        val eName = optStr(e, "name").getOrElse(
          throw new IllegalArgumentException("exposures: entry without a name"))
        val deps = e.get("depends_on").map(asList).getOrElse(Nil)
          .map(String.valueOf).flatMap(d => SqlModel.extractRefs(s"{{ ${d.trim} }}"))
        Exposure(eName,
          optStr(e, "type").getOrElse(throw new IllegalArgumentException(
            s"exposure $eName: missing type")),
          deps,
          owner = e.get("owner").map(asMap).flatMap(o => optStr(o, "name")).getOrElse(""),
          url = optStr(e, "url").getOrElse(""))
      }
    }
    val declaredSources = sources.map(st => (st.sourceName, st.table)).toSet
    val (checks, warnChecks) = {
      val parsed = ymls.map { case (_, doc) => parseSchemaTests(doc) }
      (parsed.flatMap(_._1), parsed.flatMap(_._2))
    }

    // Project macro namespace: macros/*.sql concatenated. Package macros
    // (packages.yml) register under `pkg.name` + unqualified aliases;
    // the project namespace is merged AFTER inside fromSqlText, so a
    // project macro shadows a package alias (dbt dispatch order).
    val macrosText = filesUnder(dir.resolve("macros"), Seq(".sql"))
      .map(Files.readString(_)).mkString("\n")
    val pkgs = loadPackages(dir)
    val pkgMacros = pkgs.flatMap(Packages.qualified).toMap
    val pkgNatives = pkgs.flatMap(Packages.qualifiedNatives).toMap

    val effTarget = profile.map(_.name).getOrElse(target)
    // dbt custom naming macros: a project-defined generate_schema_name /
    // generate_alias_name overrides the engine's direct custom-schema /
    // model-name routing (dbt's own hook points). The engine DEFAULT
    // (no macro) keeps its established behavior: the custom schema is
    // used verbatim — equivalent to the common override, not dbt's
    // built-in target_schema_custom concatenation.
    val (namingDefs, _) = SqlModel.extractMacros(macrosText)
    val schemaNamer = namingDefs.get("generate_schema_name")
    val aliasNamer = namingDefs.get("generate_alias_name")
    val fallbackSchema = profile.flatMap(_.schema).getOrElse("main")
    // model name → (persist relation docs, persist column docs) for
    // models configured with persist_docs (scalar true = both).
    val persistDocsCfg = scala.collection.mutable.Map.empty[String, (Boolean, Boolean)]
    // A BARE ref('m') that names an upstream mesh project's model is a
    // load-time error carrying the two-arg spelling — dbt's rule that
    // cross-project references are always explicit. Checked on the RAW
    // text (a two-arg ref has already-distinct syntax; after the
    // rewrite both forms look identical). Local basenames — this
    // project's own models and seeds — shadow upstream names, exactly
    // dbt's resolution order.
    val localBasenames: Set[String] =
      filesUnder(modelsDir, Seq(".sql")).map(_.getFileName.toString.stripSuffix(".sql")).toSet ++
        filesUnder(modelsDir, Seq(".py")).map(_.getFileName.toString.stripSuffix(".py")) ++
        filesUnder(dir.resolve("seeds"), Seq(".csv")).map(_.getFileName.toString.stripSuffix(".csv"))
    val upstreamHome: Map[String, String] = upstreamProjects
      .flatMap(up => up.models.map(m => m.name -> up.name)).toMap
    val bareRefPat = java.util.regex.Pattern.compile(
      """\{\{\s*ref\(\s*'([^']+)'\s*\)\s*\}\}""")
    def checkBareRefs(text: String, where: String): Unit = {
      val m = bareRefPat.matcher(text)
      while (m.find()) {
        val r = m.group(1)
        if (!localBasenames.contains(r)) upstreamHome.get(r).foreach(home =>
          throw new IllegalArgumentException(
            s"$where: bare ref('$r') names a model in upstream project " +
              s"'$home' — cross-project models must be referenced as " +
              s"ref('$home', '$r')"))
      }
    }

    val sqlModels = filesUnder(modelsDir, Seq(".sql")).map { p =>
      val name = p.getFileName.toString.stripSuffix(".sql")
      val raw = Files.readString(p)
      checkBareRefs(raw, modelsDir.relativize(p).toString)
      val text = rewritePhysicalTables(rewriteSources(
        rewriteProjectRefs(raw, modelsDir.relativize(p).toString),
        declaredSources, modelsDir.relativize(p).toString))
      val relSegs = Option(modelsDir.relativize(p).getParent)
        .map(par => (0 until par.getNameCount).map(par.getName(_).toString))
        .getOrElse(Nil)
      val cfg = modelConfig(modelsBlock, relSegs, name, projectName)
      locally {
        def b(key: String) = cfg.get(key).map(_.trim.equalsIgnoreCase("true"))
        val rel = b("persist_docs.relation").orElse(b("persist_docs")).getOrElse(false)
        val cols = b("persist_docs.columns").orElse(b("persist_docs")).getOrElse(false)
        if (rel || cols) persistDocsCfg(name) = (rel, cols)
      }
      // Header wins over folder/project config (dbt precedence); passing
      // the header's own value as the caller arg is a no-op tie. The
      // profile output is the routing fallback BELOW both.
      val customSchema = SqlModel.configStr(raw, "schema").orElse(cfg.get("schema"))
      val customAlias = SqlModel.configStr(raw, "alias").orElse(cfg.get("alias"))
      // dbt governance config (dbt 1.5 groups + access): header wins
      // over folder/project config, default access is 'protected' —
      // enforced by DagRunner.validateAccess (private/group) and by
      // rewriteProjectRefs above (cross-project refs need public).
      val accessCfg = SqlModel.configStr(raw, "access").orElse(cfg.get("access"))
      val groupCfg = SqlModel.configStr(raw, "group").orElse(cfg.get("group"))
      SqlModel.fromSqlText(name, text,
        materialization = materializationFor(spark, name, raw, boundVars, cfg),
        schema = schemaNamer
          .map(d => evalNamingMacro(d, customSchema, name, effTarget, fallbackSchema))
          .orElse(customSchema)
          .orElse(profile.flatMap(_.schema)),
        alias = aliasNamer
          .map(d => evalNamingMacro(d, customAlias, name, effTarget, fallbackSchema))
          .orElse(customAlias),
        database = SqlModel.configStr(raw, "database").orElse(cfg.get("database"))
          .orElse(profile.flatMap(_.database)),
        vars = boundVars, macros = macrosText, target = effTarget,
        packageMacros = pkgMacros, nativeMacros = pkgNatives)
        .copy(access = accessCfg.getOrElse("protected"), group = groupCfg,
          contract = contractCols.getOrElse(name, Nil))
    }
    // dbt PYTHON models (models/*.py): the [[PyModel]] structural
    // frontend parses the documented `def model(dbt, session)` shape;
    // on this engine `session` is natively the SparkSession, so the
    // model executes in-process. Config precedence mirrors SQL models:
    // dbt.config() (the header analog) wins over the folder/project
    // models block; naming macros and profile fallbacks apply the same.
    val pyModels = filesUnder(modelsDir, Seq(".py")).map { p =>
      val name = p.getFileName.toString.stripSuffix(".py")
      val raw = Files.readString(p)
      val whereP = modelsDir.relativize(p).toString
      val parsed0 = PyModel.parse(name, raw, whereP, Some(declaredSources))
      // Mesh governance, mirroring the SQL models' checkBareRefs +
      // rewriteProjectRefs: a two-arg dbt.ref('proj', 'model')
      // (parsed as 'proj::model') must name a declared upstream's
      // PUBLIC model and rewrites to the bare upstream key; a BARE
      // dbt.ref('m') naming an upstream model is a load-time error
      // carrying the two-arg spelling. Source keys ('src.tbl') pass
      // through.
      val parsed = PyModel.rewriteRefs(parsed0, {
        case k if k.contains("::") =>
          val Array(pj, mod) = k.split("::", 2)
          val fam = upAll.getOrElse(pj, throw new IllegalArgumentException(
            s"$whereP: dbt.ref('$pj', '$mod') — project '$pj' is not declared " +
              s"in dependencies.yml (declared: ${
                if (upAll.isEmpty) "none" else upAll.keys.toSeq.sorted.mkString(", ")})"))
          val refd = fam.getOrElse(mod, throw new IllegalArgumentException(
            s"$whereP: dbt.ref('$pj', '$mod') — project '$pj' has no model '$mod'"))
          require(refd.access == "public",
            s"$whereP: dbt.ref('$pj', '$mod') — model '$mod' has access: " +
              s"${refd.access}; only access: public models may be " +
              "referenced across projects")
          mod
        case k =>
          if (!k.contains(".") && !localBasenames.contains(k))
            upstreamHome.get(k).foreach(home => throw new IllegalArgumentException(
              s"$whereP: bare dbt.ref('$k') names a model in upstream project " +
                s"'$home' — cross-project models must be referenced as " +
                s"dbt.ref('$home', '$k')"))
          k
      })
      val relSegs = Option(modelsDir.relativize(p).getParent)
        .map(par => (0 until par.getNameCount).map(par.getName(_).toString))
        .getOrElse(Nil)
      val cfg = modelConfig(modelsBlock, relSegs, name, projectName)
      // Folder/project-level +persist_docs applies to python models
      // exactly as to SQL models (dbt persists docs for both).
      locally {
        def b(key: String) = cfg.get(key).map(_.trim.equalsIgnoreCase("true"))
        val rel = b("persist_docs.relation").orElse(b("persist_docs")).getOrElse(false)
        val cols = b("persist_docs.columns").orElse(b("persist_docs")).getOrElse(false)
        if (rel || cols) persistDocsCfg(name) = (rel, cols)
      }
      val matStr = parsed.config.get("materialized")
        .orElse(cfg.get("materialized")).getOrElse("table")
      require(matStr == "table",
        s"$whereP: python models materialize as 'table' (dbt supports " +
          s"table/incremental for python; '$matStr' is not supported here)")
      val customSchema = parsed.config.get("schema").orElse(cfg.get("schema"))
      val customAlias = parsed.config.get("alias").orElse(cfg.get("alias"))
      val fp = java.security.MessageDigest.getInstance("SHA-256")
        .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Model(name, parsed.refs, PyModel.buildFn(parsed, whereP),
        materialization = Table,
        schema = schemaNamer
          .map(d => evalNamingMacro(d, customSchema, name, effTarget, fallbackSchema))
          .orElse(customSchema)
          .orElse(profile.flatMap(_.schema)),
        alias = aliasNamer
          .map(d => evalNamingMacro(d, customAlias, name, effTarget, fallbackSchema))
          .orElse(customAlias),
        database = parsed.config.get("database").orElse(cfg.get("database"))
          .orElse(profile.flatMap(_.database)),
        fingerprint = Some(fp),
        tags = parsed.config.get("tags")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty),
        access = parsed.config.get("access").orElse(cfg.get("access")).getOrElse("protected"),
        group = parsed.config.get("group").orElse(cfg.get("group")),
        contract = contractCols.getOrElse(name, Nil))
    }
    val models = sqlModels ++ pyModels
    contractCols.keys.foreach(n => require(models.exists(_.name == n),
      s"schema.yml declares a contract for unknown model '$n'"))
    // seeds/ CSVs (dbt seed nodes): one Table model per file, routed by
    // the dbt_project.yml `seeds:` config block (scalar database/schema,
    // `+`-prefixed keys accepted — same shape as the models block).
    val seedsBlockAll = projYml.get("seeds").map(asMap).getOrElse(Map.empty)
    // dbt nests seed config under the project name; accept both the
    // nested and the flat form (scalars stay project-wide either way).
    val seedsBlock = seedsBlockAll.get(projectName) match {
      case Some(nested: java.util.Map[_, _]) =>
        seedsBlockAll.filterNot(_._2.isInstanceOf[java.util.Map[_, _]]) ++ asMap(nested)
      case _ => seedsBlockAll
    }
    val seedsCfg = seedsBlock
      .collect { case (k, v) if v != null && !v.isInstanceOf[java.util.Map[_, _]] =>
        k.stripPrefix("+") -> String.valueOf(v)
      }
    // Per-seed `column_types:` (dbt's type escape hatch): a nested map
    // keyed by the seed's name.
    def seedColumnTypes(seedName: String): Map[String, String] =
      seedsBlock.get(seedName).map(asMap)
        .flatMap(m => m.get("column_types").orElse(m.get("+column_types")).map(asMap))
        .getOrElse(Map.empty)
        .map { case (k, v) => k -> String.valueOf(v) }
    val seedModels = filesUnder(dir.resolve("seeds"), Seq(".csv")).map(p =>
      Seeds.fromCsv(p.toString,
        schema = seedsCfg.get("schema"), database = seedsCfg.get("database"),
        columnTypes = seedColumnTypes(p.getFileName.toString.stripSuffix(".csv"))))

    // Project run hooks: string or list form, vars/env rendered now
    // (hook SQL is not a model — no refs to resolve).
    def runHooks(key: String): Seq[String] = projYml.get(key).map {
      case s: String => Seq(s)
      case l: java.util.List[_] => asList(l).map(String.valueOf)
      case other => throw new IllegalArgumentException(
        s"dbt_project.yml: $key must be a string or list, got ${other.getClass.getSimpleName}")
    }.getOrElse(Nil).map(h =>
      SqlModel.substituteEnvVars(SqlModel.substituteVars(h, boundVars)))

    // tests/*.sql — dbt SINGULAR tests: each file is a SELECT whose
    // result rows are the violations. Jinja resolves at load time
    // (macros, vars, env, conditionals) exactly like a model, but refs
    // stay templated: DataTests.singularRows resolves them against the
    // built DAG at test-run time, so a test can assert over any model
    // or source. `{{ config(severity='warn') }}` routes to warnChecks
    // (dbt's warn severity); attribution is the first ref, dbt's own
    // depends_on ordering.
    val singulars = filesUnder(dir.resolve("tests"), Seq(".sql")).map { p =>
      val name = p.getFileName.toString.stripSuffix(".sql")
      val raw = Files.readString(p)
      val text = rewritePhysicalTables(rewriteSources(
        rewriteProjectRefs(raw, dir.relativize(p).toString),
        declaredSources, dir.relativize(p).toString))
      val (inlineMacros, stripped) = SqlModel.extractMacros(text)
      val expanded = SqlModel.expandMacros(stripped,
        pkgMacros ++ SqlModel.extractMacros(macrosText)._1 ++ inlineMacros, pkgNatives)
      val withIfs = SqlModel.expandIfBlocks(expanded, boundVars, effTarget)
      val resolvedSql = SqlModel.substituteEnvVars(
        SqlModel.substituteVars(withIfs, boundVars))
      val refs = SqlModel.extractRefs(resolvedSql)
      require(refs.nonEmpty,
        s"${dir.relativize(p)}: a singular test must ref() at least one model or source")
      val warn = SqlModel.configStr(raw, "severity").map(_.toLowerCase) match {
        case Some("warn") => true
        case Some("error") | None => false
        case Some(other) => throw new IllegalArgumentException(
          s"${dir.relativize(p)}: severity must be warn or error, got $other")
      }
      (DataTests.Singular(refs.head, name, resolvedSql), warn)
    }
    val (warnSingulars, errSingulars) = singulars.partition(_._2)

    // analyses/*.sql — dbt compile-only nodes: same Jinja resolution as
    // a model (so the compile artifact carries their rendered SQL),
    // excluded from the runnable DAG by construction.
    val analyses = filesUnder(dir.resolve("analyses"), Seq(".sql")).map { p =>
      val name = p.getFileName.toString.stripSuffix(".sql")
      val raw = Files.readString(p)
      val text = rewritePhysicalTables(rewriteSources(
        rewriteProjectRefs(raw, dir.relativize(p).toString),
        declaredSources, dir.relativize(p).toString))
      SqlModel.fromSqlText(name, text, vars = boundVars, macros = macrosText,
        target = effTarget, packageMacros = pkgMacros, nativeMacros = pkgNatives)
    }

    // snapshots/ — {% snapshot NAME %} blocks (dbt snapshot nodes).
    // The body is a full Jinja model (sources rewritten, macros/vars
    // rendered); the strategy config comes from its own header.
    val snapshotNodes = filesUnder(dir.resolve("snapshots"), Seq(".sql")).flatMap { p =>
      val raw = Files.readString(p)
      val m = snapshotBlockPat.matcher(raw)
      val out = Seq.newBuilder[SnapshotNode]
      var found = false
      while (m.find()) {
        found = true
        val name = m.group(1)
        val body = m.group(2)
        val where = s"snapshot $name (${dir.relativize(p)})"
        val text = rewritePhysicalTables(rewriteSources(
          rewriteProjectRefs(body, where),
          declaredSources, dir.relativize(p).toString))
        val model = SqlModel.fromSqlText(name, text, vars = boundVars,
          macros = macrosText, target = effTarget,
          packageMacros = pkgMacros, nativeMacros = pkgNatives)
        val strategy = SqlModel.configStr(body, "strategy").getOrElse(
          throw new IllegalArgumentException(s"$where: missing strategy"))
        val uniqueKey = SqlModel.configStr(body, "unique_key").getOrElse(
          throw new IllegalArgumentException(s"$where: missing unique_key"))
        val updatedAt = SqlModel.configStr(body, "updated_at")
        val checkCols = SqlModel.extractHooks(body, "check_cols")
        strategy match {
          case "timestamp" => require(updatedAt.nonEmpty,
            s"$where: the timestamp strategy needs updated_at")
          case "check" => require(checkCols.nonEmpty,
            s"$where: the check strategy needs check_cols (a list, or 'all')")
          case other => throw new IllegalArgumentException(
            s"$where: unknown strategy '$other' (timestamp or check)")
        }
        out += SnapshotNode(name, model, strategy, uniqueKey, updatedAt, checkCols,
          SqlModel.configStr(body, "target_schema"),
          SqlModel.configStr(body, "target_database"),
          invalidateHardDeletes =
            SqlModel.configBool(body, "invalidate_hard_deletes").getOrElse(false))
      }
      require(found || !raw.contains("snapshot"),
        s"${dir.relativize(p)}: no {% snapshot NAME %} block parsed")
      out.result()
    }

    // A diamond mesh surfaces the shared upstream's models through more
    // than one upstreamProjects entry — the memo guarantees those are
    // the SAME Model instances, so identity-dedup keeps one copy; a
    // name collision between DISTINCT models is still the loud error.
    val rawNodes = models ++ seedModels ++ upstreamProjects.flatMap(_.models)
    val allNodes = {
      val seen = new java.util.IdentityHashMap[Model, Unit]()
      rawNodes.filter(m => if (seen.containsKey(m)) false else { seen.put(m, ()); true })
    }
    val names = allNodes.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate model basenames across $modelsDir and its mesh upstreams: " +
        names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }.mkString(", "))
    // Upstream source declarations merge so the combined DAG resolves;
    // on a key collision the consumer's declaration wins (it is the
    // project being invoked). Docs metadata and persist_docs configs
    // merge the same way, so upstream models keep their documentation
    // when built from the consumer.
    val mergedSources = sources ++ upstreamProjects.flatMap(_.sources)
      .filterNot(s => sources.exists(_.key == s.key))
    val upDescs = upstreamProjects.flatMap(_.descriptions).toMap
    val upColDescs = upstreamProjects.flatMap(_.columnDescriptions).toMap
    val upPersist = upstreamProjects.flatMap(_.persistDocs).toMap
    val upMacros = upstreamProjects.flatMap(_.macroDefs).toMap
    DbtProject(projectName, allNodes, mergedSources,
      checks ++ errSingulars.map(_._1), warnChecks ++ warnSingulars.map(_._1),
      onRunStart = runHooks("on-run-start"), onRunEnd = runHooks("on-run-end"),
      analyses = analyses, exposures = exposures, freshness = freshSpecs,
      unitTests = unitTests, snapshots = snapshotNodes,
      descriptions = upDescs ++ modelDescs,
      columnDescriptions = upColDescs ++ columnDescs,
      persistDocs = upPersist ++ persistDocsCfg.toMap,
      macroDefs = upMacros ++ pkgMacros ++ SqlModel.extractMacros(macrosText)._1,
      nativeMacroDefs = pkgNatives)
  }
}
