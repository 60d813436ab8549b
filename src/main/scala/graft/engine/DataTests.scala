package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.QueryDef
import graft.sources.Tables

/** dbt's four built-in generic data tests — `unique`, `not_null`,
  * `accepted_values`, `relationships` — as engine-level checks. The
  * reference project declares no tests (its `sources.yml` carries only
  * source routing), but the generic tests are part of dbt's standard
  * surface (dbt-core's generic_test_sql macros): a user switching
  * their project to this engine keeps their schema tests.
  *
  * Violation semantics mirror the SQL dbt generates:
  *  - unique: number of KEY VALUES occurring more than once
  *    (`GROUP BY ... HAVING count(*) > 1`, counted);
  *  - not_null: number of rows with a NULL in the column;
  *  - accepted_values: number of DISTINCT values outside the list;
  *  - relationships: number of child ROWS whose non-NULL key has no
  *    parent (NULL child keys are not violations, as in dbt).
  *
  * Scale shape: every check is one aggregate or one left-anti join —
  * no check materializes violating rows into the summary (each probe
  * reduces to a single count before the union), so a failing test on a
  * 100 TB model costs one scan + one shuffle, and the summary is
  * |checks| rows. The anti-join's parent side is the DISTINCT key set
  * (vocabulary-sized, broadcastable when small).
  */
object DataTests {

  /** `model` is the model a check attaches to (a Relationships check's
    * child), after which `dbt build` runs it.
    */
  sealed trait Check { def model: String }
  final case class Unique(model: String, columns: Seq[String]) extends Check
  final case class NotNull(model: String, column: String) extends Check
  final case class AcceptedValues(model: String, column: String, values: Seq[String]) extends Check
  final case class Relationships(childModel: String, childColumn: String,
      parentModel: String, parentColumn: String) extends Check {
    def model: String = childModel
  }
  /** dbt SINGULAR test — a `.sql` file under `tests/` whose RESULT
    * ROWS are the violations: arbitrary assertions (cross-model joins,
    * business rules) the four generic tests can't express. `model`
    * attributes the test for `dbt build` interleaving; the SQL refs
    * its inputs with `{{ ref('x') }}`, resolved through the same
    * resolver and temp-view convention as SQL-text models.
    */
  final case class Singular(model: String, name: String, sql: String) extends Check

  /** One summary row per check: (test, model, column, n_violations).
    * `resolve` maps a model name to its DataFrame (a `Tables.load`
    * closure in the oracle row; `DagRunner` output readers in a real
    * project). An empty check list yields an empty summary (zero rows,
    * same schema) — not a crash — so a build gate can be wired up
    * before any tests are declared.
    */
  def run(resolve: String => DataFrame, checks: Seq[Check]): DataFrame = {
    def row(test: String, model: String, column: String, n: Column, df: DataFrame): DataFrame =
      df.agg(coalesce(n, lit(0L)).as("n_violations"))
        .select(lit(test).as("test"), lit(model).as("model"),
          lit(column).as("column"), col("n_violations"))
    if (checks.isEmpty) {
      val s = SparkSession.active
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "test STRING, model STRING, column STRING, n_violations BIGINT"))
    }
    val frames = checks.map {
      case Unique(m, cols) =>
        // dbt's generated unique-test SQL filters `where col is not null`
        // before grouping: NULL key values are never uniqueness
        // violations (they get their own not_null test if required).
        val dupKeys = resolve(m)
          .filter(cols.map(col(_).isNotNull).reduce(_ && _))
          .groupBy(cols.map(col): _*)
          .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
        row("unique", m, cols.mkString(","), count(lit(1)), dupKeys)
      case NotNull(m, c) =>
        row("not_null", m, c,
          sum(when(col(c).isNull, 1L).otherwise(0L)), resolve(m))
      case AcceptedValues(m, c, vs) =>
        val bad = resolve(m).select(col(c).cast("string").as("v"))
          .filter(col("v").isNotNull && !col("v").isin(vs: _*)).distinct()
        row("accepted_values", m, c, count(lit(1)), bad)
      case Relationships(cm, cc, pm, pc) =>
        val orphans = resolve(cm).select(col(cc).as("k")).filter(col("k").isNotNull)
          .join(resolve(pm).select(col(pc).as("k")).distinct(), Seq("k"), "left_anti")
        row("relationships", cm, s"$cc->$pm.$pc", count(lit(1)), orphans)
      case s: Singular =>
        row("singular", s.model, s.name, count(lit(1)), singularRows(resolve, s))
    }
    frames.reduce(_.unionAll(_)).orderBy("test", "model", "column")
  }

  /** A singular test's result frame: refs registered as temp views,
    * the template rendered, the statement run. The frame IS the
    * violation set (dbt's contract: a passing singular test returns
    * zero rows).
    */
  private def singularRows(resolve: String => DataFrame, s: Singular): DataFrame = {
    val refs = SqlModel.extractRefs(s.sql)
    refs.foreach(r => resolve(r).createOrReplaceTempView(SqlModel.viewName(r)))
    SparkSession.active.sql(SqlModel.render(s.sql, Map.empty))
  }

  /** The oracle row: the four generic tests over the fixture warehouse,
    * with both passing checks (TPC-H integrity holds by construction)
    * and deliberately failing ones (`events.event_type` has 5 values,
    * `events.user_id` repeats) so the violation counts are exercised,
    * not just zeros.
    */
  private val schemaTests = QueryDef(
    "s17_schema_tests",
    (s, dir) => run(Tables.load(s, dir, _), Seq(
      Unique("orders", Seq("o_orderkey")),
      Unique("events", Seq("user_id")),
      NotNull("lineitem", "l_orderkey"),
      AcceptedValues("lineitem", "l_returnflag", Seq("A", "N", "R")),
      AcceptedValues("events", "event_type", Seq("view", "click", "purchase")),
      Relationships("lineitem", "l_orderkey", "orders", "o_orderkey"),
      // Singular tests: a business rule the generic tests can't say.
      // Ship-before-order FAILS on the synthetic data (violations are
      // counted, not assumed); negative quantity passes with zero rows.
      Singular("lineitem", "ship_before_order",
        """SELECT l.l_orderkey FROM {{ ref('lineitem') }} l
          |JOIN {{ ref('orders') }} o ON l.l_orderkey = o.o_orderkey
          |WHERE l.l_shipdate < o.o_orderdate""".stripMargin),
      Singular("lineitem", "negative_quantity",
        "SELECT * FROM {{ ref('lineitem') }} WHERE l_quantity < 0"))),
    Some("""SELECT * FROM (
           |  SELECT 'unique' AS test, 'orders' AS model, 'o_orderkey' AS "column",
           |    (SELECT count(*) FROM (SELECT o_orderkey FROM orders
           |      WHERE o_orderkey IS NOT NULL
           |      GROUP BY 1 HAVING count(*) > 1)) AS n_violations
           |  UNION ALL
           |  SELECT 'unique', 'events', 'user_id',
           |    (SELECT count(*) FROM (SELECT user_id FROM events
           |      WHERE user_id IS NOT NULL
           |      GROUP BY 1 HAVING count(*) > 1))
           |  UNION ALL
           |  SELECT 'not_null', 'lineitem', 'l_orderkey',
           |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
           |  UNION ALL
           |  SELECT 'accepted_values', 'lineitem', 'l_returnflag',
           |    (SELECT count(*) FROM (SELECT DISTINCT CAST(l_returnflag AS VARCHAR) AS v
           |      FROM lineitem WHERE l_returnflag IS NOT NULL) WHERE v NOT IN ('A', 'N', 'R'))
           |  UNION ALL
           |  SELECT 'accepted_values', 'events', 'event_type',
           |    (SELECT count(*) FROM (SELECT DISTINCT CAST(event_type AS VARCHAR) AS v
           |      FROM events WHERE event_type IS NOT NULL)
           |     WHERE v NOT IN ('view', 'click', 'purchase'))
           |  UNION ALL
           |  SELECT 'relationships', 'lineitem', 'l_orderkey->orders.o_orderkey',
           |    (SELECT count(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
           |      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
           |  UNION ALL
           |  SELECT 'singular', 'lineitem', 'ship_before_order',
           |    (SELECT count(*) FROM lineitem l JOIN orders o
           |      ON l.l_orderkey = o.o_orderkey
           |      WHERE l.l_shipdate < o.o_orderdate)
           |  UNION ALL
           |  SELECT 'singular', 'lineitem', 'negative_quantity',
           |    (SELECT count(*) FROM lineitem WHERE l_quantity < 0))
           |ORDER BY test, model, "column"""".stripMargin))

  /** dbt `store_failures`: the failing ROWS of a check, in the shape
    * dbt's generated test SQL selects (what lands in the
    * `dbt_test__audit` schema) — duplicated key values with their
    * counts for `unique`, the full offending rows for `not_null`,
    * grouped out-of-list values for `accepted_values`, grouped orphan
    * keys for `relationships`. Unlike [[run]]'s one-count summary,
    * this is diagnosis data: row volume is the violation volume, so
    * callers persist it (the audit table) rather than collect it.
    */
  def failingRows(resolve: String => DataFrame, c: Check): DataFrame = c match {
    case Unique(m, cols) =>
      resolve(m).filter(cols.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(cols.map(col): _*)
        .agg(count(lit(1)).as("n_records")).filter(col("n_records") > 1)
    case NotNull(m, cName) =>
      resolve(m).filter(col(cName).isNull)
    case AcceptedValues(m, cName, vs) =>
      resolve(m).select(col(cName).cast("string").as("value_field"))
        .filter(col("value_field").isNotNull && !col("value_field").isin(vs: _*))
        .groupBy("value_field").agg(count(lit(1)).as("n_records"))
    case Relationships(cm, cc, pm, pc) =>
      resolve(cm).select(col(cc).as("from_field")).filter(col("from_field").isNotNull)
        .join(resolve(pm).select(col(pc).as("from_field")).distinct(),
          Seq("from_field"), "left_anti")
        .groupBy("from_field").agg(count(lit(1)).as("n_records"))
    case s: Singular => singularRows(resolve, s)
  }

  /** dbt's audit-table name for a check (`unique_orders_o_orderkey`
    * style).
    */
  def checkName(c: Check): String = (c match {
    case Unique(m, cols) => s"unique_${m}_${cols.mkString("_")}"
    case NotNull(m, cName) => s"not_null_${m}_$cName"
    case AcceptedValues(m, cName, _) => s"accepted_values_${m}_$cName"
    case Relationships(cm, cc, pm, pc) => s"relationships_${cm}_${cc}_${pm}_$pc"
    case Singular(_, name, _) => s"singular_$name"
  }).replaceAll("[^A-Za-z0-9_]", "_")

  /** Persist each FAILING check's rows under
    * `<auditRoot>/<checkName>` (dbt's `dbt_test__audit` schema);
    * passing checks write nothing, matching dbt. Returns the audit
    * paths written, keyed by check name.
    */
  def storeFailures(resolve: String => DataFrame, checks: Seq[Check],
                    auditRoot: String): Map[String, String] =
    checks.flatMap { c =>
      val rows = failingRows(resolve, c)
      // head(1) probe: cheap existence check before paying a write.
      if (rows.head(1).isEmpty) None
      else {
        val p = s"$auditRoot/${checkName(c)}"
        rows.write.mode("overwrite").parquet(p)
        Some(checkName(c) -> p)
      }
    }.toMap

  /** dbt `source freshness` — per-source max(loaded_at_field) age vs
    * warn_after/error_after thresholds (dbt-core's collect_freshness
    * semantics). `asOf` is injectable (never wall-clock) so runs are
    * deterministic and replayable, matching the engine-wide discipline.
    * An empty source (NULL max) reports `error`, as dbt does when the
    * freshness query returns no loaded_at.
    *
    * Scale shape: one max() aggregate per source — a column-pruned scan
    * reduced map-side to a single row (on a partitioned-by-date lake the
    * max over the partition column is pure metadata); the summary is
    * |specs| rows.
    */
  final case class Freshness(source: String, loadedAt: String,
      warnAfterSec: Long, errorAfterSec: Long)

  def freshness(resolve: String => DataFrame, specs: Seq[Freshness],
                asOf: String): DataFrame = {
    require(specs.nonEmpty, "freshness needs at least one source spec")
    val frames = specs.map { f =>
      resolve(f.source)
        .agg(max(col(f.loadedAt).cast("timestamp")).as("max_loaded_at"))
        .select(lit(f.source).as("source"), col("max_loaded_at"),
          (unix_timestamp(lit(asOf).cast("timestamp")) -
            unix_timestamp(col("max_loaded_at"))).as("age_sec"))
        .withColumn("status",
          when(col("max_loaded_at").isNull, "error")
            .when(col("age_sec") > f.errorAfterSec, "error")
            .when(col("age_sec") > f.warnAfterSec, "warn")
            .otherwise(lit("pass")))
    }
    frames.reduce(_.unionAll(_)).orderBy("source")
  }

  /** Oracle row: three sources pinned at a fixed asOf so all three
    * statuses are exercised — events lands in the warn window, orders
    * is decades stale (error), lineitem passes under a deliberately
    * huge threshold.
    */
  private val freshnessQuery = QueryDef(
    "s19_source_freshness",
    (s, dir) => freshness(Tables.load(s, dir, _), Seq(
      Freshness("events", "ts", 3L * 86400, 90L * 86400),
      Freshness("orders", "o_orderdate", 3L * 86400, 90L * 86400),
      Freshness("lineitem", "l_shipdate", 4000000000L, 8000000000L)),
      asOf = "2024-02-05 00:00:00"),
    Some("""SELECT source, max_loaded_at,
           |  CAST(date_diff('second', max_loaded_at, TIMESTAMP '2024-02-05 00:00:00') AS BIGINT) AS age_sec,
           |  CASE
           |    WHEN max_loaded_at IS NULL THEN 'error'
           |    WHEN date_diff('second', max_loaded_at, TIMESTAMP '2024-02-05 00:00:00') > err_s THEN 'error'
           |    WHEN date_diff('second', max_loaded_at, TIMESTAMP '2024-02-05 00:00:00') > warn_s THEN 'warn'
           |    ELSE 'pass' END AS status
           |FROM (
           |  SELECT 'events' AS source, (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) AS max_loaded_at,
           |    259200 AS warn_s, 7776000 AS err_s
           |  UNION ALL
           |  SELECT 'orders', (SELECT max(CAST(o_orderdate AS TIMESTAMP)) FROM orders),
           |    259200, 7776000
           |  UNION ALL
           |  SELECT 'lineitem', (SELECT max(CAST(l_shipdate AS TIMESTAMP)) FROM lineitem),
           |    4000000000, 8000000000)
           |ORDER BY source""".stripMargin))

  /** Oracle row for `store_failures`: a failing unique test writes its
    * duplicated keys + counts through the audit dir and the row reads
    * the PERSISTED table back (the storage path is under test, not
    * just the query); a passing check must write nothing.
    */
  private val storeFailuresQuery = QueryDef(
    "s21_store_failures",
    (s, dir) => {
      val root = s"${sys.props("java.io.tmpdir")}/graft-audit-${s.sparkContext.applicationId}"
      val written = storeFailures(Tables.load(s, dir, _), Seq(
        Unique("events", Seq("user_id")),
        NotNull("lineitem", "l_orderkey")), root)
      require(!written.contains("not_null_lineitem_l_orderkey"),
        "a passing check must not write an audit table")
      s.read.parquet(written("unique_events_user_id")).orderBy("user_id")
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_records
           |FROM events WHERE user_id IS NOT NULL
           |GROUP BY user_id HAVING count(*) > 1 ORDER BY user_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(schemaTests, freshnessQuery, storeFailuresQuery)
}
