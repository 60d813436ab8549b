package graft.models

import java.sql.Date

import org.apache.spark.sql.SparkSession

import graft.engine.ProjectLoader

/** The reference's 13-model NPO DAG, authored as SQL TEXT (dbt's
  * authoring surface) in the checked-in PROJECT DIRECTORY
  * `fixtures/npo_project` — a mirror of the reference layout
  * (`dbt_project.yml`, `models/source/...`, `models/datamarts/
  * npo-data-hub/...`, `sources.yml`, `schema.yml`) whose `.sql` bodies
  * are the engine's Spark-SQL dialect ports. The models come through
  * [[graft.engine.ProjectLoader]] — the dbt path end to end: files in,
  * DAG out, no Scala wiring; refs are extracted from the text.
  *
  * The project tree holds all 20 reference model files: the ten
  * substantive models listed in [[allNames]] plus the ten one-line
  * BigQuery passthroughs ("sources in disguise", SURVEY §3.3) that read
  * physical dotted table names (`NpoFixtures.physicalAliases` maps those
  * to fixtures). The `dag_*` rows pin each substantive model against an
  * independent DuckDB port of the reference SQL, and `RunDag` runs this
  * project when no `--project` is given. Two reference idioms the text
  * keeps verbatim are planned cheaply by [[graft.engine.FusionRules]].
  */
object SqlReporting {

  val names: Seq[String] = Seq(
    "integral_reporting_tvbroadcasts",
    "integral_reporting_vodstreaming",
    "integral_reporting_youtube",
    "integral_reporting_facebook",
    "integral_reporting_instagram",
    "integral_reporting_sites_and_apps")

  /** The four substantive models beyond the reporting layer. */
  val extraNames: Seq[String] = Seq(
    "quintly_youtube_allchannels_weekly",
    "poms_flattened",
    "atinternet_smarttag_streams_daily_v4",
    "integral_reporting_dashboard_channel_weekly")

  val allNames: Seq[String] = names ++ extraNames

  /** The checked-in dbt project mirroring the reference layout. Resolved
    * relative to the repo root (sbt runs from there; the absolute
    * fallback matches the seeds-fixture convention).
    */
  def projectDir: java.nio.file.Path =
    Seq(java.nio.file.Paths.get("fixtures/npo_project"),
      java.nio.file.Paths.get("/root/repo/fixtures/npo_project"))
      .find(java.nio.file.Files.isDirectory(_))
      .getOrElse(throw new IllegalStateException(
        "fixtures/npo_project not found (run from the repo root)"))

  /** Load the full project through the file frontend; `today` binds the
    * `{{ var('today') }}` call sites (the reference's CURRENT_DATE()).
    */
  def project(today: Date,
              spark: SparkSession = SparkSession.active): ProjectLoader.DbtProject =
    ProjectLoader.load(spark, projectDir, vars = Map("today" -> s"DATE '$today'"))
}
