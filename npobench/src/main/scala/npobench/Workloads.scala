package npobench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.engine.{DagRunner, ProjectLoader}

/** One benchmark workload. An operation returns false when the program
  * reported a failure without throwing (a build whose report is not ok).
  */
trait Workload {
  /** Everything before the first timed operation (counted in setup_s). */
  def setup(): Unit
  /** The operations of the next round; empty when the inputs run out. */
  def nextRound(): Seq[(String, () => Boolean)]
  /** Untimed bookkeeping after each operation. */
  def afterOp(): Unit = ()
  /** Untimed, after the timed section: in-process checks and the paths
    * of outputs for the independent checks that follow the run.
    */
  def check(): Map[String, Any]
}

final case class Ctx(spark: SparkSession, tracer: Tracer, inputs: String, run: String,
                     project: Path, sf: String, d0: Date, extraDays: Int)

object Npo {
  /** The project's external interface: the physical tables its source
    * passthrough models name, and the one declared `source()`, mapped to
    * the generated files.
    */
  val physical: Map[String, String] = Map(
    "npo-data-hub.audiovisual_metadata_v1.poms_metadata_v1" -> "audiovisual_metadata_poms_metadata_v1",
    "npo-data-hub.advantedge_tv_viewer_density_per_show_daily.v1_latest" ->
      "advantedge_tv_viewer_density_per_show_daily_v1",
    "npo-data-hub.analytics.media_events" -> "media_events",
    "npo-data-hub.live_stream_name_mapping.v1" -> "live_stream_name_mapping_v1",
    "comscore-data-prod.ati.360_graden_rapportage_vertaaltabel_upload_20_21" ->
      "360_graden_rapportage_vertaaltabel_upload_20_21",
    "quintly_youtube_allchannels_weekly.v1" -> "src_quintly_youtube_v1",
    "npo-data-hub.quintly_facebook_pages_weekly.v1_view" -> "quintly_facebook_pages_weekly",
    "npo-data-hub.quintly_instagram_pages_weekly.v1_view" -> "quintly_instagram_pages_weekly",
    "npo-data-hub.atinternet_smarttag_pages_weekly.v2" -> "atinternet_smarttag_pages_weekly_v2",
    "npo-data-hub.atinternet_smarttag_pages_programmes_weekly.v2" ->
      "atinternet_smarttag_pages_programmes_weekly_v2",
    "npo-data-hub.looker.poms_episodes_materialized" -> "dim_poms_episodes")

  val streams = "atinternet_smarttag_streams_daily_v4"
  /** Views whose outputs the independent checks read. */
  val checked = Seq("poms_flattened", "integral_reporting_tvbroadcasts",
    "integral_reporting_youtube", "integral_reporting_sites_and_apps")

  def resolver(spark: SparkSession, inputs: String, events: String)(n: String): DataFrame = {
    val t = physical.getOrElse(n, throw new IllegalArgumentException(s"unknown external ref '$n'"))
    spark.read.parquet(if (t == "media_events") events else s"$inputs/$t.parquet")
  }
}

/** The paper's daily job: one new day of media events, then a build of
  * the incremental streams model and everything downstream of it (the
  * downstream models are views: the build re-plans them, nothing reads
  * them). Set-up is the nightly full build of the whole project at D0,
  * in a fresh JVM, so its JIT and code generation count in setup_s.
  */
final class DailyRefresh(c: Ctx) extends Workload {
  import c._
  private val events = s"$run/src/media_events"
  private val wh = s"$run/wh"
  private val resolve = Npo.resolver(spark, inputs, events) _
  private var k = 0
  private var target: Path = _
  private var loaded: ProjectLoader.DbtProject = _
  private var report: DagRunner.BuildReport = _
  private var before = Map.empty[String, Seq[(String, Long)]]
  private var outsideWindowChanged = 0
  private var windowMissing = 0

  private def day(i: Int): Date = Date.valueOf(d0.toLocalDate.plusDays(i.toLong))

  /** File names and sizes of each partition directory of the target. */
  private def partitions(): Map[String, Seq[(String, Long)]] =
    if (!Files.isDirectory(target)) Map.empty
    else {
      val ds = Files.list(target)
      try ds.iterator.asScala.filter(Files.isDirectory(_)).map { d =>
        val fs = Files.list(d)
        try d.getFileName.toString -> fs.iterator.asScala.map(f => f.getFileName.toString -> Files.size(f))
          .toSeq.sorted
        finally fs.close()
      }.toMap
      finally ds.close()
    }

  private def buildAt(today: Date, warehouse: String, select: Option[String]): Boolean = {
    val p = tracer.span("loader.load") {
      ProjectLoader.load(spark, project, vars = Map("today" -> s"DATE '$today'"))
    }
    tracer.count("loader.models", p.models.size)
    loaded = p
    target = Paths.get(DagRunner.targetPath(wh, p.model(Npo.streams)))
    val models = select.fold(p.models) { s =>
      tracer.span("dag.select") {
        DagRunner.withLazyUpstreams(p.models, DagRunner.select(p.models, s))
      }
    }
    val r = tracer.span("dag.build") {
      DagRunner.build(spark, models, resolve, warehouse, p.checks, p.warnChecks)
    }
    tracer.count("dag.models_built", r.built.size)
    tracer.count("dag.models_failed", r.failures.size)
    tracer.count("dag.models_skipped", r.skipped.size)
    report = r
    r.ok
  }

  private def refresh(): Boolean = {
    k += 1
    val today = day(k)
    val src = Paths.get(s"$inputs/media_events_days/$today.parquet")
    tracer.span("input.add") {
      Files.copy(src, Paths.get(s"$events/$today.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    tracer.count("input.new_bytes", Files.size(src).toDouble)
    before = partitions()
    buildAt(today, wh, Some(s"${Npo.streams}+"))
  }

  override def afterOp(): Unit = {
    val window = (0 to 8).map(i => s"evt_date=${Date.valueOf(day(k).toLocalDate.minusDays(i.toLong))}").toSet
    val after = partitions()
    outsideWindowChanged += before.count { case (part, files) =>
      !window(part) && !after.get(part).contains(files)
    }
    windowMissing += (window -- after.keySet).size
  }

  def setup(): Unit = {
    Files.createDirectories(Paths.get(events))
    Files.copy(Paths.get(s"$inputs/media_events/base.parquet"), Paths.get(s"$events/base.parquet"))
    require(buildAt(d0, wh, None), s"full build at $d0 failed")
  }

  def nextRound(): Seq[(String, () => Boolean)] =
    if (k >= extraDays) Nil else Seq("refresh" -> (() => refresh()))

  def check(): Map[String, Any] = {
    val views = s"$run/check"
    Npo.checked.foreach(m => report.built(m).write.mode("overwrite").parquet(s"$views/$m"))
    val fresh = s"$run/fresh"
    val ok = buildAt(day(k), fresh, Some(s"+${Npo.streams}"))
    Map("fresh_build_ok" -> ok, "last_day" -> day(k).toString, "days" -> k,
      "outside_window_changed" -> outsideWindowChanged, "window_missing" -> windowMissing,
      "streams" -> target.toString,
      "fresh_streams" -> DagRunner.targetPath(fresh, loaded.model(Npo.streams)),
      "events" -> events, "views" -> views)
  }
}

/** Ad-hoc queries: one `SparkEntry.queries` row per operation, written to
  * the noop sink. There is no warm-up: the timed round is each query's
  * first run in a fresh session. The check needs a second run of every
  * query anyway, and timing the first run doubles the measured work of a
  * run at no extra cost. The order is fixed: in a first run the order
  * decides which query pays the session's JIT warm-up, and a seeded order
  * moved op_p50_s by a third between seeds.
  */
final class OperatorMix(c: Ctx) extends Workload {
  import c._
  private val queries = SparkEntry.queries

  private def one(name: String): Boolean = {
    val df = tracer.span("builder") { queries(name)(spark, sf) }
    tracer.span("query.exec") { df.write.format("noop").mode("overwrite").save() }
    true
  }

  def setup(): Unit = ()

  def nextRound(): Seq[(String, () => Boolean)] =
    OperatorMix.subset.map(n => n -> (() => one(n)))

  /** Runs every query once more and writes its result for the oracle
    * comparison after the run.
    */
  def check(): Map[String, Any] = {
    OperatorMix.subset.foreach { n =>
      queries(n)(spark, sf).write.mode("overwrite").parquet(s"$run/check/$n")
    }
    val oracles = SparkEntry.oracleSql
    Map("outputs" -> s"$run/check",
      "oracles" -> OperatorMix.subset.map(n => n -> oracles.getOrElse(n, "")).toMap)
  }
}

object OperatorMix {
  /** One or more rows from each query family, plus the five rows the
    * project's roadmap tracks by name. README.md lists the rows left out
    * and why.
    */
  val subset: Seq[String] = Seq(
    "a5_string_agg_ordered",    // Relational
    "a10_rollup_pricing",       // Olap
    "ts8_rolling_median",       // TimeSeries
    "f_iso_calendar",           // Dialect
    "s22_profile",              // Profile
    "llm_token_count",          // Text
    "llm_dup_pagerank_comp",    // Dedup
    "llm_dup_pagerank_conv",    // Dedup
    "llm_semdedup_kmeans",      // Similarity
    "llm_ann_ivfadc",           // Similarity
    "llm_ppl_buckets",          // Corpus
    "llm_k_anonymity")          // Privacy
}
