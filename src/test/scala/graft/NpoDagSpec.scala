package graft

import org.apache.spark.sql.functions._

import graft.engine.{DagRunner, SqlModel}
import graft.models.SqlReporting
import graft.models.testkit.NpoFixtures

/** Golden end-to-end test of the 13-model reference DAG — the checked-in
  * text project — over the NPO-shaped fixtures (SURVEY.md §5.3 / §7.2 M4).
  */
class NpoDagSpec extends SparkSpec {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_wh").toFile.getAbsolutePath

  private lazy val built = {
    val fixtures = NpoFixtures.all(spark)
    DagRunner.run(spark, SqlReporting.project(NpoFixtures.today, spark).models,
      NpoFixtures.resolveProject(fixtures), warehouse)
  }

  test("full DAG materializes all 10 models") {
    // Next to the ten passthrough views over the physical source tables.
    assert(built.size === 20)
    assert(built.keySet.filter(SqlReporting.allNames.contains) === Set(
      "quintly_youtube_allchannels_weekly", "poms_flattened",
      "atinternet_smarttag_streams_daily_v4", "integral_reporting_tvbroadcasts",
      "integral_reporting_vodstreaming", "integral_reporting_youtube",
      "integral_reporting_facebook", "integral_reporting_instagram",
      "integral_reporting_sites_and_apps",
      "integral_reporting_dashboard_channel_weekly"))
  }

  test("run at threads 4 materializes the full reference DAG identically to threads 1") {
    // The real 13-model graph (views + an incremental table + reporting
    // fan-out) on four scheduler threads: every model's frame must
    // equal the one-thread build's.
    def at(threads: Int) = DagRunner.run(spark,
      SqlReporting.project(NpoFixtures.today, spark).models,
      NpoFixtures.resolveProject(NpoFixtures.all(spark)),
      java.nio.file.Files.createTempDirectory("graft_wh_par").toFile.getAbsolutePath,
      threads = Some(threads))
    val par = at(4)
    val seq = at(1)
    assert(par.keySet === seq.keySet)
    par.keySet.foreach { name =>
      assert(par(name).exceptAll(seq(name)).count() === 0L, s"$name: extra rows in parallel build")
      assert(seq(name).exceptAll(par(name)).count() === 0L, s"$name: missing rows in parallel build")
    }
  }

  test("latest-partition source keeps only the max partitionDate and drops the column") {
    val yt = built("quintly_youtube_allchannels_weekly")
    assert(!yt.columns.contains("partitionDate"))
    assert(yt.count() === 2L) // the 2021-01-03 partition row is gone
    assert(yt.agg(min("totalSubscribers")).head().getLong(0) === 5000L)
  }

  test("poms_flattened: main broadcaster, empty-array preservation, age classification") {
    val pf = built("poms_flattened").collect()
      .map(r => r.getAs[String]("mid") -> r).toMap
    assert(pf.size === 4) // every mid survives, exactly once (rownum=1)
    val ep1 = pf("EP1")
    assert(ep1.getAs[String]("first_broadcaster") === "NOS") // PP filtered, NOS first
    assert(ep1.getAs[Boolean]("is_nos_content"))
    assert(ep1.getAs[String]("series_id") === "SER1")
    assert(ep1.getAs[String]("season_id") === "SEA1")
    // ALL rating + youth genre -> minimum age 6 (poms_flattened.sql:83).
    assert(ep1.getAs[Int]("min_age_classification") === 6)
    val ep2 = pf("EP2") // all-empty arrays: outer explodes kept it
    assert(ep2.getAs[String]("series_id") === "EP2") // NULL ref -> mid
    assert(ep2.isNullAt(ep2.fieldIndex("min_age_classification")))
    assert(ep2.isNullAt(ep2.fieldIndex("first_broadcaster")))
  }

  test("streams_daily: as-of match picks the nearest show, 30s threshold applies") {
    val sd = built("atinternet_smarttag_streams_daily_v4")
    // The 20:05:30 event sits in both LIVE1's and LIVE2's minute grids;
    // nearest begin (LIVE2, 90s) must win over LIVE1 (330s).
    val p1 = sd.filter(col("evt_mid") === "LIVE2").collect()
    assert(p1.length === 1)
    assert(p1.head.getAs[String]("stream_match_type") === "livetvzender - streamID_matched")
    // The 20:01 event matches LIVE1 only.
    assert(sd.filter(col("evt_mid") === "LIVE1").count() === 1L)
    // Regular VOD EP1: P4 (35s, qualified) + P5 (10s) on separate days.
    val ep1 = sd.filter(col("evt_mid") === "EP1").orderBy("evt_date").collect()
    assert(ep1.length === 2)
    assert(ep1(0).getAs[Long]("evt_play_count_over_30s") === 1L) // P4 qualifies
    assert(ep1(1).getAs[Long]("evt_play_count_over_30s") === 0L) // P5 under 30s
    // Metadata enrichment rode along (title from POMS, DIV duration).
    assert(ep1(0).getAs[String]("mtd_title_main") === "Titel EP1")
    assert(ep1(0).getAs[Long]("mtd_duration_in_sec") === 1800L)
    assert(ep1(0).getAs[String]("mtd_broadcasters") === "NOS,PP,VPRO")
    // Animations / out-of-window / unmapped-channel events never surface.
    assert(sd.filter(col("evt_date") < "2021-01-04").count() === 0L)
    // The incremental model routed to its dbt database + schema (S7,
    // dbt_project.yml:5-11) as a partitioned table, not a view.
    assert(new java.io.File(
      s"$warehouse/mit-reporting-test-1/atinternet_smarttag_streams_daily/atinternet_smarttag_streams_daily_v4")
      .isDirectory)
  }

  test("tvbroadcasts: ISO-week aggregation with intekening join") {
    val tvb = built("integral_reporting_tvbroadcasts")
    // EP1's first broadcast (2019-01-02) lands in ISO week 1 of 2019 and
    // carries the vertaaltabel row for SER1.
    val w1 = tvb.filter(col("year") === 2019 && col("weeknr") === 1 &&
      col("poms_series_id") === "SER1").collect()
    assert(w1.length === 1)
    assert(w1.head.getAs[String]("Naam") === "Serie Een")
    assert(w1.head.getAs[Long]("tv_number_of_broadcasts") === 1L)
    assert(w1.head.getAs[Long]("tv_duration_min") === 30L)
    assert(w1.head.getAs[Double]("tv_sum_kdh_per_week") === 500000.0)
    // EP2 on 2020-12-31 is ISO week 53 of 2020 — the year-boundary trap.
    assert(tvb.filter(col("year") === 2020 && col("weeknr") === 53 &&
      col("poms_series_title") === "Oudejaars").count() === 1L)
    // Reruns and non-NPO channels excluded; spine rows without TV remain.
    assert(tvb.filter(col("poms_series_title").isNull).count() > 0)
  }

  test("social + sites models align weekly stats to the ISO spine") {
    val yt = built("integral_reporting_youtube")
    val hit = yt.filter(col("yt_total_subscribers").isNotNull).collect()
    // 2021-01-04 interval -> ISO week 1/2021 spine row, latest partition
    // values (10000 subscribers), kdh = 45% of 40000 views.
    assert(hit.map(_.getAs[java.sql.Date]("weekdate").toString).toSet ===
      Set("2021-01-04", "2018-12-31"))
    val w2021 = hit.find(_.getAs[java.sql.Date]("weekdate").toString == "2021-01-04").get
    assert(w2021.getAs[Long]("yt_total_subscribers") === 10000L)
    assert(w2021.getAs[Double]("yt_kdh_per_week") === 18000.0)
    val fb = built("integral_reporting_facebook")
    assert(fb.filter(col("fb_fans") === 120000L).count() === 1L)
    // Naam IS NULL vertaal rows are excluded from social models.
    assert(fb.select(countDistinct("QL_FB_ID")).head().getLong(0) === 1L)
    val saa = built("integral_reporting_sites_and_apps")
    val saaHit = saa.filter(col("site_weekly_visitors").isNotNull).collect()
    assert(saaHit.length === 1)
    assert(saaHit.head.getAs[Long]("app_weekly_visitors") === 900L)
    assert(saaHit.head.getAs[Long]("site_weekly_visitors") === 1800L)
    assert(saaHit.head.getAs[Long]("site_visits") === 2600L)
  }

  test("vodstreaming: stream-week consumption lands on the spine") {
    val vod = built("integral_reporting_vodstreaming")
    // P4+P5 events in ISO week 1/2021 under SER1 -> one rollup row with
    // the vertaal Stream_Titel and both episodes counted.
    val w = vod.filter(col("year") === 2021 && col("weeknr") === 1 &&
      col("POMS_series_id") === "SER1").collect()
    assert(w.length === 1)
    assert(w.head.getAs[String]("Stream_join_title") === "Serie Een Stream")
    assert(w.head.getAs[Int]("has_intekening") === 1)
    assert(w.head.getAs[Long]("streaming_number_of_episodes") >= 2L) // EP1 + LIVE1/LIVE2
    assert(w.head.getAs[Long]("streaming_playcount_over_30s") >= 1L)
  }

  test("multi-day incremental replay converges to the from-scratch build") {
    // Replay the DAG's one incremental model across three consecutive
    // injected "todays" against ONE warehouse — the production cadence:
    // each run insert-overwrites its rolling 9-day window, older
    // partitions written by earlier runs must survive untouched. With
    // static sources the end state must equal a single from-scratch
    // build over the union of the three windows — any drift means
    // insert-overwrite either leaked rows across windows or clobbered a
    // partition it did not own.
    val fixtures = NpoFixtures.all(spark)
    val wh = java.nio.file.Files.createTempDirectory("graft_inc").toFile.getAbsolutePath
    // 3-day strides: the final run's 9-day window (01-10..01-18) no
    // longer covers the event partitions 01-04..01-09 the first run
    // wrote, so preservation is actually exercised, not vacuous.
    val days = Seq("2021-01-12", "2021-01-15", "2021-01-18").map(java.sql.Date.valueOf)
    val incName = "atinternet_smarttag_streams_daily_v4"
    def window(d: java.sql.Date) = (0 to 8).map(i => d.toLocalDate.minusDays(i).toString)
    val inc = days.map { d =>
      val m = SqlReporting.project(d, spark).model(incName)
      DagRunner.run(spark, Seq(m), fixtures.apply, wh)
      m
    }.last
    val replayed = spark.read.parquet(DagRunner.targetPath(wh, inc))
    // From scratch: the same model text with the union of the three
    // windows as its partition list, built in one pass.
    val unionWindow = days.flatMap(window).distinct
    val text = java.nio.file.Files.readString(SqlReporting.projectDir.resolve(
      s"models/datamarts/npo-data-hub/intermediary/$incName.sql"))
    val setList = "(?s)\\{% set partitions_to_replace = \\[.*?\\] %\\}"
    assert(setList.r.findFirstIn(text).isDefined, "the model's partition list must be present")
    val scratchModel = SqlModel.fromSqlText(incName, text.replaceFirst(setList,
      java.util.regex.Matcher.quoteReplacement(unionWindow.map(d => s"""'"$d"'""")
        .mkString("{% set partitions_to_replace = [", ", ", "] %}"))),
      vars = Map("today" -> s"DATE '${days.last}'"))
    val scratch = scratchModel.build(spark, scratchModel.refs.map(r => r -> fixtures(r)).toMap)
    // Hash-compare on a canonical projection: same column set (partition
    // read-back reorders evt_date), dates as strings, total row order.
    def canon(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(c => col(c).cast("string").as(c)): _*)
        .orderBy(cols.map(c => col(c).asc_nulls_first): _*)
        .collect().map(_.mkString("|")).toSeq
    }
    assert(canon(replayed) === canon(scratch))
    // And the replay really did retain partitions the FINAL window no
    // longer covers (written by the first run, preserved since).
    val finalWindow = window(days.last).toSet
    val retained = replayed.select(col("evt_date").cast("string")).distinct()
      .collect().map(_.getString(0)).filterNot(finalWindow)
    assert(retained.nonEmpty,
      "fixtures must exercise at least one partition outside the final window " +
        "(else the preservation property is vacuous here)")
  }

  test("dashboard: 7-channel stack with windowed title flags") {
    val dash = built("integral_reporting_dashboard_channel_weekly")
    assert(dash.select("reporting_channel").distinct().collect().map(_.getString(0)).toSet ===
      Set("facebook", "instagram", "sites", "apps", "youtube", "lineair", "VOD"))
    // has_intekening is windowed over the title: every Serie Een row gets 1.
    val serie = dash.filter(col("Naam") === "Serie Een")
    assert(serie.filter(col("has_intekening") === 1).count() === serie.count())
    assert(serie.count() > 0)
    // n_total_tv_broadcasts sums lineair new_releases across the title:
    // EP1 (week 1/2019) + LIVE1 (week 1/2021) both roll up to Serie Een.
    assert(serie.select(max("n_total_tv_broadcasts")).head().getLong(0) === 2L)
    // the engagement ratio only exists where reach/views exist.
    assert(dash.filter(col("engagement_ratio").isNotNull).count() > 0)
  }
}
