package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Structured Streaming behavior: the windowed aggregation runs on a real
  * MemoryStream with watermarked event time, and batch/streaming runs of
  * the same operator agree (the unified-plan property).
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedPlayCounts over a MemoryStream matches the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = Seq(
      ("click", ts("2024-01-01 00:01:00"), 45.0),
      ("click", ts("2024-01-01 00:04:00"), 10.0),
      ("view", ts("2024-01-01 00:07:00"), 31.0),
      ("click", ts("2024-01-01 00:12:00"), 99.0))

    val stream = MemoryStream[(String, Timestamp, Double)]
    stream.addData(rows: _*)
    val streaming = StreamingOps.windowedPlayCounts(
      stream.toDF().toDF("event_type", "ts", "value"))
    val q = streaming.writeStream.format("memory")
      .queryName("wpc").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("wpc")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === Seq(
      ("2024-01-01 00:00:00.0", "click", 2L, 1L, 55.0),
      ("2024-01-01 00:00:00.0", "view", 1L, 1L, 31.0),
      ("2024-01-01 00:10:00.0", "click", 1L, 1L, 99.0)))

    // Same operator over the same data as a batch frame: identical rows.
    val batch = StreamingOps.windowedPlayCounts(
      rows.toDF("event_type", "ts", "value"))
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(batch.toSeq === got.toSeq)
  }

  test("streamingExactDedup keeps one row per content key and bounds state by watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(Timestamp, String)]
    val deduped = StreamingOps.streamingExactDedup(
      stream.toDF().toDF("ts", "text"))
    val q = deduped.writeStream.format("memory")
      .queryName("sed").outputMode("append").start()
    // Separate micro-batches enforce the arrival order, so "first
    // arrival wins" is deterministic (within one batch Spark keeps an
    // engine-order row).
    try {
      stream.addData((ts("2024-01-01 00:00:00"), "alpha text"))
      q.processAllAvailable()
      stream.addData(
        (ts("2024-01-01 00:00:10"), "alpha text"), // retry duplicate
        (ts("2024-01-01 00:00:20"), "beta text"))
      q.processAllAvailable()
      stream.addData(
        (ts("2024-01-01 00:00:30"), "alpha text"), // another replay
        (ts("2024-01-01 00:00:40"), "gamma text"))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sed").select("ts", "text").as[(Timestamp, String)]
      .collect().sortBy(_._2)
    assert(got.map(_._2).toSeq === Seq("alpha text", "beta text", "gamma text"),
      "exactly one survivor per distinct content")
    assert(got.head._1 === ts("2024-01-01 00:00:00"),
      "the FIRST arrival must survive, not an arbitrary duplicate")
    // Same operator on the same frame as batch: same survivor ROWS
    // (including timestamps — first-arrival-wins must hold in both modes,
    // even with the duplicates listed out of order).
    val batch = StreamingOps.streamingExactDedup(
      Seq((ts("2024-01-01 00:00:30"), "alpha text"), // later replay listed first
        (ts("2024-01-01 00:00:10"), "alpha text"),
        (ts("2024-01-01 00:00:20"), "beta text"),
        (ts("2024-01-01 00:00:00"), "alpha text"), // true first arrival
        (ts("2024-01-01 00:00:40"), "gamma text")).toDF("ts", "text"))
      .select("ts", "text").as[(Timestamp, String)].collect().sortBy(_._2)
    assert(batch.toSeq === got.toSeq)
  }

  test("streamingNearDupProbe agrees with the oracled batch incremental-dedup row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))

    // The lake's band index, built with the map-side HOF band hasher.
    val lake = StreamingOps.bandHashes(
        docs.filter(col("source") =!= "src7").select("doc_id", "text"))
      .filter(col("band_hash").isNotNull)
      .select("band_idx", "band_hash").distinct()

    val batchDocs = docs.filter(col("source") === "src7")
      .select("doc_id", "text").as[(Long, String)].collect()
    val t0 = ts("2024-01-01 00:00:00")
    val stream = MemoryStream[(Long, Timestamp, String)]
    stream.addData(batchDocs.map { case (id, tx) => (id, t0, tx) }.toIndexedSeq: _*)
    val q = StreamingOps.streamingNearDupProbe(
        stream.toDF().toDF("doc_id", "ts", "text"), lake)
      .writeStream.format("memory").queryName("sndp").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sndp").select("doc_id", "is_dup")
      .as[(Long, Boolean)].collect().toMap

    // Ground truth: the DuckDB-oracled batch row over the same split —
    // this also pins the HOF band hashes to the batch groupBy
    // formulation (any drift in the hash family breaks the flags).
    val expect = SparkEntry.queries("llm_incremental_dedup")(spark, dir)
      .select(col("doc_id").cast("long"), col("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    assert(got === expect)
    assert(expect.values.exists(identity),
      "fixture must contain at least one cross-shard near-dup")

    // Same operator over the same rows as a static frame: same flags.
    val batchRun = StreamingOps.streamingNearDupProbe(
        batchDocs.map { case (id, tx) => (id, t0, tx) }.toSeq
          .toDF("doc_id", "ts", "text"), lake)
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(batchRun === expect)
  }

  test("npoDailyPlayback over the fixture stream agrees with the batch DAG model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.models.testkit.NpoFixtures

    val fixtures = NpoFixtures.all(spark)
    val proj = graft.models.SqlReporting.project(NpoFixtures.today, spark)
    val model = proj.model("atinternet_smarttag_streams_daily_v4")
    val parts = model.materialization match {
      case graft.engine.IncrementalInsertOverwrite(_, p) => p
      case other => fail(s"expected insert_overwrite, got $other")
    }

    // Stream the raw NPO media_events feed through the daily rollup.
    val stream = MemoryStream[graft.models.testkit.NpoFixtures.Me]
    stream.addData(fixtures("media_events").as[NpoFixtures.Me].collect().toIndexedSeq: _*)
    val q = StreamingOps.npoDailyPlayback(stream.toDF(),
        fixtures("live_stream_name_mapping_v1"), parts)
      .writeStream.format("memory").queryName("npo_daily").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("npo_daily").collect()
      .map(r => r.getDate(0).toString -> r.getDouble(1)).toMap

    // Batch side: the materialized streams-daily model, rolled to dates.
    val wh = java.nio.file.Files.createTempDirectory("graft_sp").toFile.getAbsolutePath
    val built = graft.engine.DagRunner.run(spark,
      graft.engine.DagRunner.withLazyUpstreams(proj.models, Seq(model)),
      NpoFixtures.resolveProject(fixtures), wh)
    val batch = built("atinternet_smarttag_streams_daily_v4")
      .groupBy("evt_date")
      .agg(sum("evt_playback_time_total_in_sec").as("playback_sec"))
      .collect().map(r => r.get(0).toString -> r.getDouble(1)).toMap

    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("attributeClicks stream-stream interval join matches the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // (event_id, ts, user_id, event_type): user 1 has a view matched by
    // one in-window click (300 s) and one out-of-window click (900 s),
    // then a second view that re-attributes the late click (180 s);
    // user 2 clicks with no view at all.
    val rows = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 00:05:00"), 1L, "click"),
      (3L, ts("2024-01-01 00:12:00"), 1L, "view"),
      (4L, ts("2024-01-01 00:15:00"), 1L, "click"),
      (5L, ts("2024-01-01 00:01:00"), 2L, "click"))

    val stream = MemoryStream[(Long, Timestamp, Long, String)]
    stream.addData(rows: _*)
    val q = StreamingOps.attributeClicks(
        stream.toDF().toDF("event_id", "ts", "user_id", "event_type"))
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("attr").orderBy("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 1L, 2L, 300L), (1L, 3L, 4L, 180L)),
      "in-window pairs only; the 15-min gap and the view-less click drop")

    // Identical rows from the SAME operator run as a batch frame.
    val batch = StreamingOps.attributeClicks(
        rows.toDF("event_id", "ts", "user_id", "event_type"))
      .orderBy("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batch.toSeq === got.toSeq)
  }

  test("sessionize groups events into gap-bounded sessions with state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Event]
    stream.addData(
      Event(1L, ts("2024-01-01 10:00:00"), 5.0),
      Event(1L, ts("2024-01-01 10:10:00"), 7.0),
      Event(2L, ts("2024-01-01 10:00:00"), 1.0))
    val q = StreamingOps.sessionize(stream.toDS(), withTimeout = false)
      .writeStream.format("memory").queryName("sess").outputMode("update").start()
    try {
      q.processAllAvailable()
      val s = spark.table("sess").orderBy("user_id").collect()
      assert(s.length === 2)
      val u1 = s(0)
      assert(u1.getAs[Long]("user_id") === 1L)
      assert(u1.getAs[Long]("n_events") === 2L)
      assert(u1.getAs[Double]("total_value") === 12.0)
      assert(u1.getAs[Timestamp]("session_start") === ts("2024-01-01 10:00:00"))
      assert(u1.getAs[Timestamp]("session_end") === ts("2024-01-01 10:10:00"))
      assert(!u1.getAs[Boolean]("closed"))
      // A later batch within the gap extends user 1's session.
      stream.addData(Event(1L, ts("2024-01-01 10:20:00"), 3.0))
      q.processAllAvailable()
      val ext = spark.table("sess").filter(col("user_id") === 1L)
        .orderBy(col("n_events").desc).collect().head
      assert(ext.getAs[Long]("n_events") === 3L)
      assert(ext.getAs[Double]("total_value") === 15.0)
    } finally q.stop()
  }

  test("sessionWindowCounts (a12b's code) emits closed sessions on a watermarked stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:10:00")), // same session (gap < 30 min)
      (1L, ts("2024-01-01 01:30:00")), // new session for user 1
      (2L, ts("2024-01-01 00:05:00")))
    val flush = (99L, ts("2024-01-01 12:00:00")) // advances the watermark

    val stream = MemoryStream[(Long, Timestamp)]
    val q = StreamingOps.sessionWindowCounts(stream.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("swc").outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      stream.addData(flush)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("swc")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3)))
    // Sessions whose end precedes the watermark (12:00 - 1h) have closed;
    // the flush user's own session is still open and must NOT appear.
    assert(streamed.toSeq === Seq(
      (1L, "2024-01-01 00:00:00.0", "2024-01-01 00:40:00.0", 2L),
      (1L, "2024-01-01 01:30:00.0", "2024-01-01 02:00:00.0", 1L),
      (2L, "2024-01-01 00:05:00.0", "2024-01-01 00:35:00.0", 1L)))

    // The SAME function over the same rows as a batch frame produces the
    // same closed sessions (plus the flush user's, which batch can close).
    val batch = StreamingOps.sessionWindowCounts(
      (rows :+ flush).toDF("user_id", "ts"))
      .filter(col("user_id") =!= 99L)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3)))
    assert(batch.toSeq === streamed.toSeq)
  }
}
