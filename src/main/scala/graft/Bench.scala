package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Forces full materialization of every query through the
  * noop sink (so Catalyst cannot prune work the way a bare `count()` lets
  * it), reports per-query seconds, and reports failures as an `err` field
  * instead of a fake timing — a broken query must not improve the total.
  *
  * Starvation-robust protocol: this host exhibits CPU-starvation waves that
  * can inflate a single timing 100-300x (e.g. a pure map-side md5 recorded
  * at 400 s vs 1.3 s warm). A single-shot timing loop cannot distinguish
  * that artifact from a genuine regression, so each query is timed once and
  * then adaptively re-timed (up to 2 extra runs) whenever its first timing
  * exceeds 3x the trailing median of recent queries; the recorded value is
  * the MIN across runs (the run least affected by host noise).
  *
  * Starvation WAVES last minutes, so an immediate rerun often lands inside
  * the same wave and confirms the inflated number (round 7 recorded 20-50x
  * inflated minima this way). Two countermeasures (VERDICT r7 #2):
  * (1) suspicious rows — immediate-rerun spread >3x, still above the
  * trailing threshold after immediate reruns, or >3x their value in the
  * previous round's BENCH_r*.json record — are queued and re-timed once
  * more at the END of the whole bench, ~minutes later and so in a
  * different host-noise regime; (2) after the full one-line JSON record, a
  * SECOND compact summary line is printed (total, counts, starved, steal)
  * so the driver's front-truncated tail capture always contains a complete
  * parseable headline even when the 170+-query detail line is cut. Rows
  * whose rerun improved by >3x are listed in `starved_queries` and flip
  * the top-level `starved` flag, and /proc/stat steal time is sampled
  * across the run, so a poisoned record is machine-detectable instead of
  * needing prose disclaimers in BASELINE.md.
  */
object Bench {
  /** Fraction of CPU time stolen by the hypervisor between two samples of
    * /proc/stat's aggregate cpu line (field 8 = steal). 0.0 when the file
    * or field is unavailable (non-Linux, restricted container).
    */
  private def readProcStat(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).flatMap { line =>
          val f = line.trim.split("\\s+").drop(1).map(_.toLong)
          if (f.length >= 8) Some((f.sum, f(7))) else None
        }
      } finally src.close()
    } catch { case _: Throwable => None }

  /** Per-query timings from the newest `BENCH_r*.json` driver record in
    * `dir`, extracted by regex over the record's raw text. The driver's
    * `parsed` field has historically been null (tail truncation), so the
    * only machine-readable prior is the `"name":seconds` pairs inside the
    * captured tail; pairs are filtered to known query names and the MIN is
    * kept when a name appears twice (detail line + rerun arrays never
    * collide with the scalar-pair regex). Empty map when no record exists.
    */
  private[graft] def priorTimings(dir: String, known: Set[String]): Map[String, Double] =
    try {
      val rx = """BENCH_r(\d+)\.json""".r
      val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .flatMap(f => f.getName match {
          case rx(n) => Some((n.toInt, f))
          case _ => None
        })
      if (files.isEmpty) Map.empty
      else {
        val txt = new String(
          java.nio.file.Files.readAllBytes(files.maxBy(_._1)._2.toPath), "UTF-8")
        val pair = """\\?"([A-Za-z0-9_]+)\\?":([0-9]+\.[0-9]+)""".r
        pair.findAllMatchIn(txt)
          .map(m => (m.group(1), m.group(2).toDouble))
          .filter { case (k, _) => known.contains(k) }
          .toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Isolation-triple mode (dev loop / BASELINE.md probes): with a
    // name-prefix argument, time ONLY matching queries, three runs each,
    // and print per-run seconds — the per-query methodology the scale
    // records use. The driver always invokes with no args → full bench.
    // Comma-separated prefixes, same convention as Verify's dev loop.
    val prefixes = args.headOption.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val prefix = if (prefixes.isEmpty) "" else "set"
    def selected(name: String): Boolean = prefixes.exists(name.startsWith)
    var spark = Sessions.local()
    // Disk-safe full-run mode (VERDICT r11 #2): one long-lived local JVM
    // accumulates shuffle files for every stage it ever ran (~50 GB over
    // the full surface at sf10 — local mode has no executor lifecycle to
    // reclaim them), so SPARK_GRAFT_RESTART_EVERY=N stops and rebuilds
    // the SparkSession every N timed queries. SparkContext.stop deletes
    // the context's spark.local.dir scratch (DiskBlockManager
    // deleteFilesOnStop in local mode), bounding transient disk to N
    // queries' shuffle output. JIT and whole-stage-codegen caches are
    // JVM-wide and survive; only the ~1-2 s context re-init is paid,
    // outside any timing. Default 0 = never restart (the driver's
    // sf0.1 run keeps its single-session behavior).
    val restartEvery = sys.env.get("SPARK_GRAFT_RESTART_EVERY")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(0)
    var queriesSinceRestart = 0
    def maybeRestart(): Unit = if (restartEvery > 0) {
      queriesSinceRestart += 1
      if (queriesSinceRestart >= restartEvery) {
        queriesSinceRestart = 0
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = Sessions.local()
        // Untimed micro-warmup: absorb scheduler/session re-init so the
        // next timed query measures its plan, not the restart.
        spark.range(100000).selectExpr("sum(id) AS s")
          .write.format("noop").mode("overwrite").save()
      }
    }
    // Untimed warmup: exercise scan/agg/window/sort codegen paths once so
    // the first timed query doesn't absorb JVM+JIT+codegen startup (~5s
    // observed); steady-state numbers are what scale comparisons need.
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      spark.range(1000000)
        .withColumn("g", pmod(col("id"), lit(100)))
        .withColumn("r", row_number().over(Window.partitionBy("g").orderBy("id")))
        .groupBy("g").agg(sum("r").as("s")).orderBy("g")
        .write.format("noop").mode("overwrite").save()
      // Touch every benchmark table once (untimed) so the first query
      // over each file measures the operator, not the page-cache fill —
      // without this the alphabetically-first queries absorb the whole
      // cold-IO cost and run-to-run variance swamps plan differences.
      // Each load is individually guarded: a missing fixture (e.g. an SF
      // dir without embeddings) degrades to a cold first query for that
      // table instead of aborting the bench before any timing is recorded.
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"))
        try graft.sources.Tables.load(spark, sfDir, t)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
    }
    val startStat = readProcStat()

    // Trailing median of the last `window` accepted (min) timings — the
    // baseline a fresh timing is judged against. Seeded empty: the first
    // few queries fall back to an absolute 5 s trigger only.
    val trailing = scala.collection.mutable.Queue.empty[Double]
    val trailingWindow = 15
    def trailingMedian: Option[Double] =
      if (trailing.isEmpty) None
      else {
        val s = trailing.toVector.sorted
        Some(s(s.length / 2))
      }

    if (prefix.nonEmpty) {
      SparkEntry.queries.toSeq.filter(kv => selected(kv._1)).sortBy(_._1)
        .foreach { case (name, fn) =>
          val runs = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"""{"query":"$name","runs":[${runs.map(t => f"$t%.3f").mkString(",")}],"min":${runs.min}%.3f}""")
        }
      spark.stop()
      return
    }

    val prior = priorTimings(".", SparkEntry.queries.keySet)

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double] // per-query min
    val allRuns = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    var flagged = Vector.empty[String] // queued for the end-of-run pass
    var errors = Vector.empty[(String, String)]
    val maxExtraRuns = 2

    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    }

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      timeOnce(fn) match {
        case Left(err) => errors :+= name -> err
        case Right(t1) =>
          // Suspicious = >3x the trailing median (or >5 s before a median
          // exists). Genuine heavyweights just pay 1-2 cheap confirmations;
          // a starvation spike is replaced by its warm re-measurement.
          val threshold = trailingMedian.map(m => math.max(3.0 * m, 2.0)).getOrElse(5.0)
          var runs = Vector(t1)
          while (runs.length <= maxExtraRuns && runs.min > threshold)
            timeOnce(fn) match {
              case Right(t) => runs :+= t
              case Left(_)  => runs :+= runs.min // re-run failed: keep existing evidence
            }
          val best = runs.min
          timings(name) = best
          if (runs.length > 1) allRuns(name) = runs
          // Queue for the end-of-run pass when the immediate evidence is
          // still suspect: big spread across immediate runs (a wave was
          // active), still above the trailing threshold after exhausting
          // immediate reruns, or >3x the previous round's recorded value
          // (the cross-round regression tripwire VERDICT r7 asked for).
          val spread = runs.length > 1 && runs.max / math.max(best, 1e-9) > 3.0
          val stillHigh = best > threshold
          val vsPrior = prior.get(name).exists(p => best > 3.0 * p && best > 1.0)
          if (spread || stillHigh || vsPrior) flagged :+= name
          trailing.enqueue(best)
          if (trailing.size > trailingWindow) trailing.dequeue()
      }
      maybeRestart()
    }

    // End-of-run rerun pass: by now we are minutes past each flagged row's
    // first measurement, so a starvation wave that poisoned BOTH the first
    // timing and its immediate reruns has usually passed. Two more runs per
    // flagged row; the recorded value stays the min over ALL runs.
    flagged.foreach { name =>
      val fn = SparkEntry.queries(name)
      var extra = Vector.empty[Double]
      var i = 0
      while (i < 2 && (extra.isEmpty || extra.min > timings(name) / 3.0)) {
        timeOnce(fn) match {
          case Right(t) => extra :+= t
          case Left(_)  => ()
        }
        i += 1
      }
      if (extra.nonEmpty) {
        allRuns(name) = allRuns.getOrElse(name, Vector(timings(name))) ++ extra
        timings(name) = math.min(timings(name), extra.min)
      }
      maybeRestart()
    }
    // Starved = the min over all runs (incl. the end-of-run pass) is >3x
    // better than some run — direct evidence a wave inflated a timing.
    val starvedQ = allRuns.collect {
      case (name, runs) if runs.max / math.max(runs.min, 1e-9) > 3.0 => name
    }.toVector

    val endStat = readProcStat()
    val stealPct = (startStat, endStat) match {
      case (Some((tot0, st0)), Some((tot1, st1))) if tot1 > tot0 =>
        100.0 * (st1 - st0) / (tot1 - tot0)
      case _ => 0.0
    }

    def jq(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = timings.map { case (k, v) => jq(k) + ":" + f"$v%.3f" }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => jq(k) + ":" + jq(v) }.mkString("{", ",", "}")
    val rr = allRuns.map { case (k, v) =>
      jq(k) + ":" + v.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val sq = starvedQ.map(jq).mkString("[", ",", "]")
    val starved = starvedQ.nonEmpty || stealPct > 5.0
    val total = timings.values.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"reruns":$rr,"starved":$starved,"starved_queries":$sq,"steal_pct":${f"$stealPct%.2f"},"sf":"$sfDir"}""")
    // Compact headline REPEATED as the final line: the driver keeps a
    // bounded TAIL of stdout, and with 170+ queries the detail line above
    // can lose its leading `"metric":"total"` to front-truncation (rounds
    // 6-7 recorded parsed:null this way). The last line is small enough to
    // always survive whole and parses standalone.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${timings.size},"n_errors":${errors.length},"starved":$starved,"steal_pct":${f"$stealPct%.2f"},"sf":"$sfDir"}""")
    // Machine-parseable artifact: sbt prefixes every stdout line with
    // "[info] ", which has defeated the driver's stdout parser for two
    // rounds running (BENCH_r07/r08 record parsed:null despite the
    // compact tail line surviving). A FILE has no log prefix and no
    // truncation window, so the total is always recoverable.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${timings.size},"n_errors":${errors.length},"starved":$starved,"steal_pct":${f"$stealPct%.2f"},"sf":"$sfDir","queries":$qs,"errors":$errs,"reruns":$rr,"starved_queries":$sq}"""
    val summaryPath = java.nio.file.Paths.get("target", "bench-summary.json")
    java.nio.file.Files.createDirectories(summaryPath.getParent)
    java.nio.file.Files.write(summaryPath, summary.getBytes("UTF-8"))
    spark.stop()
  }
}
