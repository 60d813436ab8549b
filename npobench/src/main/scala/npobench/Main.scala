package npobench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Date

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** The measuring process: one JVM, one closed-loop client, Spark
  * local[k]. Started by run.py, which has already compiled the checkout
  * and generated the inputs; it writes its figures to `--out` as JSON.
  *
  * Arguments (all `--name value`): workload, seconds, trace (0|1),
  * cores, inputs, run (per-run scratch directory), project, sf, d0,
  * extra-days, out, and optionally spans (a file for the span trees of
  * a traced run). The seed shapes only the generated inputs.
  */
object Main {
  val graftRoots = Seq("ivfRoot", "ivfKmRoot", "ivfIncRoot", "vecDedupStateRoot", "pqIncRoot",
    "bm25Root", "bm25IncRoot", "dedupStateRoot", "partDocsRoot", "evoDocsRoot")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val run = a("run")
    val b = SparkSession.builder().master(s"local[$cores]").appName("npobench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/spark-warehouse")
    graftRoots.foreach(k => b.config(s"spark.graft.$k", s"$run/graft/$k"))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(trace)
    val rec = if (trace) Some(Recorder.register(spark)) else None
    val ctx = Ctx(spark, tracer, a("inputs"), run, Paths.get(a("project")), a("sf"),
      Date.valueOf(a("d0")), a("extra-days").toInt)
    val w: Workload = a("workload") match {
      case "npo_daily_refresh" => new DailyRefresh(ctx)
      case "operator_mix" => new OperatorMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()

    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    Jvm.resetHeapPeak()
    val latencies = ArrayBuffer.empty[Double]
    val perOp = ArrayBuffer.empty[Map[String, Double]]
    val trees = ArrayBuffer.empty[Map[String, Any]]
    var failed = 0
    var rounds = 0
    val seconds = a("seconds").toDouble
    val t0 = System.nanoTime()
    def drain(): Unit = rec.foreach(_ => BenchBus.drain(spark.sparkContext))
    var round = w.nextRound()
    while (round.nonEmpty && (rounds == 0 || System.nanoTime() - t0 < seconds * 1e9)) {
      round.foreach { case (name, f) =>
        drain()
        val marks = rec.map(_.marks)
        val gc0 = if (trace) Jvm.gcMs else 0.0
        tracer.beginOp()
        val s = System.nanoTime()
        val ok = try tracer.span(name)(f()) catch {
          case NonFatal(e) => e.printStackTrace(); false
        }
        latencies += (System.nanoTime() - s) / 1e9
        if (!ok) failed += 1
        for (r <- rec; Seq(j0, k0, s0, q0, d0) <- marks) {
          drain()
          val gc = Jvm.gcMs - gc0
          val i = tracer.opIndex
          val spans = tracer.spans.filter(_.op == i).toSeq
          val op = spans.find(_.parent == -1).get
          val (jobs, tasks, stages, qes, accums, execs) = r.synchronized((r.jobs.drop(j0).toSeq,
            r.tasks.drop(k0).toSeq, r.stagesDone.drop(s0).toSeq, r.qes.drop(q0).toSeq,
            r.driverAccums.drop(d0).toSeq, r.execs.toMap))
          perOp += Layers.forOp(op, spans.filterNot(_ eq op), jobs, tasks, stages, qes, execs.get,
            accums, cores, tracer.counter(i, _), gc)
          val tree = Layers.tree(op, spans.filterNot(_ eq op), jobs)
          trees += Map("op" -> name, "wall_ms" -> op.dur, "spans" -> Layers.selfTimes(tree).map {
            case (sp, self) => Map("id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
              "start" -> sp.start, "end" -> sp.end, "self_ms" -> self)
          }, "jobs" -> jobs.map(j => Map("start" -> j.start, "end" -> j.end,
            "test" -> Layers.isTestJob(j, execs.get), "site" -> j.callSite.linesIterator.take(3).mkString(" | "))))
        }
        w.afterOp()
      }
      rounds += 1
      round = w.nextRound()
    }
    val peakRss = Jvm.peakRssMb
    val heapPeak = Jvm.heapPeakMb
    tracer.stop()
    val check = w.check()

    val layers: Map[String, Double] =
      if (perOp.isEmpty) Map.empty
      else perOp.head.keys.map(k => k -> perOp.map(_(k)).sum / perOp.size).toMap +
        ("jvm.heap_peak_mb" -> heapPeak)
    val result = Map("attempted" -> latencies.size, "failed" -> failed, "rounds" -> rounds,
      "latencies" -> latencies.toSeq, "setup_s" -> setupS, "peak_rss_mb" -> peakRss,
      "layers" -> layers, "check" -> check)
    Files.writeString(Paths.get(a("out")), Json(result))
    a.get("spans").foreach(p => Files.writeString(Paths.get(p), Json(trees.toSeq)))
    spark.stop()
  }
}

object Json {
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => q(other.toString)
  }
}
