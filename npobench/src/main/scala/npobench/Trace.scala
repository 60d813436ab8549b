package npobench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener event times.
  */
object Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** One span: a call into a layer, recorded by the benchmark around the
  * program's public functions. `parent` is -1 for an operation.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans and counters of a run. With tracing off every call is a plain
  * pass-through, so untraced runs pay nothing for it.
  */
final class Tracer(enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var recording = enabled
  /** Ends recording; later spans and counts are plain pass-throughs. */
  def stop(): Unit = recording = false
  private var stack = List.empty[Int]
  private var op = -1
  private val counters = ArrayBuffer.empty[scala.collection.mutable.Map[String, Double]]

  def beginOp(): Unit = if (recording) { op += 1; counters += scala.collection.mutable.Map.empty }
  def opIndex: Int = op

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val start = Clock.now
      try body
      finally {
        spans(id) = Span(id, parent, op, name, start, Clock.now)
        stack = stack.tail
      }
    }

  /** Adds to a per-operation counter (no-op when tracing is off). */
  def count(name: String, v: Double): Unit =
    if (recording && op >= 0) counters(op)(name) = counters(op).getOrElse(name, 0.0) + v

  def counter(op: Int, name: String): Double = counters(op).getOrElse(name, 0.0)
}

/** Listener records, kept in memory and attributed at the end of each
  * traced operation.
  */
final case class JobRec(id: Int, start: Double, var end: Double, execIds: Set[Long],
                        stages: Seq[Int], callSite: String)
final case class TaskRec(stage: Int, ok: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
                         shWrite: Long, shRead: Long, fetchWaitMs: Long, spillDisk: Long,
                         spillMem: Long, inBytes: Long, inRecords: Long)
final case class QeRec(analysisMs: Long, optimizationMs: Long, planningMs: Long)
/** A SQL execution: the call stack that started it, and for a file write
  * the accumulator ids of the writer's file, byte and row counts.
  */
final case class ExecRec(site: String, writeAccums: Map[Long, String])

final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val stagesDone = ArrayBuffer.empty[Int]
  val qes = ArrayBuffer.empty[QeRec]
  val execs = scala.collection.mutable.Map.empty[Long, ExecRec]
  /** Driver-side metric updates: (accumulator id, value). */
  val driverAccums = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // A nested execution (a command's write) carries its root's id too.
    val ids = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k)))).map(_.toLong).toSet
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs += JobRec(e.jobId, e.time.toDouble, Double.NaN, ids, e.stageIds, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ok = e.reason == Success
    tasks += (if (m == null) TaskRec(e.stageId, ok, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
              else TaskRec(e.stageId, ok, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
                m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
                m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.memoryBytesSpilled,
                m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execs(s.executionId) = ExecRec(s.details, Recorder.writeAccums(s.sparkPlanInfo)))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      // Adaptive re-planning gives the writer new metric accumulators.
      synchronized(execs.get(u.executionId).foreach { x =>
        execs(u.executionId) = x.copy(writeAccums = x.writeAccums ++ Recorder.writeAccums(u.sparkPlanInfo))
      })
    case d: SparkListenerDriverAccumUpdates =>
      synchronized(d.accumUpdates.foreach(u => driverAccums += u))
    case _ =>
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    synchronized(qes += QeRec(ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  /** How many records of each kind exist: where an op's records begin. */
  def marks: Seq[Int] = synchronized(Seq(jobs.size, tasks.size, stagesDone.size, qes.size,
    driverAccums.size))
}

object Recorder {
  /** Display names of the file writer's statistics. */
  val writeMetrics = Map("number of written files" -> "files", "written output" -> "bytes",
    "number of output rows" -> "records")

  /** The file writer's statistics accumulators in a plan: id -> name. */
  def writeAccums(plan: SparkPlanInfo): Map[Long, String] = {
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    nodes(plan).filter(_.nodeName.contains("InsertIntoHadoopFsRelationCommand")).flatMap(_.metrics)
      .collect { case m if writeMetrics.contains(m.name) => m.accumulatorId -> writeMetrics(m.name) }
      .toMap
  }

  def register(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(r)
    r
  }
}

/** Turns the spans and listener records of one traced operation into the
  * per-layer figures named in BENCHMARK.json.
  */
object Layers {
  type Iv = (Double, Double)

  /** Total length of the union of intervals, each clipped to `within`. */
  def unionLen(ivs: Iterable[Iv], within: Iv): Double = {
    val c = ivs.map { case (a, b) => (math.max(a, within._1), math.min(b, within._2)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var cur: Option[Iv] = None
    c.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** Merged intervals (the busy segments of a set of jobs). */
  def merge(ivs: Iterable[Iv]): Seq[Iv] = {
    val out = ArrayBuffer.empty[Iv]
    ivs.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  /** A job runs a data test when its call stack passes through the data
    * test layer (`DataTests`) or the build's per-model test step.
    */
  def isTestJob(j: JobRec, execs: Long => Option[ExecRec]): Boolean =
    (j.callSite +: j.execIds.toSeq.flatMap(execs).map(_.site))
      .exists(s => s.contains("DataTests") || s.contains("violations$"))

  def forOp(op: Span, spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec],
            stagesDone: Seq[Int], qes: Seq[QeRec], execs: Long => Option[ExecRec],
            driverAccums: Seq[(Long, Long)], cores: Int,
            counter: String => Double, gcMs: Double): Map[String, Double] = {
    val opIv = (op.start, op.end)
    def jobIv(j: JobRec): Iv = (j.start, if (j.end.isNaN) op.end else j.end)
    def spanSum(n: String): Double = spans.filter(_.name == n).map(_.dur).sum / 1000
    def jobsIn(n: String): Seq[JobRec] = {
      val ss = spans.filter(_.name == n)
      jobs.filter(j => ss.exists(s => j.start >= s.start && j.start <= s.end))
    }
    val builds = spans.filter(_.name == "dag.build")
    val nonjob = builds.map(s => s.dur - unionLen(jobs.map(jobIv), (s.start, s.end))).sum / 1000
    val testJobs = jobs.filter(isTestJob(_, execs))
    val writeJobs = jobs.filter(_.execIds.exists(id => execs(id).exists(_.writeAccums.nonEmpty)))
    val accumName = jobs.flatMap(_.execIds).flatMap(execs).flatMap(_.writeAccums).toMap
    def written(k: String): Double =
      driverAccums.collect { case (id, v) if accumName.get(id).contains(k) => v.toDouble }.sum
    val listed = jobs.map(_.stages.size).sum
    val busy = unionLen(jobs.map(jobIv), opIv) / 1000
    val runS = tasks.map(_.runMs).sum / 1000.0
    val wBytes = written("bytes")
    val newInput = counter("input.new_bytes")
    Map(
      "loader.load_s" -> spanSum("loader.load"),
      "loader.models" -> counter("loader.models"),
      "dag.select_s" -> spanSum("dag.select"),
      "dag.build_s" -> spanSum("dag.build"),
      "dag.nonjob_s" -> nonjob,
      "dag.models_built" -> counter("dag.models_built"),
      "dag.models_failed" -> counter("dag.models_failed"),
      "dag.models_skipped" -> counter("dag.models_skipped"),
      "tests.jobs" -> testJobs.size.toDouble,
      "tests.s" -> unionLen(testJobs.map(jobIv), opIv) / 1000,
      "write.jobs" -> writeJobs.size.toDouble,
      "write.s" -> unionLen(writeJobs.map(jobIv), opIv) / 1000,
      "write.bytes" -> wBytes,
      "write.files" -> written("files"),
      "write.records" -> written("records"),
      "write.amplification" -> (if (newInput > 0) wBytes / newInput else 0.0),
      "builder.s" -> spanSum("builder"),
      "builder.jobs" -> jobsIn("builder").size.toDouble,
      "query.exec_s" -> spanSum("query.exec"),
      "catalyst.analysis_s" -> qes.map(_.analysisMs).sum / 1000.0,
      "catalyst.optimization_s" -> qes.map(_.optimizationMs).sum / 1000.0,
      "catalyst.planning_s" -> qes.map(_.planningMs).sum / 1000.0,
      "catalyst.queries" -> qes.size.toDouble,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stagesDone.size.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.stage_reuse" -> (if (listed > 0) math.max(0, listed - stagesDone.size).toDouble / listed
                              else 0.0),
      "sched.busy_s" -> busy,
      "sched.idle_s" -> (op.dur / 1000 - busy),
      "exec.run_s" -> runS,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
      "exec.failed_tasks" -> tasks.count(!_.ok).toDouble,
      "exec.util" -> (if (busy > 0) runS / (busy * cores) else 0.0),
      "shuffle.write_bytes" -> tasks.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1000.0,
      "spill.disk_bytes" -> tasks.map(_.spillDisk).sum.toDouble,
      "spill.mem_bytes" -> tasks.map(_.spillMem).sum.toDouble,
      "scan.bytes" -> tasks.map(_.inBytes).sum.toDouble,
      "scan.records" -> tasks.map(_.inRecords).sum.toDouble,
      "jvm.gc_s" -> gcMs / 1000)
  }

  /** The op's span tree with Spark job activity as leaves: bench spans,
    * plus one `spark.jobs` segment per merged run of overlapping jobs,
    * each placed under the innermost span that contains its start and
    * clipped to it. Self times over this tree add up to the op's wall.
    */
  def tree(op: Span, spans: Seq[Span], jobs: Seq[JobRec]): Seq[Span] = {
    val all = op +: spans
    val clipped = jobs.flatMap { j =>
      val (a, b) = (j.start, if (j.end.isNaN) op.end else j.end)
      // Nested spans start later than their parents: the innermost
      // containing span is the one that started last.
      val home = all.filter(s => a >= s.start && a <= s.end).sortBy(-_.start).headOption.getOrElse(op)
      val iv = (math.max(a, home.start), math.min(b, home.end))
      if (iv._2 > iv._1) Some(home -> iv) else None
    }
    var next = all.map(_.id).max
    all ++ clipped.groupBy(_._1).toSeq.sortBy(_._1.id).flatMap { case (home, ivs) =>
      merge(ivs.map(_._2)).map { case (a, b) => next += 1; Span(next, home.id, op.op, "spark.jobs", a, b) }
    }
  }

  def selfTimes(tree: Seq[Span]): Seq[(Span, Double)] = tree.map { s =>
    val kids = tree.filter(_.parent == s.id).map(k => (k.start, k.end))
    (s, s.dur - unionLen(kids, (s.start, s.end)))
  }
}

object Jvm {
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
