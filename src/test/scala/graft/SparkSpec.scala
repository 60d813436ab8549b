package graft

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the test suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sc(s: String): org.apache.spark.sql.DataFrame = spark.sql(s)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A Spark job seen by a listener: its job tags and whether it succeeded. */
  final case class SeenJob(tags: Set[String], succeeded: Boolean)

  /** Runs `body` and returns what it returned (or threw) with the jobs it
    * started, in start order. A marker job after `body` flushes the
    * listener bus: events arrive in order, so once the marker has ended
    * every earlier job's start and end have been seen.
    */
  def jobsDuring[T](spark: SparkSession)(body: => T): (scala.util.Try[T], Seq[SeenJob]) = {
    val marker = "graft.test.marker"
    val started = scala.collection.mutable.LinkedHashMap.empty[Int, Set[String]]
    val ok = scala.collection.mutable.Map.empty[Int, Boolean]
    var markerId = -1
    var markerDone = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val p = Option(e.properties)
        if (p.exists(_.getProperty(marker) != null)) markerId = e.jobId
        else started(e.jobId) = p.flatMap(x => Option(x.getProperty("spark.job.tags")))
          .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        if (e.jobId == markerId) { markerDone = true; notifyAll() }
        else ok(e.jobId) = e.jobResult == JobSucceeded
      }
    }
    val ctx = spark.sparkContext
    ctx.addSparkListener(listener)
    try {
      val result = scala.util.Try(body)
      ctx.setLocalProperty(marker, "1")
      try ctx.parallelize(Seq(1), 1).count() finally ctx.setLocalProperty(marker, null)
      listener.synchronized {
        val deadline = System.currentTimeMillis() + 30000
        while (!markerDone && System.currentTimeMillis() < deadline) listener.wait(100)
        (result, started.toSeq.map { case (id, tags) => SeenJob(tags, ok.getOrElse(id, false)) })
      }
    } finally ctx.removeSparkListener(listener)
  }
}
