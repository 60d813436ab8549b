package graft.tools

import graft.engine.DagRunner
import graft.models.SqlReporting
import graft.models.testkit.{NpoFixtures, NpoParquet}

/** Dev profiling main for the `dag_project_dashboard` row (optimization
  * round 14): decompose the file-frontend DAG run into fixture ensure /
  * ProjectLoader.load / per-model materialization / final query
  * execution, so "frontend-bound" is a measured split instead of a
  * guess. Usage: runMain graft.tools.DagProfile [iterations]
  */
object DagProfile {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.flatMap(_.toIntOption).getOrElse(3)
    val spark = graft.Sessions.local()
    NpoParquet.ensure(spark)
    def resolve(n: String) =
      spark.read.parquet(NpoParquet.src(NpoFixtures.physicalAliases.getOrElse(n, n)))
    (1 to iters).foreach { i =>
      var t0 = System.nanoTime()
      val proj = SqlReporting.project(NpoFixtures.today, spark)
      val tLoad = (System.nanoTime() - t0) / 1e9
      val wh = s"${sys.props("java.io.tmpdir")}/graft-dagprof-$i"
      // Per-model laps: run() one model at a time in topo order with the
      // same resolve/warehouse semantics as the oracle row.
      var built = Map.empty[String, org.apache.spark.sql.DataFrame]
      val laps = DagRunner.topoSort(proj.models).map { m =>
        val t = System.nanoTime()
        built ++= DagRunner.run(spark, Seq(m),
          n => built.getOrElse(n, resolve(n)), wh)
        m.name -> (System.nanoTime() - t) / 1e9
      }
      t0 = System.nanoTime()
      val df = built("integral_reporting_dashboard_channel_weekly")
      df.orderBy(df.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
        .write.format("noop").mode("overwrite").save()
      val tExec = (System.nanoTime() - t0) / 1e9
      val tRun = laps.map(_._2).sum
      println(f"[$i] load=$tLoad%.3f run=$tRun%.3f exec=$tExec%.3f total=${tLoad + tRun + tExec}%.3f")
      println("    " + laps.sortBy(-_._2).take(8)
        .map { case (n, t) => f"$n=$t%.2f" }.mkString(" "))
    }
    spark.stop()
  }
}
