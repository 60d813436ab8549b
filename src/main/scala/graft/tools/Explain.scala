package graft.tools

import graft.SparkEntry

/** Plan-audit main: print the formatted physical plan (and optionally
  * time) for one or more queries. Usage:
  *   runMain graft.tools.Explain <sfDir> <queryName> [queryName...]
  *   runMain graft.tools.Explain <sfDir> --time <queryName>
  *   runMain graft.tools.Explain <sfDir> --conf k=v --time <queryName>
  *   runMain graft.tools.Explain <sfDir> --exec <queryName>   # post-AQE plan
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val time = args.contains("--time")
    val exec = args.contains("--exec")
    val confs = args.sliding(2).collect {
      case Array("--conf", kv) if kv.contains('=') =>
        val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val names = args.drop(1).filterNot(_ == "--time").filterNot(_ == "--exec")
      .filterNot(_ == "--conf")
      .filterNot(a => confs.exists(_ == (a.split("=", 2) match {
        case Array(k, v) => (k, v); case _ => ("", "")
      })))
    val spark = graft.Sessions.local()
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      println(s"\n========== $n ==========")
      if (exec) {
        // Drive the df's OWN QueryExecution (a write would plan a fresh
        // one) so AQE finalizes this instance's plan (ReusedExchange,
        // runtime join strategy swaps), then print the executed tree.
        df.queryExecution.toRdd.foreach(_ => ())
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
      if (time) {
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          println(f"[$n run $i] ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      }
    }
    spark.stop()
  }
}
