package graft.tools

/** Dev profiling main for the file-frontend fixed cost (VERDICT r12 #4):
  * decompose a dag_pkg_* row into ProjectLoader.load / DagRunner.run /
  * query-execution time. Usage: runMain graft.tools.PkgProfile <sfDir> <model>
  */
object PkgProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val model = args.lift(1).getOrElse("orders_dateparts")
    val spark = graft.Sessions.local()
    // --raw: time the equivalent hand-built frame (no file frontend) to
    // separate frontend cost from expression cost.
    if (args.contains("--raw")) {
      import org.apache.spark.sql.functions._
      val o = graft.sources.Tables.load(spark, sfDir, "orders")
      val cols = Seq(
        "due_date" -> "cast(o_orderdate + interval 7 day as date)",
        "days_to_y2k" -> "timestampdiff(day, o_orderdate, timestamp'2000-01-01 00:00:00')",
        "prio_code" -> "element_at(split(o_orderpriority, '-'), 1)",
        "status_int" -> "try_cast(o_orderstatus as int)",
        "key_hash" -> "md5(cast(cast(o_orderkey as string) as binary))")
      // Each column alone (keyed by o_orderkey), plus all together.
      (cols.map(c => Seq(c)) :+ cols).foreach { set =>
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val df = o.select((col("o_orderkey") +: set.map { case (n, e) => expr(e).as(n) }): _*)
          val sorted = df.orderBy(df.columns.toIndexedSeq.map(col): _*)
          sorted.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[raw ${set.map(_._1).mkString(",")}] min=${times.min}%.3f runs=${times.map(t => f"$t%.2f").mkString(",")}")
      }
      spark.stop(); return
    }
    val dir = java.nio.file.Paths.get("fixtures/pkg_project")
    (1 to 3).foreach { i =>
      var t0 = System.nanoTime()
      val proj = graft.engine.ProjectLoader.load(spark, dir)
      val tLoad = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val built = graft.engine.DagRunner.run(spark, proj.models,
        n => graft.sources.Tables.load(spark, sfDir, n.stripPrefix("tpch.")))
      val tRun = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      built(model).write.format("noop").mode("overwrite").save()
      val tExec = (System.nanoTime() - t0) / 1e9
      println(f"[$i] load=$tLoad%.3f run=$tRun%.3f exec=$tExec%.3f total=${tLoad + tRun + tExec}%.3f")
    }
    spark.stop()
  }
}
