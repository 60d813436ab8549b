package graft.tools

/** Optimization-round survey main: dump `.explain("formatted")` for EVERY
  * declared query to `<outDir>/<name>.txt` and print one summary line per
  * query (exchange / sort-aggregate / expand / cartesian / SMJ counts +
  * whether any scan pushes filters), so plan red flags are grep-able
  * across the whole surface instead of row by row.
  * Usage: runMain graft.tools.PlanScan <sfDir> <outDir> [namePrefix]
  */
object PlanScan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/plans")
    val prefix = args.lift(2).getOrElse("")
    val spark = graft.Sessions.local("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name.txt"), plan.getBytes("UTF-8"))
          def c(p: String) = plan.sliding(p.length).count(_ == p)
          println(s"[plan] $name exch=${c("Exchange")} smj=${c("SortMergeJoin")} " +
            s"sortagg=${c("SortAggregate")} expand=${c("Expand")} " +
            s"cart=${c("CartesianProduct")} bnlj=${c("BroadcastNestedLoopJoin")}")
        } catch {
          case e: Throwable =>
            println(s"[plan] $name FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
        }
      }
    spark.stop()
  }
}
