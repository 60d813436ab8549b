package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.llm.DedupOps
import graft.sources.Tables

/** Diagnostic main: the candidate near-dup graph's shape at a scale
  * factor — pair volume, distinct participating docs, and the
  * component-size / component-edge distribution. This is the quantity
  * that decides every two-tier routing decision in the dedup family
  * (driver-local vs distributed CC/PageRank, per-component in-task
  * solve vs global loop), so when a row's cost moves at a new SF this
  * prints WHICH side of each guard the corpus actually lands on.
  * Usage: runMain graft.tools.GraphStats <sfDir>
  */
object GraphStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Sessions.local()
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sfDir, "documents")
    val nDocs = docs.count()
    val pairs = DedupOps.candidatePairs(spark, sfDir).persist()
    val nPairs = pairs.count()
    val nPart = pairs.select(col("doc_a").as("d")).unionAll(pairs.select(col("doc_b")))
      .distinct().count()
    println(s"docs=$nDocs pairs=$nPairs participating=$nPart edges=${2 * nPairs}")
    val assign = DedupOps.connectedComponents(pairs).persist()
    val sizes = assign.groupBy("canonical_id").agg(count(lit(1)).as("sz"))
    val edgeCounts = pairs
      .join(assign.select(col("doc_id").as("doc_a"), col("canonical_id").as("comp")), "doc_a")
      .groupBy("comp").agg(count(lit(1)).as("ep"))
    println("component size distribution (size -> #components):")
    sizes.groupBy("sz").agg(count(lit(1)).as("n_comps")).orderBy(desc("sz"))
      .show(20, truncate = false)
    println("heaviest components by edge count:")
    edgeCounts.orderBy(desc("ep")).show(10, truncate = false)
    spark.stop()
  }
}
