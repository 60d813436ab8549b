package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dialect.Dialect.roundTo
import graft.functions.GraftFunctions
import graft.llm.SimilarityOps
import graft.sources.Tables

/** Diagnostic main (VERDICT r13 ask #6): recall@k of the IVF ANN path
  * against exact brute-force cosine top-k at a given corpus scale, per
  * nprobe, with wall times for both sides. The exact side IS
  * `llm_cosine_topk`'s plan (broadcast queries, one corpus scan, window
  * top-k); the approximate side is [[SimilarityOps.ivfSearch]] over the
  * persisted cell-partitioned index (built once via `IvfIndex.ensure`,
  * marker-guarded).
  *
  * Usage: runMain graft.tools.AnnRecall <sfDir> [k=10] [nprobes=1,2,3] [nQueries=64]
  * Prints one JSON line per nprobe plus the exact-side baseline.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = if (args.length > 1) args(1).toInt else 10
    val nprobes = (if (args.length > 2) args(2) else "1,2,3").split(",").map(_.trim.toInt).toSeq
    val nq = if (args.length > 3) args(3).toInt else 64
    val spark = graft.Sessions.local()
    GraftFunctions.register(spark)

    val emb = Tables.load(spark, sfDir, "embeddings")
    val nVecs = emb.count()
    val queries = emb.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    def topkPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // Exact brute force — the llm_cosine_topk shape.
    val (exact, exactSec) = timed(topkPairs(
      emb.join(broadcast(queries), col("vec_id") =!= col("qid"))
        .withColumn("cos_sim",
          roundTo(call_function("cosine_sim", col("qv"), col("embedding")), 6))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rank") <= k)))
    println(f"""{"tool":"ann_recall","sf_dir":"$sfDir","n_vecs":$nVecs,"k":$k,"n_queries":$nq,"exact_sec":$exactSec%.2f}""")

    nprobes.foreach { np =>
      // Index build (ensure) is excluded from the probe timing — time a
      // throwaway probe first so ensure() amortizes exactly once.
      SimilarityOps.ivfSearch(spark, sfDir, queries.limit(1), k, np).count()
      val (got, sec) = timed(topkPairs(SimilarityOps.ivfSearch(spark, sfDir, queries, k, np)))
      val recall = got.intersect(exact).size.toDouble / exact.size
      println(f"""{"tool":"ann_recall","cells":"label","nprobe":$np,"recall_at_$k":$recall%.4f,"probe_sec":$sec%.2f}""")
    }
    // Geometric (k-means) cells — the fix when the data's label column
    // does not correlate with embedding geometry (set cell count via
    // spark.graft.ivfKmeansCells before running).
    nprobes.foreach { np =>
      SimilarityOps.ivfSearchKmeans(spark, sfDir, queries.limit(1), k, np).count()
      val (got, sec) = timed(topkPairs(
        SimilarityOps.ivfSearchKmeans(spark, sfDir, queries, k, np)))
      val recall = got.intersect(exact).size.toDouble / exact.size
      val cells = spark.conf.get("spark.graft.ivfKmeansCells", "8")
      println(f"""{"tool":"ann_recall","cells":"kmeans$cells","nprobe":$np,"recall_at_$k":$recall%.4f,"probe_sec":$sec%.2f}""")
    }
    spark.stop()
  }
}
