package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.llm.SimilarityOps
import graft.sources.Tables

/** Diagnostic main: band-hash occupancy statistics for the hyperplane-LSH
  * geometry a corpus would get at DEFAULT confs. Prints, per band, the
  * occupancy distribution and the implied candidate-pair volume
  * (sum over buckets of C(k,2)) — the quantity the within-bucket
  * self-join in `cosinePairs` materializes before exact verification.
  * Usage: runMain graft.tools.LshStats <sfDir> [planesOverride]
  */
object LshStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Sessions.local()
    GraftFunctions.register(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val bands = 4
    val planes =
      if (args.length > 1) args(1).toInt else bands * SimilarityOps.autoLshBpb(n)
    val bpb = planes / bands
    println(s"n=$n planes=$planes bpb=$bpb buckets/band=${1L << bpb}")
    val bandCols = (0 until bands).map(b => struct(lit(b).as("band_idx"),
      expr(s"hyperplane_bits(embedding, $bpb, ${b * bpb})").as("band_hash")))
    val banded = emb.select(explode(array(bandCols: _*)).as("bb"))
      .select(col("bb.band_idx").as("band_idx"), col("bb.band_hash").as("band_hash"))
    val occ = banded.groupBy("band_idx", "band_hash").agg(count(lit(1)).as("k"))
      .persist()
    occ.groupBy("band_idx").agg(
      count(lit(1)).as("buckets"),
      max("k").as("max_occ"),
      expr("percentile_approx(k, 0.99)").as("p99_occ"),
      avg("k").as("mean_occ"),
      sum(expr("k * (k - 1) / 2")).as("cand_pairs"))
      .orderBy("band_idx")
      .show(truncate = false)
    occ.orderBy(desc("k")).show(20, truncate = false)
    spark.stop()
  }
}
