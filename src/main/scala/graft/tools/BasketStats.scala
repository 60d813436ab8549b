package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Apriori prune-effect probe (VERDICT r11 ask #1): for each minSupport
  * dial value, report the basket-pair CANDIDATE cost the a27 plan would
  * pay — exploded pair occurrences (Σ C(|basket|,2), the Generate
  * output volume) and DISTINCT pair keys (the aggregation state that
  * spilled at sf10) — before and after the semi-join prune
  * (`ExtensionOps.basketPairsPlan`).
  *
  * The dial's real-world setting is RELATIVE support (classic Apriori
  * runs at 0.1–1% of transactions); a27b's fixed 25 exists to keep an
  * oracle row whose prune is lossless yet non-trivial at sf0.01. On a
  * Zipf corpus the relative dial is what produces the order-of-magnitude
  * candidate cuts — this tool prints the curve so BASELINE.md records
  * measured numbers, not the expectation.
  *
  * Usage: BasketStats <sfDir> [ms1,ms2,...]   (default 0,25,1%·|orders|)
  */
object BasketStats {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Sessions.local()

    val baskets = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("okey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
      .cache()
    val nOrders = baskets.count()
    val supports = baskets.select(explode(col("parts")).as("part"))
      .groupBy("part").agg(count(lit(1)).as("cnt_one"))
      .cache()
    val nParts = supports.count()
    val mss: Seq[Long] = args.lift(1)
      .map(_.split(',').toSeq.map(_.trim.toLong))
      .getOrElse(Seq(0L, 25L, math.max(nOrders / 100L, 1L)))

    mss.foreach { ms =>
      val pruned =
        if (ms <= 0) baskets
        else baskets.select(col("okey"), explode(col("parts")).as("part"))
          .join(broadcast(supports.filter(col("cnt_one") >= ms).select("part")),
            Seq("part"), "left_semi")
          .groupBy("okey").agg(collect_set(col("part")).as("parts"))
      // Column./ is DOUBLE division — n·(n−1) is even, so the long cast
      // after the halving is exact.
      val occ = pruned
        .select((size(col("parts")).cast("long") * (size(col("parts")) - 1) / 2)
          .cast("long").as("c"))
        .agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
      val keys = pruned.select(explode(expr(
          "flatten(transform(sort_array(parts), (x, i) -> " +
            "transform(slice(sort_array(parts), i + 2, size(parts)), " +
            "y -> struct(x AS pa, y AS pb))))")).as("pr"))
        .select(countDistinct(col("pr"))).head().getLong(0)
      val qParts =
        if (ms <= 0) nParts
        else supports.filter(col("cnt_one") >= ms).count()
      println(s"""{"probe":"basket_stats","dir":"$dir","n_orders":$nOrders,""" +
        s""""min_support":$ms,"qualifying_parts":$qParts,"n_parts":$nParts,""" +
        s""""candidate_pair_occurrences":$occ,"distinct_pair_keys":$keys}""")
    }
    spark.stop()
  }
}
