package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scale-up generator for bench-only data: writes `copies`× the source
  * scale factor by unioning key-shifted copies (stride 1e9 per copy, far
  * above any real key). Key shifts are applied consistently across every
  * table of a join domain — orders.o_custkey, customer.c_custkey, and
  * events.user_id all shift together — so join selectivity per copy is
  * preserved and the result behaves like a genuinely larger dataset, not
  * ten disjoint ones. Dimension tables (nation/region) are NOT scaled,
  * matching how dims grow in real warehouses.
  *
  * Two content modes for documents/embeddings (VERDICT r7 #6):
  *  - verbatim (default): each document gains copies−1 exact twins, so
  *    every near-dup metric is OUTPUT-QUADRATIC by construction — any
  *    exact algorithm pays the true-pair blowup. Good for exercising
  *    the distributed CC tier; useless for separating candidate-side
  *    growth from true-pair growth.
  *  - `--perturb`: deterministic token/element noise keyed off
  *    (id, copy index) — no rand(). Exactly ONE designated copy per
  *    source doc/vector is LIGHTLY perturbed (a single token edit /
  *    tiny element jitter → still a near-duplicate); every other copy
  *    is HEAVILY perturbed (7/8 of distinct tokens rewritten /
  *    hash-keyed sign flips → decorrelated, effectively a new
  *    document). True near-dup pairs therefore stay ≈ |source corpus|
  *    (bounded rate, linear in scale) while the candidate side grows
  *    with the corpus — the separation a scale probe needs.
  *
  * `--zipf` (VERDICT r11 #4): every scale corpus above is UNIFORM in its
  * join keys, but real 100 TB data is Zipf-skewed — which is what AQE
  * skew splitting, the salted join, and the a27 Apriori prune exist
  * for. The flag remaps the fact-side FK columns (lineitem.l_partkey,
  * orders.o_custkey, events.user_id) through a deterministic Zipf(1.1)
  * draw: per ROW (hash of the row's primary id — the same source row
  * re-points consistently across reruns, different rows independently),
  * u = (hash mod 1e6 + .5)/1e6, rank = floor(u^(-1/(s-1))) so
  * P(rank ≥ x) = x^(1-s), folded into the scaled key domain by
  * pmod (the residual tail mass past |keys| spreads ~uniformly — a hot
  * head over an elevated floor, the standard web-workload shape). The
  * domain is [0, nBase·copies) mapped back to the shifted-copy key
  * layout, so referential integrity against the scaled dimensions is
  * preserved exactly; at s=1.1 the hottest key draws ~6.7% of ALL fact
  * rows (1.2M lineitems on one part at sf3z) — genuine skew-join
  * territory. Dims and primary keys are untouched: l_orderkey keeps
  * its order↔lineitem association (a Zipf orderkey would fabricate
  * million-item baskets no real workload has).
  *
  * `--zipfdocs` (VERDICT r12 #5): `--perturb` keeps duplicate-CLASS
  * sizes uniform (each source doc gets one light twin), but a real
  * crawl's duplicate classes are Zipf — one boilerplate page with tens
  * of thousands of near-copies. The flag rebuilds the replica copies of
  * `documents` as near-duplicates of a Zipf(1.1)-drawn TARGET source
  * doc (single-token edit salted by the replica's own id, the same
  * guarantee as the light twin): the hottest target's class collects
  * ~6.7% of ALL docs (P(rank=1) = 1 − 2^(1−s)), e.g. a ~10k-member
  * near-dup class at 30× over sf0.1 — the corpus shape that exposes
  * per-class quadratic work that uniform twins can never reach. Copy 0
  * stays the verbatim source corpus. Pair-emitting ops are expected to
  * be OUTPUT-quadratic here (a c-member class genuinely has C(c,2)
  * qualifying pairs); class/forest-emitting ops (dedup groups,
  * canonical picks, CC) must stay linear.
  *
  * Usage: runMain graft.tools.MakeSf <srcSfDir> <dstDir> <copies>
  *   [--perturb] [--zipf] [--zipfdocs]
  * (bench data only — no oracle covers the scaled output.)
  */
object MakeSf {
  val stride = 1000000000L
  val ZipfS = 1.1

  /** Zipf(ZipfS) key draw over the scaled domain of `nBase·copies`
    * contiguous-from-0 base keys replicated at `stride` offsets.
    */
  private[graft] def zipfKey(rowHash: org.apache.spark.sql.Column, nBase: Long,
                             copies: Int): org.apache.spark.sql.Column = {
    val m = nBase * copies
    val u = (pmod(rowHash.cast("long"), lit(1000000L)).cast("double") + lit(0.5)) / 1000000.0
    val rank = least(pow(u, lit(-1.0 / (ZipfS - 1.0))), lit(9.0e17)).cast("long")
    val idx = pmod(rank - 1, lit(m))
    // Column./ is DOUBLE division — integer copy index needs floor+cast.
    idx % nBase + floor(idx / lit(nBase)).cast("long") * lit(stride)
  }

  def main(args: Array[String]): Unit = {
    val (src, dst, copies) = (args(0), args(1), args(2).toInt)
    val perturb = args.drop(3).contains("--perturb")
    val zipf = args.drop(3).contains("--zipf")
    val zipfDocs = args.drop(3).contains("--zipfdocs")
    val spark = graft.Sessions.local()
    run(spark, src, dst, copies, perturb, zipf, zipfDocs)
    spark.stop()
  }

  /** Light iff this copy is the source row's ONE designated near-dup
    * twin: k == 1 + (hash(id) mod (copies-1)). Copy 0 is the verbatim
    * original in both modes.
    */
  private def isLightTwin(idCol: String, k: Int, copies: Int) =
    lit(k) === lit(1) + pmod(hash(col(idCol)), lit(math.max(copies - 1, 1)))

  /** Light perturbation: EXACTLY ONE token position (hash-chosen per
    * (id, copy)) rewritten to a copy-tagged replacement — the canonical
    * single-edit near-duplicate, with token-set Jaccard ≥ (v−1)/(v+1)
    * guaranteed for a doc of v distinct tokens regardless of its length
    * or repetition structure.
    */
  private[graft] def perturbText(textCol: String, idCol: String,
                                 k: Int): org.apache.spark.sql.Column =
    array_join(
      expr(s"transform(split($textCol, ' '), (w, i) -> " +
        s"IF(i = pmod(hash($idCol, $k), size(split($textCol, ' '))), " +
        s"concat('pz', pmod(hash(w, $k), 997)), w))"),
      " ")

  /** Heavy perturbation: 7/8 of DISTINCT tokens rewritten — the flip is
    * keyed per (id, copy, token), so EVERY occurrence of a flipped word
    * changes and the token SET keeps only ~1/8 of the original (these
    * short synthetic docs are highly repetitive, so per-position
    * flipping would leave the set nearly intact). Replacements are
    * salted by (token, copy) only, so heavy copies across different
    * docs still share a common pseudo-vocabulary (df distributions stay
    * corpus-like) without recreating the original's content.
    */
  private[graft] def scrambleText(textCol: String, idCol: String,
                                  k: Int): org.apache.spark.sql.Column =
    array_join(
      expr(s"transform(split($textCol, ' '), w -> " +
        s"IF(pmod(hash($idCol, $k, w), 8) != 0, concat('pz', pmod(hash(w, $k), 997)), w))"),
      " ")

  def run(spark: SparkSession, src: String, dst: String, copies: Int,
          perturb: Boolean = false, zipf: Boolean = false,
          zipfDocs: Boolean = false): Unit = {

    // (fact table → FK column to skew, domain table:key, row-id columns
    // the per-row draw hashes). Base domains are contiguous from 0 in
    // the synthetic corpus (asserted), so idx↔key mapping is direct.
    val zipfSpecs: Map[String, (String, (String, String), Seq[String])] = Map(
      "lineitem" -> (("l_partkey", ("part", "p_partkey"), Seq("l_orderkey", "l_linenumber"))),
      "orders"   -> (("o_custkey", ("customer", "c_custkey"), Seq("o_orderkey"))),
      "events"   -> (("user_id", ("events", "user_id"), Seq("event_id"))))

    def domainSize(table: String, key: String): Long = {
      val r = Tables.load(spark, src, table)
        .agg(min(col(key)).cast("long"), max(col(key)).cast("long")).head()
      require(r.getLong(0) == 0L, s"$table.$key domain must start at 0 (got ${r.getLong(0)})")
      r.getLong(1) + 1
    }

    /** `--zipfdocs` documents: copy 0 verbatim; every replica is a
      * single-token-edit near-dup of a Zipf(1.1)-drawn target source
      * doc (edit position/content salted by the replica's OWN unique
      * id, so same-target replicas are distinct near-dups, not exact
      * copies). lang/source keep the replica's own row's values so the
      * source distribution is preserved; n_chars re-derives from the
      * rewritten text.
      */
    def writeZipfDocs(): Unit = {
      val base = Tables.load(spark, src, "documents")
      val nBase = domainSize("documents", "doc_id")
      val targets = base.select(col("doc_id").as("target_id"),
        col("text").as("target_text"))
      val reps = (1 until copies).map { k =>
        base.select(
          (col("doc_id") + lit(k.toLong * stride)).as("doc_id"),
          zipfKey(hash(col("doc_id"), lit(k), lit("zipfdocs")), nBase, 1)
            .as("target_id"),
          col("lang"), col("source"))
      }.reduce(_ unionAll _)
      val repDocs = reps.join(targets, "target_id")
        .withColumn("text", perturbText("target_text", "doc_id", 0))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
      base.select("doc_id", "text", "lang", "source", "n_chars")
        .unionAll(repDocs)
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
      println(s"[makesf] documents: ${copies}x zipf duplicate classes " +
        s"(hot class ~6.7% of corpus)")
    }

    def write(name: String, keys: Seq[String]): Unit = {
      if (name == "documents" && zipfDocs) { writeZipfDocs(); return }
      val base = Tables.load(spark, src, name)
      def content(df: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
        if (!perturb || k == 0) df
        else name match {
          case "documents" =>
            val light = isLightTwin("doc_id", k, copies)
            df.withColumn("text",
              when(light, perturbText("text", "doc_id", k))
                .otherwise(scrambleText("text", "doc_id", k)))
          case "embeddings" =>
            val light = isLightTwin("vec_id", k, copies)
            // light: ±0.5% element jitter (cosine stays ~1); heavy: a
            // hash-keyed component ROTATION + per-dim sign flips — the
            // rotation breaks alignment with the original's mass
            // distribution (sign flips alone leave cos = Σ s_d·x_d²/‖x‖²,
            // which stays large for skewed vectors), driving cosine well
            // below the 0.4 near-dup threshold.
            df.withColumn("embedding",
              when(light, expr(s"transform(embedding, (x, i) -> CAST(x * " +
                s"(1.0 + (pmod(hash(vec_id, $k, i), 11) - 5) / 1000.0) AS FLOAT))"))
                .otherwise(expr(s"transform(embedding, (x, i) -> CAST(" +
                  s"element_at(embedding, CAST(pmod(i + 1 + pmod(hash(vec_id, $k), " +
                  s"size(embedding) - 1), size(embedding)) AS INT) + 1) * " +
                  s"(pmod(hash(vec_id, $k, i), 2) * 2 - 1) AS FLOAT))")))
          case _ => df
        }
      val scaled =
        if (keys.isEmpty) base
        else (0 until copies).map { k =>
          keys.foldLeft(content(base, k))((df, c) => df.withColumn(c, col(c) + lit(k * stride)))
        }.reduce(_ unionAll _)
      val out = zipfSpecs.get(name).filter(_ => zipf) match {
        case Some((fk, (domTable, domKey), rowId)) =>
          val nBase = domainSize(domTable, domKey)
          scaled.withColumn(fk,
            zipfKey(hash(rowId.map(col) :+ lit("zipf"): _*), nBase, copies))
        case None => scaled
      }
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      val mode = if (keys.isEmpty) "dim copy"
        else s"${copies}x on ${keys.mkString(",")}${if (perturb) " (perturbed)" else ""}" +
          (if (zipf && zipfSpecs.contains(name)) s" (zipf ${zipfSpecs(name)._1})" else "")
      println(s"[makesf] $name: $mode")
    }

    write("region", Nil)
    write("nation", Nil)
    write("customer", Seq("c_custkey"))
    write("supplier", Seq("s_suppkey"))
    write("part", Seq("p_partkey"))
    write("orders", Seq("o_orderkey", "o_custkey"))
    write("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    write("events", Seq("event_id", "user_id"))
    write("documents", Seq("doc_id"))
    write("embeddings", Seq("vec_id"))
  }
}
