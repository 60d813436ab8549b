package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dialect.Dialect._
import graft.engine.DagRunner
import graft.functions.GraftFunctions
import graft.operators.QueryDef
import graft.sources.Tables

/** Corpus-statistics operators for training-data curation: unigram
  * language-model scoring (the classic "perplexity-ish" quality filter
  * — rare-word-heavy documents score low), per-document TF-IDF keyword
  * extraction, and embedding-centroid outlier detection (mislabeled /
  * off-distribution vectors score low against their own class mean).
  *
  * Cross-engine determinism: every per-word/per-element statistic is
  * quantized to a scaled BIGINT (`floor(x·10^6 + 0.5)`) BEFORE any
  * multi-row summation, so the reductions are exact integer arithmetic
  * — order-independent, hash-identical in Spark and DuckDB — and the
  * only floating-point steps left are per-row divisions of identical
  * inputs. (A double sum's value depends on partition order; an
  * integer sum's does not.)
  *
  * Scale notes (100 TB corpus):
  *  - tokens are aggregated to (doc_id, word) FIRST — the map-side
  *    combine collapses each document's repeats, so the word-keyed
  *    shuffle carries |doc vocab| rows, not |tokens|, and the hot-word
  *    skew ("the" in every doc) is bounded at one row per document
  *    (AQE skew-join splitting covers the residual imbalance);
  *  - the corpus vocabulary joins back by word — a plain shuffled
  *    equi-join that scales with vocab size, never a broadcast of an
  *    unbounded dictionary; the one genuinely global scalar (corpus
  *    token total / document count) is a 1-row broadcast;
  *  - the embedding centroid is a (label, pos) partial-sum aggregate —
  *    64·|labels| rows out of any corpus size — then a broadcast back
  *    over the fused codegen'd `cosine_sim` scan.
  */
object CorpusOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** (doc_id, word, tf) — shared token-frequency base for the two text
    * rows; same space-split convention as `j5_explode_words` /
    * `llm_token_count`.
    */
  private def docWords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(splitLit(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  /** Unigram LM scoring: each word's corpus log-probability
    * log10(cnt/total), quantized to 1e-6, then the per-document
    * token-weighted mean. `avg_logp` near the corpus ceiling means
    * common-word text; very negative means rare-token noise — the
    * standard cheap LM-quality proxy (CCNet-style) before a real LM.
    */
  private val unigramLm = QueryDef(
    "llm_unigram_lm",
    (s, dir) => {
      val dw = docWords(t(s, dir, "documents"))
      val vocab = dw.groupBy("word").agg(sum("tf").as("cnt"))
      val total = vocab.agg(sum("cnt").as("total"))
      val scored = vocab.crossJoin(broadcast(total))
        .withColumn("lp6",
          floor(log10(col("cnt") / col("total")) * lit(1e6) + lit(0.5)).cast("long"))
        .select("word", "lp6")
      // MERGE hint: both sides are corpus-proportional (per-doc vocab ×
      // corpus vocab). Left to runtime stats, AQE sometimes converts a
      // multi-million-row side into a broadcast hash relation — a
      // single-threaded build that benched 10-30x the sort-merge join.
      dw.hint("MERGE").join(scored, "word")
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("lp6")).as("s6"), sum("tf").as("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          roundTo(col("s6") / (col("n_tokens") * lit(1e6)), 4).as("avg_logp"))
        .orderBy("doc_id")
    },
    Some("""WITH tokens AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
           |doc_words AS (
           |  SELECT doc_id, word, count(*) AS tf FROM tokens GROUP BY doc_id, word),
           |vocab AS (SELECT word, sum(tf) AS cnt FROM doc_words GROUP BY word),
           |tot AS (SELECT sum(cnt) AS total FROM vocab),
           |scored AS (
           |  SELECT word,
           |    CAST(floor(log10(cnt / total) * 1000000.0 + 0.5) AS BIGINT) AS lp6
           |  FROM vocab, tot)
           |SELECT d.doc_id, CAST(sum(d.tf) AS BIGINT) AS n_tokens,
           |  floor(sum(d.tf * s.lp6) / (sum(d.tf) * 1000000.0) * 10000.0 + 0.5)
           |    / 10000.0 AS avg_logp
           |FROM doc_words d JOIN scored s USING (word)
           |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin))

  /** TF-IDF keyword extraction: idf = log10(N/df) quantized to 1e-6,
    * score = tf·idf6 (exact BIGINT), top-3 words per document with a
    * deterministic (score DESC, word) tiebreak. The rank filter plans
    * as WindowGroupLimit, so each shuffle partition ships at most 3
    * rows per document to the sort.
    */
  private val tfidfTopk = QueryDef(
    "llm_tfidf_topk",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val dw = docWords(docs)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      // sum(when(tf > 0, 1)), not count(*): tf >= 1 by construction so
      // the value is identical, but count(*) (or count(tf), which
      // Catalyst rewrites to count(1)) lets the optimizer column-prune
      // this branch's (doc_id, word) subtree into a DIFFERENT canonical
      // plan than the join's left side — two tokenize passes over the
      // corpus. The tf-dependent form keeps the subtrees identical, so
      // AQE computes the tokenize shuffle ONCE and feeds both consumers
      // via ReusedExchange (asserted in PlanAuditSpec).
      val dfw = dw.groupBy("word")
        .agg(sum(when(col("tf") > 0, 1L)).as("dfreq"))
        .crossJoin(broadcast(nDocs))
        .withColumn("idf6",
          floor(log10(col("n_docs") / col("dfreq")) * lit(1e6) + lit(0.5)).cast("long"))
        .select("word", "idf6")
      // MERGE hint: same broadcast-conversion guard as llm_unigram_lm.
      dw.hint("MERGE").join(dfw, "word")
        .select(col("doc_id"), col("word"), (col("tf") * col("idf6")).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "word", "score")
        .orderBy("doc_id", "rank")
    },
    Some("""WITH tokens AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
           |doc_words AS (
           |  SELECT doc_id, word, count(*) AS tf FROM tokens GROUP BY doc_id, word),
           |nd AS (SELECT count(*) AS n_docs FROM documents),
           |dfw AS (
           |  SELECT word,
           |    CAST(floor(log10(n_docs / count(*)) * 1000000.0 + 0.5) AS BIGINT) AS idf6
           |  FROM doc_words, nd GROUP BY word, n_docs),
           |scored AS (
           |  SELECT d.doc_id, d.word, d.tf * f.idf6 AS score
           |  FROM doc_words d JOIN dfw f USING (word)),
           |ranked AS (
           |  SELECT doc_id, word, score,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
           |  FROM scored)
           |SELECT doc_id, CAST(rank AS INTEGER) AS rank, word, score
           |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin))

  /** Embedding-centroid outlier detection: per-label mean vector (each
    * element quantized to a scaled BIGINT before the sum, so the
    * centroid is exact), then every vector's cosine against its own
    * class centroid via the fused codegen'd `cosine_sim`. Vectors
    * anti-correlated with their class mean (`cos < 0`) are flagged —
    * the cheap first-pass screen for label noise in an embedding
    * corpus.
    */
  private val embedOutlier = QueryDef(
    "llm_embed_outlier",
    (s, dir) => {
      GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val cent = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "elem")))
        .withColumn("n6",
          floor(col("elem").cast("double") * lit(1e6) + lit(0.5)).cast("long"))
        .groupBy("label", "pos")
        .agg((sum("n6") / (count(lit(1)) * lit(1e6))).as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label"), expr("transform(pc, x -> x.c)").as("centroid"))
      emb.join(broadcast(cent), "label")
        .withColumn("cos_centroid",
          roundTo(call_function("cosine_sim", col("embedding"), col("centroid")), 6))
        .select(col("vec_id"), col("label"), col("cos_centroid"),
          (col("cos_centroid") < 0.0).as("is_outlier"))
        .orderBy("vec_id")
    },
    Some("""WITH elems AS (
           |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
           |    unnest(embedding) AS elem
           |  FROM embeddings),
           |cent AS (
           |  SELECT label, pos,
           |    sum(CAST(floor(CAST(elem AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
           |      / (count(*) * 1000000.0) AS c
           |  FROM elems GROUP BY label, pos),
           |pairs AS (
           |  SELECT e.vec_id, e.label, CAST(e.elem AS DOUBLE) AS x, c.c AS y
           |  FROM elems e JOIN cent c ON c.label = e.label AND c.pos = e.pos),
           |scored AS (
           |  SELECT vec_id, label,
           |    floor(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y)))
           |          * 1000000.0 + 0.5) / 1000000.0 AS cos_centroid
           |  FROM pairs GROUP BY vec_id, label)
           |SELECT vec_id, label, cos_centroid, cos_centroid < 0.0 AS is_outlier
           |FROM scored ORDER BY vec_id""".stripMargin))

  /** Per-document bigram-LM aggregate `(doc_id, s6, n_bigrams)`:
    * p(w2|w1) = c(w1 w2) / c(w1 ·) over the corpus, quantized per
    * bigram to 1e-6 log10 units, weighted by the doc's bigram counts —
    * one LM order deeper than [[unigramLm]], catching word-salad text
    * whose unigram profile looks normal. The context count derives
    * from the bigram table itself (c(w1·) = Σ_w2 c(w1 w2)), so the two
    * statistics share one tokenize pipeline; docs with fewer than 2
    * words have no bigrams and are absent from the result (both
    * engines agree by construction). Shared by [[bigramLm]] (the score
    * report) and [[pplBuckets]] (the CCNet head/middle/tail
    * partition); `s6` is the Σ tf·log10 p numerator in exact 1e-6
    * BIGINT units.
    */
  private def bigramDocAgg(s: SparkSession, dir: String): DataFrame = {
    // Docs with < 2 words have no bigrams and emit nothing from
    // Grams.ngramWords (the DuckDB side's empty generate_series drops
    // them the same way).
    val dwb = Grams.ngramWords(t(s, dir, "documents"),
        splitLit(col("text"), " "), 2)
      .select(col("doc_id"), col("w_1").as("w1"), col("w_2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tfb"))
    val cb = dwb.groupBy("w1", "w2").agg(sum("tfb").as("cnt"))
    val cf = cb.groupBy("w1").agg(sum("cnt").as("ctx"))
    // MERGE hints: the bigram vocabulary is corpus-proportional on
    // both sides of both joins — never let runtime stats promote one
    // to a broadcast hash build (observed 65-196 s vs ~5 s merged).
    val scored = cb.hint("MERGE").join(cf, "w1")
      .withColumn("lp6",
        floor(log10(col("cnt") / col("ctx")) * lit(1e6) + lit(0.5)).cast("long"))
      .select("w1", "w2", "lp6")
    dwb.hint("MERGE").join(scored, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(col("tfb") * col("lp6")).as("s6"), sum("tfb").as("n_bigrams"))
  }

  /** DuckDB CTE chain mirroring [[bigramDocAgg]]; `docsc` ends at
    * `(doc_id, s6, n_bigrams)`.
    */
  private val bigramOracleCtes =
    """words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(w) - 1, 0)),
      |    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
      |  FROM words),
      |dwb AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS tfb
      |  FROM bg GROUP BY doc_id, b.w1, b.w2),
      |cb AS (SELECT w1, w2, sum(tfb) AS cnt FROM dwb GROUP BY w1, w2),
      |cf AS (SELECT w1, sum(cnt) AS ctx FROM cb GROUP BY w1),
      |scored AS (
      |  SELECT cb.w1, cb.w2,
      |    CAST(floor(log10(cnt / ctx) * 1000000.0 + 0.5) AS BIGINT) AS lp6
      |  FROM cb JOIN cf USING (w1)),
      |docsc AS (
      |  SELECT d.doc_id, CAST(sum(d.tfb * s.lp6) AS BIGINT) AS s6,
      |         CAST(sum(d.tfb) AS BIGINT) AS n_bigrams
      |  FROM dwb d JOIN scored s USING (w1, w2)
      |  GROUP BY d.doc_id)""".stripMargin

  /** Per-document average bigram log-probability ([[bigramDocAgg]]
    * rendered to 1e-4 precision).
    */
  private val bigramLm = QueryDef(
    "llm_bigram_lm",
    (s, dir) => {
      bigramDocAgg(s, dir)
        .select(col("doc_id"), col("n_bigrams"),
          roundTo(col("s6") / (col("n_bigrams") * lit(1e6)), 4).as("avg_logp2"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $bigramOracleCtes
           |SELECT doc_id, n_bigrams,
           |  floor(s6 / (n_bigrams * 1000000.0) * 10000.0 + 0.5)
           |    / 10000.0 AS avg_logp2
           |FROM docsc ORDER BY doc_id""".stripMargin))

  /** CCNet-style perplexity partition (Wenzek et al., "CCNet:
    * extracting high-quality monolingual datasets from web crawl
    * data", LREC 2020): split the corpus into head / middle / tail
    * tertiles by LM score — head trains, tail is discarded or
    * re-filtered. Scores come from the shared [[bigramDocAgg]]
    * pipeline, quantized to 1e-4 BIGINT units.
    *
    * The tertile cuts are EXACT order statistics computed without a
    * global row sort: scores aggregate to a histogram keyed by the
    * quantized score (bounded cardinality — the 1e-4 grid over the
    * log10-prob range is ≤ ~100k cells no matter the corpus size), the
    * cumulative count runs over that small histogram, and the two cut
    * values broadcast back for a map-side label. Ties at a cut share
    * the lower bucket, so the split is deterministic cross-engine.
    */
  private val pplBuckets = QueryDef(
    "llm_ppl_buckets",
    (s, dir) => {
      // Lazy checkpoint: the per-doc score frame (docs-sized, tiny next
      // to the bigram tokenize it summarizes) feeds the histogram
      // branch AND the final projection; their different column
      // pruning canonicalizes the two subtrees differently, so
      // ReuseExchange does NOT fire and the whole bigram pipeline ran
      // twice (r15, guide §5 — same pattern as llm_nb_classifier; no
      // cross-run reuse, a new run plans a new frame).
      val scores = bigramDocAgg(s, dir)
        .withColumn("score6",
          floor(col("s6") / (col("n_bigrams") * lit(1e6)) * lit(1e4) + lit(0.5))
            .cast("long"))
        .localCheckpoint(false)
      // The corpus total rides the same window pass as the cumsum (the
      // in-window idiom qualityBuckets uses) — a separate agg branch
      // would re-derive the whole bigram pipeline for one scalar and
      // lean on AQE ReuseExchange to dodge it.
      val hist = scores.groupBy("score6").agg(count(lit(1)).as("c"))
        .select(col("score6"), col("c"),
          sum("c").over(Window.orderBy("score6")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
          sum("c").over(Window.partitionBy(lit(1))).as("n"))
      val cuts = hist.agg(
        min(when(col("cum") >= ceil(col("n") / lit(3.0)), col("score6"))).as("c1"),
        min(when(col("cum") >= ceil(col("n") * 2 / lit(3.0)), col("score6"))).as("c2"))
      scores.crossJoin(broadcast(cuts))
        .select(col("doc_id"),
          (col("score6") / lit(1e4)).as("avg_logp2"),
          when(col("score6") <= col("c1"), "tail")
            .when(col("score6") <= col("c2"), "middle")
            .otherwise("head").as("ppl_bucket"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $bigramOracleCtes,
           |sc AS (
           |  SELECT doc_id, CAST(floor(s6 / (n_bigrams * 1000000.0) * 10000.0
           |    + 0.5) AS BIGINT) AS score6
           |  FROM docsc),
           |hist AS (SELECT score6, count(*) AS c FROM sc GROUP BY 1),
           |cum AS (
           |  SELECT score6, sum(c) OVER (ORDER BY score6
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    sum(c) OVER () AS n
           |  FROM hist),
           |cuts AS (
           |  SELECT
           |    min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) / 3.0)
           |        THEN score6 END) AS c1,
           |    min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * 2 / 3.0)
           |        THEN score6 END) AS c2
           |  FROM cum)
           |SELECT doc_id, CAST(score6 AS DOUBLE) / 10000.0 AS avg_logp2,
           |  CASE WHEN score6 <= c1 THEN 'tail'
           |       WHEN score6 <= c2 THEN 'middle'
           |       ELSE 'head' END AS ppl_bucket
           |FROM sc, cuts ORDER BY doc_id""".stripMargin))

  /** Character-entropy quality signal (log10 units): near-zero entropy
    * means repeated-character noise, unusually high means binary
    * garbage — the cheap Shannon screen before LM scoring. Each
    * (doc, char) term p·(−log10 p) is quantized to 1e-6 BEFORE the
    * per-doc sum (exact BIGINT reduction, same discipline as the LM
    * rows); the whole query is one explode + two keyed aggregates, no
    * joins.
    */
  private val charEntropy = QueryDef(
    "llm_char_entropy",
    (s, dir) => {
      // split on the literal empty pattern (not Pattern.quote("") —
      // "\\Q\\E" — whose behavior around empty matches is murkier):
      // both engines yield exactly one element per character.
      val perChar = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("nc"))
      perChar
        .withColumn("n", sum("nc").over(Window.partitionBy("doc_id")))
        .withColumn("term6",
          floor((col("nc") / col("n")) * -log10(col("nc") / col("n")) * lit(1e6) +
            lit(0.5)).cast("long"))
        .groupBy("doc_id")
        .agg(max("n").as("n_chars_counted"),
          count(lit(1)).as("distinct_chars"),
          roundTo(sum("term6") / lit(1e6), 4).as("entropy10"))
        .orderBy("doc_id")
    },
    Some("""WITH chars AS (
           |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
           |per_char AS (
           |  SELECT doc_id, ch, count(*) AS nc FROM chars GROUP BY doc_id, ch),
           |with_n AS (
           |  SELECT doc_id, nc, sum(nc) OVER (PARTITION BY doc_id) AS n
           |  FROM per_char)
           |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars_counted,
           |  count(*) AS distinct_chars,
           |  floor(sum(CAST(floor((nc / n) * -log10(nc / n) * 1000000.0 + 0.5)
           |                 AS BIGINT)) / 1000000.0 * 10000.0 + 0.5) / 10000.0
           |    AS entropy10
           |FROM with_n GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** CCNet-style quality bucketing: score every document with the cheap
    * corpus LM ([[unigramLm]]'s token-weighted mean log-probability),
    * then split the corpus into head / middle / tail at the 30% / 70%
    * corpus quantiles of that score — the standard "keep the head,
    * maybe the middle, drop the tail" curation gate.
    *
    * The quantile cutoffs are EXACT but never globally sorted: the
    * per-doc score is quantized to a 1e-4 grid (`q4`, a BIGINT), so a
    * `GROUP BY q4` histogram has bounded cardinality (the score range
    * over a 1e-4 grid — thousands of rows from any corpus size). The
    * cumulative count runs in one window over that small histogram, the
    * two cutoff values reduce to a single row, and the bucket label is
    * a broadcast-compare back on the scan. At 100 TB this is the same
    * shape as the LM row itself plus one bounded histogram aggregate —
    * no global ntile/rank window over the corpus (which Spark would
    * execute in ONE task), no driver-side sort.
    *
    * Boundary semantics are all-or-nothing per grid cell: a bucket
    * whose cumulative count crosses the quota stays OUT of the upper
    * tier (`cum·10 ≤ n·k` in exact integer arithmetic), so ties on the
    * quantized score can never straddle a cutoff and the result is
    * hash-stable cross-engine.
    */
  private val qualityBuckets = QueryDef(
    "llm_quality_buckets",
    (s, dir) => {
      val dw = docWords(t(s, dir, "documents"))
      val vocab = dw.groupBy("word").agg(sum("tf").as("cnt"))
      val total = vocab.agg(sum("cnt").as("total"))
      val scored = vocab.crossJoin(broadcast(total))
        .withColumn("lp6",
          floor(log10(col("cnt") / col("total")) * lit(1e6) + lit(0.5)).cast("long"))
        .select("word", "lp6")
      // Shared (doc_id, s6, n_tokens) subtree: built once, referenced by
      // the histogram branch and the final projection — identical
      // canonical plans, so ReuseExchange evaluates the tokenize + LM
      // join once (the same discipline PlanAuditSpec pins for TF-IDF).
      val docScores = dw.hint("MERGE").join(scored, "word")
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("lp6")).as("s6"), sum("tf").as("n_tokens"))
        .withColumn("q4",
          floor(col("s6") / (col("n_tokens") * lit(1e6)) * lit(1e4) + lit(0.5))
            .cast("long"))
      val hist = docScores.groupBy("q4").agg(count(lit(1)).as("cnt"))
      val wDesc = Window.orderBy(col("q4").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("q4"),
        sum("cnt").over(wDesc).as("cum"),
        sum("cnt").over(Window.partitionBy(lit(1))).as("n"))
      val cuts = cum.agg(
        min(when(col("cum") * 10 <= col("n") * 3, col("q4"))).as("c_head"),
        min(when(col("cum") * 10 <= col("n") * 7, col("q4"))).as("c_mid"))
      docScores.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_tokens"),
          roundTo(col("s6") / (col("n_tokens") * lit(1e6)), 4).as("avg_logp"),
          when(col("q4") >= coalesce(col("c_head"), lit(Long.MaxValue)), "head")
            .when(col("q4") >= coalesce(col("c_mid"), lit(Long.MaxValue)), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    },
    Some("""WITH tokens AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
           |doc_words AS (
           |  SELECT doc_id, word, count(*) AS tf FROM tokens GROUP BY doc_id, word),
           |vocab AS (SELECT word, sum(tf) AS cnt FROM doc_words GROUP BY word),
           |tot AS (SELECT sum(cnt) AS total FROM vocab),
           |scored AS (
           |  SELECT word,
           |    CAST(floor(log10(cnt / total) * 1000000.0 + 0.5) AS BIGINT) AS lp6
           |  FROM vocab, tot),
           |doc_scores AS (
           |  SELECT d.doc_id, CAST(sum(d.tf * s.lp6) AS BIGINT) AS s6,
           |         CAST(sum(d.tf) AS BIGINT) AS n_tokens
           |  FROM doc_words d JOIN scored s USING (word) GROUP BY d.doc_id),
           |q AS (
           |  SELECT doc_id, n_tokens, s6,
           |    CAST(floor(s6 / (n_tokens * 1000000.0) * 10000.0 + 0.5) AS BIGINT) AS q4
           |  FROM doc_scores),
           |hist AS (SELECT q4, count(*) AS cnt FROM q GROUP BY q4),
           |cum AS (
           |  SELECT q4,
           |    sum(cnt) OVER (ORDER BY q4 DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    sum(cnt) OVER () AS n
           |  FROM hist),
           |cuts AS (
           |  SELECT min(CASE WHEN cum * 10 <= n * 3 THEN q4 END) AS c_head,
           |         min(CASE WHEN cum * 10 <= n * 7 THEN q4 END) AS c_mid
           |  FROM cum)
           |SELECT doc_id, n_tokens,
           |  floor(s6 / (n_tokens * 1000000.0) * 10000.0 + 0.5) / 10000.0 AS avg_logp,
           |  CASE WHEN q4 >= coalesce(c_head, 9223372036854775807) THEN 'head'
           |       WHEN q4 >= coalesce(c_mid, 9223372036854775807) THEN 'middle'
           |       ELSE 'tail' END AS bucket
           |FROM q, cuts ORDER BY doc_id""".stripMargin))

  /** Per-source domain-drift screen: KL(P_s ‖ P) of each source's
    * unigram distribution against the corpus distribution, in log10
    * units — the standard corpus-monitoring statistic for spotting a
    * crawl source whose content shifted (a KL spike on yesterday's
    * ingest is the alarm). Same quantization discipline as the LM
    * rows: the per-word log-ratio is floored to 1e-6 BIGINT units and
    * weighted by the INTEGER source-word count, so the per-source
    * reduction is exact whatever the partial-sum order.
    *
    * Scale shape: one (source, word) aggregate (map-side partial), a
    * broadcast of the per-source totals, and a word-keyed MERGE join
    * of two corpus-vocabulary-proportional sides — never a broadcast
    * of either (the AQE hazard the LM rows document).
    */
  private val domainKl = QueryDef(
    "llm_domain_kl",
    (s, dir) => {
      val sw = t(s, dir, "documents")
        .select(col("source"), explode(splitLit(col("text"), " ")).as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("c_sw"))
      val ts = sw.groupBy("source").agg(sum("c_sw").as("t_s"))
      val cw = sw.groupBy("word").agg(sum("c_sw").as("c_w"))
      val tot = cw.agg(sum("c_w").as("total"))
      sw.join(broadcast(ts), "source")
        .hint("MERGE").join(cw, "word")
        .crossJoin(broadcast(tot))
        .withColumn("lr6",
          floor(log10((col("c_sw") / col("t_s")) / (col("c_w") / col("total"))) *
            lit(1e6) + lit(0.5)).cast("long"))
        .groupBy("source")
        .agg(sum(col("c_sw") * col("lr6")).as("s6"), max("t_s").as("n_tokens"))
        .select(col("source"), col("n_tokens"),
          roundTo(col("s6") / (col("n_tokens") * lit(1e6)), 6).as("kl10"))
        .orderBy("source")
    },
    Some("""WITH toks AS (
           |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
           |sw AS (SELECT source, word, count(*) AS c_sw FROM toks GROUP BY 1, 2),
           |ts AS (SELECT source, sum(c_sw) AS t_s FROM sw GROUP BY 1),
           |cw AS (SELECT word, sum(c_sw) AS c_w FROM sw GROUP BY 1),
           |tot AS (SELECT sum(c_w) AS total FROM cw),
           |terms AS (
           |  SELECT s.source, s.c_sw, t.t_s,
           |    CAST(floor(log10((CAST(s.c_sw AS DOUBLE) / t.t_s)
           |      / (CAST(c.c_w AS DOUBLE) / tot.total)) * 1000000.0 + 0.5)
           |      AS BIGINT) AS lr6
           |  FROM sw s JOIN ts t USING (source) JOIN cw c USING (word), tot)
           |SELECT source, CAST(max(t_s) AS BIGINT) AS n_tokens,
           |  floor(sum(c_sw * lr6) / (max(t_s) * 1000000.0) * 1000000.0 + 0.5)
           |    / 1000000.0 AS kl10
           |FROM terms GROUP BY source ORDER BY source""".stripMargin))

  /** BM25 top-k sparse retrieval — the lexical sibling of the cosine
    * top-k family (`SimilarityOps`): given a small query set (eval docs
    * `doc_id < 10`, same convention as `llm_decontaminate`), retrieve
    * the 5 highest-scoring train docs per query under Okapi BM25 with
    * the Lucene idf `ln(1 + (N - df + 0.5)/(df + 0.5))`, k1=1.2,
    * b=0.75 (Robertson & Zaragoza 2009). The practical curation use is
    * benchmark-similarity retrieval: surface the train docs closest to
    * an eval set beyond the exact-shingle overlap decontamination
    * catches.
    *
    * Scale shape — ONE tokenize of the corpus, like
    * `llm_ngram_jaccard`: queries and corpus docs ride one
    * (doc_id, word) tf aggregate, and everything per-word and per-doc
    * comes from two stacked windows over that single stream — the
    * doc-partitioned window carries the document length, the
    * word-partitioned window carries both the document frequency
    * (corpus-side conditional count) and the per-word query list
    * (bounded `collect_list` of query ids, ≤ |Q|). No join builds the
    * idf table and no join attaches lengths, so there is no second
    * tokenize pass (a length JOIN infers `doc_id >= 10` onto its
    * branch and forks the scan — observed two full corpus scans).
    * Matched postings explode the query list. The only other corpus
    * read is the (n_docs, total_len) scalar pair — a shuffle-free
    * split-size reduction with no explode/aggregate, broadcast back.
    * Per-term contributions are quantized to BIGINT before the
    * per-(query, doc) sum (exact integer reduction), and the rank
    * filter plans as WindowGroupLimit. At 100 TB a standing deployment
    * would maintain the postings/df as a materialized index (the
    * sparse analogue of the IVF layout in `SimilarityOps`); this is
    * the index-free form.
    */
  private val bm25Topk = QueryDef(
    "llm_bm25_topk",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // dl (BM25's document length) = Σ_word tf = the doc's token
      // count, which the SCAN already knows as size(words) — carried
      // through the explode and the tf aggregate (constant per doc, so
      // max() is a pass-through), it costs nothing; the historical
      // doc-partitioned window computed the same value with a full
      // extra shuffle + sort of the (doc, word) tf relation (r15,
      // guide §2.4; the word window below is untouched).
      // dl0 is projected BELOW the explode: with size(split) in the
      // same select as explode, ExtractGenerator parks the expression
      // in a Project ABOVE the Generate and the text is re-split once
      // per exploded word (measured 3× the row).
      val dw = docs
        .select(col("doc_id"),
          size(splitLit(col("text"), " ")).cast("long").as("dl0"),
          splitLit(col("text"), " ").as("__ws"))
        .select(col("doc_id"), col("dl0"), explode(col("__ws")).as("word"))
        .groupBy("doc_id", "word")
        .agg(count(lit(1)).as("tf"), max("dl0").as("dl"))
      val wordW = Window.partitionBy("word")
      val matched = dw
        .withColumn("dfreq", sum(when(col("doc_id") >= 10, 1L)).over(wordW))
        .withColumn("qids",
          collect_list(when(col("doc_id") < 10, col("doc_id"))).over(wordW))
        .filter(col("doc_id") >= 10)
        .select(col("doc_id"), col("word"), col("tf"), col("dl"), col("dfreq"),
          explode(col("qids")).as("query_id"))
      val stats = docs.filter(col("doc_id") >= 10)
        .agg(count(lit(1)).as("n_docs"),
          sum(size(splitLit(col("text"), " ")).cast("long")).as("total_len"))
      matched
        .crossJoin(broadcast(stats))
        .withColumn("idf6", floor(log(lit(1.0) +
          (col("n_docs").cast("double") - col("dfreq").cast("double") + lit(0.5)) /
            (col("dfreq").cast("double") + lit(0.5))) * lit(1e6) + lit(0.5)).cast("long"))
        .withColumn("c6", floor(
          (col("idf6").cast("double") / lit(1e6)) *
            (col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
              lit(0.75) * col("dl").cast("double") /
                (col("total_len").cast("double") / col("n_docs").cast("double")))) *
            lit(1e6) + lit(0.5)).cast("long"))
        .groupBy("query_id", "doc_id").agg(sum("c6").as("s6"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("s6").desc, col("doc_id"))))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          roundTo(col("s6") / lit(1e6), 4).as("bm25"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH tokens AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
           |doc_words AS (
           |  SELECT doc_id, word, count(*) AS tf FROM tokens
           |  WHERE doc_id >= 10 GROUP BY doc_id, word),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
           |         FROM doc_words GROUP BY doc_id),
           |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |                 CAST(sum(dl) AS BIGINT) AS total_len FROM dlen),
           |qterms AS (
           |  SELECT DISTINCT doc_id AS query_id, word FROM tokens WHERE doc_id < 10),
           |idf AS (
           |  SELECT word, CAST(floor(ln(1.0 +
           |      (CAST(n_docs AS DOUBLE) - CAST(count(*) AS DOUBLE) + 0.5)
           |      / (CAST(count(*) AS DOUBLE) + 0.5)) * 1000000.0 + 0.5) AS BIGINT) AS idf6
           |  FROM doc_words, stats
           |  WHERE word IN (SELECT word FROM qterms)
           |  GROUP BY word, n_docs),
           |contrib AS (
           |  SELECT q.query_id, d.doc_id,
           |    CAST(floor(
           |      (CAST(i.idf6 AS DOUBLE) / 1000000.0)
           |      * (CAST(d.tf AS DOUBLE) * 2.2)
           |      / (CAST(d.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE)
           |          / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))
           |      * 1000000.0 + 0.5) AS BIGINT) AS c6
           |  FROM doc_words d
           |  JOIN qterms q USING (word)
           |  JOIN idf i USING (word)
           |  JOIN dlen l ON d.doc_id = l.doc_id
           |  CROSS JOIN stats),
           |scores AS (
           |  SELECT query_id, doc_id, CAST(sum(c6) AS BIGINT) AS s6
           |  FROM contrib GROUP BY query_id, doc_id),
           |ranked AS (
           |  SELECT query_id, doc_id, s6,
           |    row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id) AS rank
           |  FROM scores)
           |SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
           |  floor(s6 / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS bm25
           |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every doc by how much more likely its hashed-unigram features are
    * under a target domain (here `lang = 'en'`) than under the raw
    * corpus — `logw = Σ_tokens ln(p_target(bucket)/p_raw(bucket))`
    * with add-1 smoothing over 256 md5-derived buckets. Docs with high
    * `logw` are the ones importance resampling keeps; the selection
    * machinery itself (hash-threshold keep, mixture rates) already
    * exists in `llm_mixture_sample`/`llm_ppl_buckets`.
    *
    * Scale shape: bucket stats are ONE map-side-combinable aggregation
    * (count + conditional count per bucket — raw and target in a single
    * pass, never two corpus scans for the stats), bounded at 256 rows
    * at any corpus size; the per-bucket log-ratio table broadcasts back
    * over a narrow token scan, so the only corpus-sized shuffle is the
    * final per-doc sum. All reductions are BIGINT-quantized (exact
    * cross-engine); the bucket hash reuses the engine-portable
    * md5-hex→int trick of `llm_shuffle_shards`.
    */
  private val dsirWeights = QueryDef(
    "llm_dsir_weights",
    (s, dir) => {
      val bucketed = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(splitLit(col("text"), " ")).as("word"))
        .withColumn("b", expr(
          "(instr('0123456789abcdef', substring(md5(word), 1, 1)) - 1) * 16" +
            " + instr('0123456789abcdef', substring(md5(word), 2, 1)) - 1"))
        .select("doc_id", "lang", "b")
      val bstats = bucketed.groupBy("b").agg(
        count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      val tots = bstats.agg(sum("cr").as("tot_r"), sum("ct").as("tot_t"))
      val lr = bstats.crossJoin(broadcast(tots))
        .withColumn("lr6", floor(log(
          ((col("ct") + lit(1)).cast("double") / (col("tot_t") + lit(256)).cast("double")) /
            ((col("cr") + lit(1)).cast("double") / (col("tot_r") + lit(256)).cast("double"))) *
          lit(1e6) + lit(0.5)).cast("long"))
        .select("b", "lr6")
      bucketed.join(broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("lr6").as("s6"))
        .select(col("doc_id"), col("n_tokens"),
          roundTo(col("s6") / lit(1e6), 4).as("logw"))
        .orderBy("doc_id")
    },
    Some("""WITH tokens AS (
           |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents),
           |bucketed AS (
           |  SELECT doc_id, lang,
           |    (instr('0123456789abcdef', substr(md5(word), 1, 1)) - 1) * 16
           |    + instr('0123456789abcdef', substr(md5(word), 2, 1)) - 1 AS b
           |  FROM tokens),
           |bstats AS (
           |  SELECT b, CAST(count(*) AS BIGINT) AS cr,
           |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
           |  FROM bucketed GROUP BY b),
           |tots AS (SELECT CAST(sum(cr) AS BIGINT) AS tot_r,
           |                CAST(sum(ct) AS BIGINT) AS tot_t FROM bstats),
           |lr AS (
           |  SELECT b,
           |    CAST(floor(ln(
           |      (CAST(ct + 1 AS DOUBLE) / CAST(tot_t + 256 AS DOUBLE))
           |      / (CAST(cr + 1 AS DOUBLE) / CAST(tot_r + 256 AS DOUBLE))
           |    ) * 1000000.0 + 0.5) AS BIGINT) AS lr6
           |  FROM bstats, tots),
           |scored AS (
           |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |    CAST(sum(l.lr6) AS BIGINT) AS s6
           |  FROM bucketed d JOIN lr l USING (b) GROUP BY d.doc_id)
           |SELECT doc_id, n_tokens,
           |  floor(s6 / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS logw
           |FROM scored ORDER BY doc_id""".stripMargin))

  /** Persisted BM25 postings index — the "standing deployment" form
    * `llm_bm25_topk`'s scaladoc promises (a production corpus is
    * indexed once and queried many times; re-tokenizing 100 TB per
    * query set is the index-free fallback). Layout is marker-guarded,
    * source-fingerprinted, stale siblings pruned (mirrors `IvfIndex`),
    * and — unlike the v1 layout — MAINTAINABLE by delta batch
    * (VERDICT r7 #5), which forces `dfreq` OUT of the posting rows:
    * adding one document changes the document frequency of every word
    * it contains, so a denormalized dfreq would dirty postings of
    * UNRELATED documents across arbitrary partitions. Normalized:
    *
    *  - `postings/`: (doc_id, word, tf, dl) PARTITIONED by `wb` (first
    *    2 md5 hex chars of the word, 256 buckets), one file per bucket
    *    — a query-term probe dynamic-partition-prunes to ≤ |query
    *    vocab| buckets; `dl` stays on the row (a document's own length
    *    never changes once indexed).
    *  - `df/`: (word, dfreq) partitioned by the same `wb`.
    *  - `doclens/`: (doc_id, dl) partitioned by `db` (md5 bucket of the
    *    doc id) — the already-indexed set, making [[addDocuments]]
    *    replay-idempotent (re-sent docs are filtered out before any
    *    write, exactly the lake-probe shape of `llm_incremental_dedup`).
    *  - `stats/`: the 1-row (n_docs, total_len) pair.
    */
  private[graft] object Bm25Index {
    private def tokenize(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), explode(splitLit(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    private def wbOf = expr("substring(md5(word), 1, 2)")
    private def dbOf = expr("substring(md5(cast(doc_id as string)), 1, 2)")

    /** Full build of the v2 layout from a document set. */
    def buildInto(s: SparkSession, docs: DataFrame, root: String): Unit = {
      val dw = tokenize(docs)
      val dlen = dw.groupBy("doc_id").agg(sum("tf").as("dl"))
      dw.join(dlen, "doc_id")
        .select(col("doc_id"), col("word"), col("tf"), col("dl"))
        .withColumn("wb", wbOf)
        .repartition(col("wb"))
        .write.mode("overwrite").partitionBy("wb").parquet(s"$root/postings")
      dw.groupBy("word").agg(count(lit(1)).as("dfreq"))
        .withColumn("wb", wbOf)
        .repartition(col("wb"))
        .write.mode("overwrite").partitionBy("wb").parquet(s"$root/df")
      dlen.withColumn("db", dbOf)
        .repartition(col("db"))
        .write.mode("overwrite").partitionBy("db").parquet(s"$root/doclens")
      writeStats(s, root)
    }

    /** Incremental maintenance: index a new-docs batch WITHOUT touching
      * the rest of the index. Only the batch is tokenized; postings and
      * doclens upsert via the engine's composite-key `writeMerge` (so
      * only the batch's `wb`/`db` partitions rewrite); `df` is then
      * RE-DERIVED for the touched buckets from the merged postings —
      * not incremented — so every step is idempotent.
      *
      * Crash-replay contract: the touched-bucket set comes from the
      * whole BATCH, not just its unseen docs, and the df recompute +
      * stats republish run even when every batch doc is already in
      * `doclens` — so a crash between the postings merge and the
      * df/stats refresh (when a replay's unseen set is empty) is
      * repaired by replaying the batch, while a replay of a
      * fully-applied batch leaves postings/doclens byte-identical and
      * re-derives equal df/stats.
      */
    def addDocuments(s: SparkSession, newDocs: DataFrame, root: String): Unit = {
      val known = s.read.parquet(s"$root/doclens").select("doc_id")
      val dwAll = tokenize(newDocs).persist()
      // Persisted + materialized by the emptiness probe below, so the
      // doclens merge consumes the CACHE instead of re-running the
      // anti-join whose lineage reads the doclens path mid-overwrite
      // (the recache-on-overwrite hazard class).
      val dw = dwAll.join(known, Seq("doc_id"), "left_anti").persist()
      try {
        val touched = dwAll.select(wbOf.as("wb")).distinct()
          .collect().map(_.getString(0)).toSeq
        if (touched.isEmpty) return
        val dlen = dw.groupBy("doc_id").agg(sum("tf").as("dl"))
        val newPostings = dw.join(dlen, "doc_id")
          .select(col("doc_id"), col("word"), col("tf"), col("dl"))
          .withColumn("wb", wbOf)
        if (!newPostings.isEmpty) {
          DagRunner.writeMerge(s, newPostings, s"$root/postings",
            Seq("doc_id", "word"), "wb")
          DagRunner.writeMerge(s, dlen.withColumn("db", dbOf), s"$root/doclens",
            Seq("doc_id"), "db")
        }
        // Touched buckets only: recompute dfreq from the POST-MERGE
        // postings state (idempotent, unlike += which double-counts on
        // replay); the scan below partition-prunes to those buckets.
        val dfUpdates = s.read.parquet(s"$root/postings")
          .filter(col("wb").isin(touched: _*))
          .groupBy("word").agg(count(lit(1)).as("dfreq"))
          .withColumn("wb", wbOf)
        DagRunner.writeMerge(s, dfUpdates, s"$root/df", Seq("word"), "wb")
        writeStats(s, root)
      } finally { dw.unpersist(); dwAll.unpersist() }
    }

    /** Live stats generation (pointer-file resolved per read). */
    def statsPath(s: SparkSession, root: String): String =
      graft.sources.Artifacts.generationPath(s, root, "stats")

    /** stats re-derived from doclens (docs-sized, 2 columns) — cheap and
      * idempotent; published as a pointer-flipped generation so a crash
      * mid-republish leaves the previous complete stats table live.
      */
    private def writeStats(s: SparkSession, root: String): Unit =
      graft.sources.Artifacts.publishGeneration(s, root, "stats") { dir =>
        s.read.parquet(s"$root/doclens")
          .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }

    /** The corpus index (docs with doc_id >= 10), built once per source
      * fingerprint.
      */
    def ensure(s: SparkSession, dir: String): String =
      ensureRoot(s, dir, "bm25") { root =>
        buildInto(s, Tables.load(s, dir, "documents").filter(col("doc_id") >= 10), root)
      }

    /** The same index built INCREMENTALLY: the oldest 90% of doc ids as
      * the base build, the newest 10% applied as a delta batch — the
      * daily-lake-growth shape. `llm_bm25_incremental`'s oracle proves
      * the result indistinguishable from the full build (and from
      * index-free BM25, which shares the oracle).
      */
    def ensureIncremental(s: SparkSession, dir: String): String =
      ensureRoot(s, dir, "bm25Inc") { root =>
        val docs = Tables.load(s, dir, "documents").filter(col("doc_id") >= 10)
        val cut = docs.agg(expr("10 + ((max(doc_id) - 10) * 9) div 10").as("c"))
          .head().getLong(0)
        buildInto(s, docs.filter(col("doc_id") < cut), root)
        addDocuments(s, docs.filter(col("doc_id") >= cut), root)
      }

    private def ensureRoot(s: SparkSession, dir: String, kind: String)(build: String => Unit): String =
      graft.sources.Artifacts.sourceRoot(s, dir, "documents", kind, "_GRAFT_BM25_v3")(build)
  }

  /** BM25 over a persisted v2 index root: tokenize only the (tiny)
    * query set, broadcast it against the postings AND the df table so
    * dynamic partition pruning restricts both scans to the query terms'
    * `wb` buckets — the corpus is never re-tokenized and never fully
    * read. Same scoring arithmetic and SAME oracle as `llm_bm25_topk`.
    */
  private def scoreIndexed(s: SparkSession, dir: String, root: String): DataFrame = {
    val qterms = t(s, dir, "documents").filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"),
        explode(splitLit(col("text"), " ")).as("qword"))
      .distinct()
      .withColumn("qwb", expr("substring(md5(qword), 1, 2)"))
    val dfq = s.read.parquet(s"$root/df")
      .join(broadcast(qterms.select(col("qwb").as("fwb"), col("qword").as("fword")).distinct()),
        col("wb") === col("fwb") && col("word") === col("fword"))
      .select(col("word").as("dword"), col("dfreq"))
    s.read.parquet(s"$root/postings")
      .join(broadcast(qterms),
        col("wb") === col("qwb") && col("word") === col("qword"))
      .join(broadcast(dfq), col("word") === col("dword"))
      .crossJoin(broadcast(s.read.parquet(Bm25Index.statsPath(s, root))))
      .withColumn("idf6", floor(log(lit(1.0) +
        (col("n_docs").cast("double") - col("dfreq").cast("double") + lit(0.5)) /
          (col("dfreq").cast("double") + lit(0.5))) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("c6", floor(
        (col("idf6").cast("double") / lit(1e6)) *
          (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl").cast("double") /
              (col("total_len").cast("double") / col("n_docs").cast("double")))) *
          lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("query_id", "doc_id").agg(sum("c6").as("s6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("s6").desc, col("doc_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("doc_id"),
        roundTo(col("s6") / lit(1e6), 4).as("bm25"))
      .orderBy("query_id", "rank")
  }

  private val bm25Indexed = QueryDef(
    "llm_bm25_indexed",
    (s, dir) => scoreIndexed(s, dir, Bm25Index.ensure(s, dir)),
    bm25Topk.oracle)

  /** The incremental-maintenance proof (VERDICT r7 #5): the index is
    * built on the oldest 90% of the corpus and the newest 10% is applied
    * as a delta batch through [[Bm25Index.addDocuments]] — postings /
    * df / doclens upserted partition-locally via `writeMerge`, stats
    * re-derived — then queried identically. Sharing `llm_bm25_topk`'s
    * oracle makes DuckDB the judge that indexed-incremental ==
    * full-rebuild == index-free on the grown corpus.
    */
  private val bm25Incremental = QueryDef(
    "llm_bm25_incremental",
    (s, dir) => scoreIndexed(s, dir, Bm25Index.ensureIncremental(s, dir)),
    bm25Topk.oracle)

  /** PMI collocation mining: top-20 adjacent word pairs by pointwise
    * mutual information log10(p(w1,w2) / (p(w1)p(w2))) among bigrams
    * seen ≥ 5 times — the classic "strongly-associated phrase"
    * extractor (Church & Hanks 1990) a tokenizer-vocabulary or
    * phrase-merge pass runs before training. PMI quantized to 1e-6
    * BIGINT units (the lp6 convention) for cross-engine hash
    * stability; (w1, w2) uniqueness makes the DESC ordering total, so
    * the top-20 cut is deterministic. Scale shape: both joins are
    * vocabulary×vocabulary MERGE joins (same guard as the LM rows);
    * the min-count filter runs BEFORE the joins so only
    * candidate-collocation rows (≪ vocab²) reach them; the top-k is
    * TakeOrderedAndProject, never a global sort.
    */
  private val collocations = QueryDef(
    "llm_collocations",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val uni = docs.select(explode(splitLit(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cu"))
      val totU = uni.agg(sum("cu").as("tu"))
      val bi = Grams.ngramWords(docs, splitLit(col("text"), " "), 2)
        .select(col("w_1").as("w1"), col("w_2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val totB = bi.agg(sum("cb").as("tb"))
      bi.filter(col("cb") >= 5)
        .hint("MERGE").join(uni.select(col("w").as("w1"), col("cu").as("c1")), "w1")
        .hint("MERGE").join(uni.select(col("w").as("w2"), col("cu").as("c2")), "w2")
        .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
        .select(col("w1"), col("w2"), col("cb"),
          floor(log10((col("cb") / col("tb")) /
            ((col("c1") / col("tu")) * (col("c2") / col("tu")))) * lit(1e6) + lit(0.5))
            .cast("long").as("pmi6"))
        .orderBy(col("pmi6").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some("""WITH words AS (SELECT string_split(text, ' ') AS w FROM documents),
           |cu AS (SELECT wd, count(*) AS cu
           |       FROM (SELECT unnest(w) AS wd FROM words) GROUP BY wd),
           |tu AS (SELECT sum(cu) AS tu FROM cu),
           |cb AS (
           |  SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cb
           |  FROM (SELECT unnest(list_transform(
           |          generate_series(1, greatest(len(w) - 1, 0)),
           |          i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
           |        FROM words)
           |  GROUP BY 1, 2),
           |tb AS (SELECT sum(cb) AS tb FROM cb)
           |SELECT w1, w2, CAST(cb.cb AS BIGINT) AS cb,
           |  CAST(floor(log10((cb.cb / tb.tb) / ((c1.cu / tu.tu) * (c2.cu / tu.tu)))
           |    * 1000000.0 + 0.5) AS BIGINT) AS pmi6
           |FROM cb
           |JOIN cu c1 ON c1.wd = cb.w1
           |JOIN cu c2 ON c2.wd = cb.w2
           |CROSS JOIN tu CROSS JOIN tb
           |WHERE cb.cb >= 5
           |ORDER BY pmi6 DESC, w1, w2 LIMIT 20""".stripMargin))

  /** Zipf power-law fit: least-squares slope/intercept of log10(freq)
    * against log10(rank) over the top-1000 words — the standard corpus
    * health check (natural text fits slope ≈ −1; templated or
    * machine-generated text deviates). The top-k is
    * TakeOrderedAndProject with a total (freq DESC, word) order — the
    * rank window then runs over exactly 1000 rows, so no global sort
    * of the (possibly billions-of-junk-tokens) vocabulary ever
    * happens.
    */
  private val zipfFit = QueryDef(
    "llm_zipf_fit",
    (s, dir) => {
      val freq = t(s, dir, "documents")
        .select(explode(splitLit(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      val top = freq.orderBy(col("f").desc, col("w")).limit(1000)
      val ranked = top.withColumn("rank",
        row_number().over(Window.orderBy(col("f").desc, col("w"))))
      ranked.agg(
        count(lit(1)).as("n_words"),
        roundTo(expr("regr_slope(log10(f), log10(rank))"), 4).as("zipf_slope"),
        roundTo(expr("regr_intercept(log10(f), log10(rank))"), 4).as("zipf_intercept"))
    },
    Some("""WITH freq AS (
           |  SELECT wd, count(*) AS f
           |  FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents)
           |  GROUP BY wd),
           |ranked AS (
           |  SELECT f, row_number() OVER (ORDER BY f DESC, wd) AS rank
           |  FROM freq ORDER BY f DESC, wd LIMIT 1000)
           |SELECT CAST(count(*) AS BIGINT) AS n_words,
           |  floor(regr_slope(log10(f), log10(rank)) * 10000.0 + 0.5) / 10000.0
           |    AS zipf_slope,
           |  floor(regr_intercept(log10(f), log10(rank)) * 10000.0 + 0.5) / 10000.0
           |    AS zipf_intercept
           |FROM ranked""".stripMargin))

  /** Multinomial Naive Bayes classifier, trained AND served in-engine —
    * the fastText-style linear text classifier every curation pipeline
    * ends up running (CCNet/GPT-3-style quality or domain filters are
    * exactly this shape: per-token weight table + per-class bias,
    * argmax of a sum). Train split = doc_id % 5 != 0, labels = lang;
    * the held-out 20% is scored. All model weights are Laplace-
    * smoothed log10 probabilities quantized to 1e-6 BIGINT at the
    * single point a transcendental enters (the repo's `llm_unigram_lm`
    * discipline), so scoring is an EXACT integer reduction and the
    * argmax (tie-break: lang ascending) is bit-identical in any
    * engine — the full train-infer trajectory hash-matches DuckDB.
    *
    * Scale shape: the MODEL is vocabulary-bounded — (test-vocab × 5)
    * weight rows, class totals, and one countDistinct — never
    * corpus-sized; at serve time that table broadcasts and inference
    * is one token join + one doc-keyed sum (the same two shuffles as
    * the unigram-LM row regardless of corpus size). The 5-row class
    * list rides a broadcast nested loop deliberately (a 5× fan-out of
    * the test VOCAB, not the corpus). OOV-under-a-class tokens get the
    * smoothed zero-count weight via the left join's NULL, so no dense
    * grid ever materializes beyond test-vocab × classes.
    */
  private val nbClassifier = QueryDef(
    "llm_nb_classifier",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      // The (doc_id, word, tf) relation feeds FIVE consumers (train/test
      // splits, class token totals, vocabulary size, per-class counts);
      // as a lazy plan each reference re-tokenizes the corpus — the
      // executed plan showed 5 Generates / 12 scans with zero exchange
      // reuse. A lazy localCheckpoint materializes it once (within this
      // query's own computation — a new run builds a new plan, so
      // nothing is reused across runs); at scale one materialization of
      // the tf relation strictly beats five corpus tokenizes (guide §5).
      val dw = docWords(t(s, dir, "documents")).localCheckpoint(false)
      val trainDw = dw.filter(col("doc_id") % 5 =!= 0).join(docs, "doc_id")
      val testDw = dw.filter(col("doc_id") % 5 === 0)
      val classes = docs.filter(col("doc_id") % 5 =!= 0)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val nTrain = classes.agg(sum("n_docs").as("n_train"))
      val priors = classes.crossJoin(broadcast(nTrain))
        .select(col("lang").as("cand"),
          floor(log10(col("n_docs") / col("n_train")) * lit(1e6) + lit(0.5))
            .cast("long").as("prior6"))
      val tokTot = trainDw.groupBy("lang").agg(sum("tf").as("tot"))
      val vocabV = trainDw.agg(countDistinct("word").as("v"))
      val cnts = trainDw.groupBy("lang", "word").agg(sum("tf").as("cnt"))
      val weights = testDw.select("word").distinct()
        .crossJoin(broadcast(classes.select(col("lang"))))
        .join(cnts, Seq("lang", "word"), "left")
        .join(tokTot, "lang")
        .crossJoin(broadcast(vocabV))
        .select(col("word"), col("lang").as("cand"),
          floor(log10((coalesce(col("cnt"), lit(0L)) + lit(1)) / (col("tot") + col("v")))
            * lit(1e6) + lit(0.5)).cast("long").as("lp6"))
      val scored = testDw.join(weights, "word")
        .groupBy("doc_id", "cand")
        .agg(sum(col("tf") * col("lp6")).as("s6"))
        .join(priors, "cand")
        .select(col("doc_id"), col("cand"), (col("s6") + col("prior6")).as("score6"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score6").desc, col("cand"))))
        .filter(col("rk") === 1)
      scored.join(docs, "doc_id")
        .select(col("doc_id"), col("lang"), col("cand").as("pred"),
          col("score6"), (col("cand") === col("lang")).as("correct"))
        .orderBy("doc_id")
    },
    Some("""WITH tokens AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
           |dw AS (
           |  SELECT doc_id, word, count(*) AS tf FROM tokens GROUP BY doc_id, word),
           |train AS (
           |  SELECT d.doc_id, d.word, d.tf, doc.lang
           |  FROM dw d JOIN documents doc USING (doc_id) WHERE d.doc_id % 5 <> 0),
           |test AS (SELECT doc_id, word, tf FROM dw WHERE doc_id % 5 = 0),
           |classes AS (
           |  SELECT lang, count(*) AS n_docs FROM documents
           |  WHERE doc_id % 5 <> 0 GROUP BY lang),
           |nt AS (SELECT sum(n_docs) AS n_train FROM classes),
           |priors AS (
           |  SELECT lang AS cand,
           |    CAST(floor(log10(n_docs / n_train) * 1000000.0 + 0.5) AS BIGINT) AS prior6
           |  FROM classes, nt),
           |tok_tot AS (SELECT lang, sum(tf) AS tot FROM train GROUP BY lang),
           |vocab_v AS (SELECT count(DISTINCT word) AS v FROM train),
           |cnts AS (SELECT lang, word, sum(tf) AS cnt FROM train GROUP BY lang, word),
           |weights AS (
           |  SELECT tw.word, c.lang AS cand,
           |    CAST(floor(log10((COALESCE(cn.cnt, 0) + 1) / (tt.tot + vv.v))
           |      * 1000000.0 + 0.5) AS BIGINT) AS lp6
           |  FROM (SELECT DISTINCT word FROM test) tw
           |  CROSS JOIN (SELECT lang FROM classes) c
           |  LEFT JOIN cnts cn ON cn.lang = c.lang AND cn.word = tw.word
           |  JOIN tok_tot tt ON tt.lang = c.lang
           |  CROSS JOIN vocab_v vv),
           |scored AS (
           |  SELECT t.doc_id, w.cand, CAST(sum(t.tf * w.lp6) AS BIGINT) AS s6
           |  FROM test t JOIN weights w USING (word)
           |  GROUP BY t.doc_id, w.cand),
           |ranked AS (
           |  SELECT s.doc_id, s.cand, s.s6 + p.prior6 AS score6,
           |    row_number() OVER (PARTITION BY s.doc_id
           |      ORDER BY s.s6 + p.prior6 DESC, s.cand) AS rk
           |  FROM scored s JOIN priors p USING (cand))
           |SELECT r.doc_id, d.lang, r.cand AS pred, r.score6,
           |  (r.cand = d.lang) AS correct
           |FROM ranked r JOIN documents d USING (doc_id)
           |WHERE r.rk = 1 ORDER BY r.doc_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(unigramLm, tfidfTopk, embedOutlier, pplBuckets,
    domainKl,
    bigramLm, charEntropy, qualityBuckets, bm25Topk, dsirWeights, bm25Indexed,
    bm25Incremental, collocations, zipfFit, nbClassifier)
}
