package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dialect.Dialect._
import graft.operators.QueryDef
import graft.sources.Tables

/** Deduplication operators over `documents`, designed for 100 TB:
  *
  *  - exact dedup is a hash groupBy on the content key (shuffle on the
  *    fingerprint, never on the document body — group key is the md5);
  *  - MinHash-LSH near-dup generates candidate PAIRS through band-bucket
  *    equi-joins: documents only meet inside a bucket, so there is no
  *    all-pairs product anywhere in the plan. At 1000 executors this is
  *    shingle-explode (map) → 8-way min (partial agg) → band hash (map)
  *    → self-join on (band_idx, band_hash) — the classic LSH shape;
  *  - SimHash emits a per-document signature (pure map side);
  *  - n-gram Jaccard verifies candidates restricted to a blocking key
  *    ((lang, source) here), again avoiding the cartesian product.
  *
  * All hashing is md5-based so an external ANSI oracle (DuckDB) produces
  * bit-identical signatures — a deliberate engine-portability choice over
  * Spark's murmur `hash()` (whose seeds are engine-private).
  *
  * Algorithms follow the published formulations: MinHash resemblance
  * sketches (Broder, "On the resemblance and containment of documents",
  * SEQUENCES 1997) with banded LSH (Leskovec/Rajaraman/Ullman, "Mining of
  * Massive Datasets" ch. 3), and sign-random-projection SimHash
  * (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002).
  */
object DedupOps {

  /** Exact dedup: one canonical row per distinct text. */
  private val exact = QueryDef(
    "llm_exact_dedup",
    (s, dir) => Tables.loadSpread(s, dir, "documents")
      .groupBy(md5(col("text")).as("content_key"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies")
      .orderBy("canonical_id"),
    Some("""SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
           |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin))

  /** Word 3-shingles per document via [[Grams.ngrams]] — posexplode +
    * O(1) carried-array lookups, still ZERO shuffles (the lead-window
    * formulation costs a full sort exchange per round at 100 TB). The
    * earlier `explode(transform(...))` form re-ran the interpreted HOF
    * per emitted element — O(doc²); see the Grams scaladoc for the
    * measurements.
    */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    Grams.ngrams(Tables.loadSpread(s, dir, "documents"), splitLit(col("text"), " "), 3)
      .select(col("doc_id"), col("gram").as("shingle"))

  /** Shared oracle CTE prefix — shingle → minhash signatures → band
    * hashes → candidate pairs — interpolated into the minhash,
    * dedup-groups, and curation oracles so one definition can never
    * drift between them (it cross-checks the single Scala `lshPairs`).
    */
  private val lshOracleCtes =
    """sh AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
      |    i -> string_split(text, ' ')[i] || ' ' ||
      |         string_split(text, ' ')[i+1] || ' ' ||
      |         string_split(text, ' ')[i+2])) AS shingle
      |  FROM documents),
      |sigs AS (
      |  SELECT doc_id,
      |    min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
      |    min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
      |    min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
      |    min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id,
      |    unnest([0, 1, 2, 3]) AS band_idx,
      |    unnest([md5(mh0 || mh1), md5(mh2 || mh3),
      |            md5(mh4 || mh5), md5(mh6 || mh7)]) AS band_hash
      |  FROM sigs),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      |   AND a.doc_id < b.doc_id)""".stripMargin

  /** Connected-components closure over `cand` (append after
    * [[lshOracleCtes]]): undirected edges + RECURSIVE reachability.
    */
  private val ccOracleCtes =
    """edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM cand
      |  UNION SELECT doc_b, doc_a FROM cand),
      |reach AS (
      |  WITH RECURSIVE r(src, dst) AS (
      |    SELECT src, dst FROM edges
      |    UNION
      |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      |  ) SELECT * FROM r)""".stripMargin

  /** MinHash + LSH banded candidate pairs: 8 min-hashes, 4 bands of 2 rows;
    * docs sharing any band bucket become a candidate pair.
    */
  private val minhash = QueryDef(
    "llm_minhash_lsh_pairs",
    (s, dir) => lshPairs(s, dir).orderBy("doc_a", "doc_b"),
    Some(s"""WITH $lshOracleCtes
           |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin))

  /** 16-bit SimHash from md5 nibbles: bit i is the sign of the sum of
    * (+1/-1) votes from each word's i-th hex digit high bit. Computed
    * entirely map-side with array higher-order functions — no explode
    * (which would multiply rows ~|words|×) and no aggregation shuffle:
    * at 100 TB, signature generation stays a narrow scan.
    */
  /** Hex digits with bit `v` (8/4/2/1) set — the per-bit membership
    * test both engines evaluate as one strpos/instr over a literal.
    */
  private val hexBitSets = Seq(
    8 -> "89abcdef", 4 -> "4567cdef", 2 -> "2367abef", 1 -> "13579bdf")

  /** Per-document 64-bit SimHash signatures (doc_id, simhash) — the
    * PRODUCTION width (16-bit bands → 65536 bucket values keep bucket
    * sizes bounded on a large corpus; a 16-bit toy signature's 16-value
    * bands turn quadratic — measured 63 s at sf0.1 before this).
    * Bit (i,v) votes +1 when bit v of md5(word)'s i-th hex digit is
    * set: all 4 bits of all 16 digits = 64 sign sums. Computed
    * RELATIONALLY (explode → 64 conditional sums → partial-aggregated
    * groupBy): conditional sums ride whole-stage codegen, where the
    * previous array-HOF formulation evaluated interpreted per element;
    * the shuffle carries 64 longs per doc, not words.
    */
  /** (doc_id, 64 vote columns b<i>_<v>) — the shared aggregation both
    * signature forms project from.
    */
  private def simhashBands(s: SparkSession, dir: String): DataFrame = {
    // Fused native kernel (optimization round 15, guide §1.2 step 2;
    // the minhash_sigs precedent): one compiled pass per document
    // computes all 64 vote sums on raw md5 digest bytes and folds them
    // into the 4 band ints — replacing the exploded one-row-per-word
    // relation, the md5 HEX render + conv() re-parse, and the 64-column
    // hash-aggregate shuffle. Vote membership is bit-identical to the
    // strpos('89abcdef', …) form the DuckDB oracles keep
    // (SimhashBands scaladoc has the nibble arithmetic). The
    // text-IS-NOT-NULL filter reproduces explode() dropping null-split
    // docs; every word OCCURRENCE still votes (no distinct).
    graft.functions.GraftFunctions.register(s)
    Tables.loadSpread(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        call_function("simhash_bands", splitLit(col("text"), " ")).as("bands"))
      .select(col("doc_id") +:
        (0 until 4).map(b => element_at(col("bands"), b + 1).as(s"band$b")): _*)
  }

  /** Ordered (i, v) bit positions, MSB first — position p = (i-1)*4 +
    * index of v in 8,4,2,1.
    */
  private val simhashBitOrder: Seq[(Int, Int)] =
    for { i <- 1 to 16; (v, _) <- hexBitSets } yield (i, v)

  private def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    // The 64-char '0'/'1' signature is the 4 band ints rendered MSB
    // first: band bit (15 − idx) is exactly vote position b·16 + idx ≥ 0,
    // so lpad(bin(band), 16, '0') per band, concatenated, reproduces the
    // per-vote CASE string character for character.
    val bits = (0 until 4).map(b =>
      lpad(bin(col(s"band$b").cast("long")), 16, "0"))
    simhashBands(s, dir).select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  /** words+agg oracle CTEs producing the 64 vote columns — the shared
    * trunk interpolated into BOTH simhash oracles (signature and
    * near-dup pairs), so the vote definition can never drift between
    * them.
    */
  private val simhashVotesCte = {
    val votes = (for {
      i <- 1 to 16
      (v, set) <- hexBitSets
    } yield s"sum(CASE WHEN strpos('$set', substr(md5(w), $i, 1)) > 0 THEN 1 ELSE -1 END) AS b${i}_$v")
      .mkString(",\n    ")
    s"""words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |agg AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM words GROUP BY doc_id)""".stripMargin
  }

  /** Oracle CTE producing (doc_id, simhash) on top of [[simhashVotesCte]]. */
  private val simhashOracleCte = {
    val bits = (for { i <- 1 to 16; (v, _) <- hexBitSets }
      yield s"CASE WHEN b${i}_$v >= 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""$simhashVotesCte,
       |sh_sigs AS (
       |  SELECT doc_id, $bits AS simhash FROM agg)""".stripMargin
  }

  private val simhash = QueryDef(
    "llm_simhash",
    (s, dir) => simhashSigs(s, dir).orderBy("doc_id"),
    Some(s"""WITH $simhashOracleCte
           |SELECT doc_id, simhash FROM sh_sigs ORDER BY doc_id""".stripMargin))

  /** SimHash near-dup PAIRS — the pairing step that completes the
    * SimHash pipeline: candidates collide only inside a blocking bucket,
    * then the exact Hamming distance filters to ≤ [[simhashMaxHamming]].
    * Two blocking schemes share the exact same output (so one oracle
    * pins both), selected by `spark.graft.simhashScheme`
    * (`banded` | `blocked` | `auto`, default auto):
    *
    *  - **banded**: 4 bands of 16 bits → 65,536 bucket values per band.
    *    By pigeonhole, ≤ 3 differing bits cannot touch all 4 bands, so
    *    at least one band matches exactly — RECALL 1 for the threshold.
    *    Cheap (4 keys/doc) but the bucket COUNT is fixed: expected
    *    occupancy grows linearly with the corpus and the within-bucket
    *    self-join quadratically once N ≫ 65,536 — the same fixed-bucket
    *    hazard VERDICT r7 measured for the 16-plane cosine LSH default.
    *  - **blocked** (Manku–Jain–Sarma, WWW'07 §3): split the 64-bit
    *    signature into 6 blocks (11,11,11,11,10,10 bits); ≤ 3 differing
    *    bits touch ≤ 3 blocks, leaving ≥ 3 intact, so the pair agrees
    *    on at least one of the C(6,3)=20 three-block combinations —
    *    also RECALL 1. Each combo key carries 32–33 bits (~8.6 B bucket
    *    values), so occupancy stays ~1 until tens of billions of docs:
    *    5× the key emission of banding, in exchange for a bucket space
    *    131,072× larger. This is the 100 TB path.
    *  - **auto**: blocked when the corpus row count exceeds
    *    `spark.graft.simhashBlockedThreshold` (default 2^20 ≈ 1M — the
    *    point where 65,536-value bands average 16 docs/bucket/band),
    *    banded below. The count probe is parquet-metadata-cheap.
    *
    * Both schemes emit the identical verified pair set — asserted
    * cross-scheme in `PlanAuditSpec` and pinned by the shared oracle.
    */
  val simhashMaxHamming = 3

  /** MSB-first bit spans of the 6 signature blocks (total 64). */
  private val simhashBlockSpans: Seq[(Int, Int)] = {
    val sizes = Seq(11, 11, 11, 11, 10, 10)
    sizes.scanLeft(0)(_ + _).zip(sizes).map { case (start, len) => (start, len) }
  }

  /** (doc_id, band0..band3) with bands as 16-bit INTEGERS (straight from
    * the fused kernel): the hamming distance then costs 4 bit_count(xor)
    * per candidate pair — a string-positional compare (64 substring
    * CASEs per pair) was measured 3x the whole query's runtime at sf0.1.
    */
  private def simhashBandSigs(s: SparkSession, dir: String): DataFrame =
    simhashBands(s, dir)

  /** Hamming ≤ [[simhashMaxHamming]] pairs from a (key_idx, key) blocking
    * expansion of the signatures — the shared tail of both schemes.
    */
  private def simhashPairsFromKeys(keyed: DataFrame): DataFrame = {
    val a = keyed.select(col("key_idx"), col("key"), col("doc_id").as("doc_a"),
      col("band0").as("a0"), col("band1").as("a1"), col("band2").as("a2"),
      col("band3").as("a3"))
    val b = keyed.select(col("key_idx").as("ki"), col("key").as("kk"),
      col("doc_id").as("doc_b"),
      col("band0").as("c0"), col("band1").as("c1"), col("band2").as("c2"),
      col("band3").as("c3"))
    val ham = (0 until 4).map(i =>
      expr(s"bit_count(a$i ^ c$i)")).reduce(_ + _)
    a.join(b, col("key_idx") === col("ki") && col("key") === col("kk") &&
        col("doc_a") < col("doc_b"))
      .withColumn("hamming", ham.cast("int"))
      .filter(col("hamming") <= simhashMaxHamming)
      .select("doc_a", "doc_b", "hamming").distinct()
      .orderBy("doc_a", "doc_b")
  }

  private[graft] def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = simhashBandSigs(s, dir)
    val blocked = s.conf.get("spark.graft.simhashScheme", "auto") match {
      case "blocked" => true
      case "banded"  => false
      case _ =>
        val threshold =
          s.conf.get("spark.graft.simhashBlockedThreshold", (1L << 20).toString).toLong
        Tables.loadSpread(s, dir, "documents").count() > threshold
    }
    if (!blocked) {
      simhashPairsFromKeys(sigs.select(col("doc_id"), col("band0"), col("band1"),
        col("band2"), col("band3"),
        posexplode(array((0 until 4).map(b => col(s"band$b").cast("long")): _*))
          .as(Seq("key_idx", "key"))))
    } else {
      // 64-bit signature as one long, blocks by shift+mask, combo key =
      // three block values packed at 11-bit stride (each block ≤ 11 bits).
      val sig = (0 until 4).map(b =>
        shiftleft(col(s"band$b").cast("long"), (3 - b) * 16)).reduce(_.bitwiseOR(_))
      val withSig = sigs.withColumn("sig", sig)
      val blockVal = (j: Int) => {
        val (start, len) = simhashBlockSpans(j)
        shiftrightunsigned(col("sig"), 64 - start - len)
          .bitwiseAND(lit((1L << len) - 1L))
      }
      val combos = (0 until 6).combinations(3).toSeq
      val keys = combos.map { c =>
        shiftleft(blockVal(c(0)), 22)
          .bitwiseOR(shiftleft(blockVal(c(1)), 11))
          .bitwiseOR(blockVal(c(2)))
      }
      simhashPairsFromKeys(withSig.select(col("doc_id"), col("band0"),
        col("band1"), col("band2"), col("band3"),
        posexplode(array(keys: _*)).as(Seq("key_idx", "key"))))
    }
  }

  private val simhashNearDup = QueryDef(
    "llm_simhash_neardup",
    (s, dir) => simhashPairs(s, dir),
    Some {
      // DuckDB mirror: same integer bands (xor() is the function there —
      // its ^ operator is exponentiation).
      val bandInt = (b: Int) => (0 until 16).map { idx =>
        val (i, v) = simhashBitOrder(b * 16 + idx)
        s"CASE WHEN b${i}_$v >= 0 THEN ${1 << (15 - idx)} ELSE 0 END"
      }.mkString("(", " + ", ")")
      val ham = (0 until 4).map(i => s"bit_count(xor(a.band$i, b.band$i))").mkString(" + ")
      s"""WITH $simhashVotesCte,
         |isigs AS (
         |  SELECT doc_id, ${(0 until 4).map(b => s"${bandInt(b)} AS band$b").mkString(", ")}
         |  FROM agg),
         |bands AS (
         |  SELECT doc_id, band0, band1, band2, band3, b AS band_idx,
         |    CASE b WHEN 0 THEN band0 WHEN 1 THEN band1 WHEN 2 THEN band2 ELSE band3 END AS band
         |  FROM isigs, (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band = b.band
         |   AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST($ham AS INTEGER) AS hamming
         |FROM cand
         |JOIN isigs a ON a.doc_id = doc_a
         |JOIN isigs b ON b.doc_id = doc_b
         |WHERE $ham <= $simhashMaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin
    })

  /** n-gram (word-set) Jaccard similarity over blocked candidate pairs —
    * blocking key (lang, source) bounds the pair count; the intersection
    * is computed by an equi-join on the word, never by comparing texts.
    *
    * De-skew: a stopword-grade token appearing in df documents creates
    * ~df² candidate rows in the word join — quadratic on exactly the
    * hottest keys at 100 TB. Words with block-level document frequency
    * above [[jaccardMaxDf]] are dropped from the representation (both
    * intersection AND sizes, so the measure stays a true Jaccard over
    * the filtered vocabulary).
    *
    * Single-scan shape: both the DF cutoff and the per-document set size
    * are window counts over the one exploded word stream (not separate
    * groupBy branches re-reading the scan), and the self-join's two sides
    * are alias-only copies of the same subtree, which exchange reuse
    * collapses to ONE shuffle. The whole query reads `documents` exactly
    * once — asserted in `PlanAuditSpec` — where the groupBy-stoplist
    * formulation consumed the scan three times.
    */
  val jaccardMaxDf = 50

  private val jaccard = QueryDef(
    "llm_ngram_jaccard",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val allWords = docs
        .select(col("doc_id"), col("lang"), col("source"),
          explode(array_distinct(splitLit(col("text"), " "))).as("w"))
      val words = allWords
        .withColumn("df", count(lit(1)).over(Window.partitionBy("lang", "source", "w")))
        .filter(col("df") <= jaccardMaxDf)
        .withColumn("nw", count(lit(1)).over(Window.partitionBy("doc_id")))
        .select("lang", "source", "w", "doc_id", "nw")
      val aw = words.select(col("lang"), col("source"), col("w"),
        col("doc_id").as("doc_a"), col("nw").as("na"))
      val bw = words.select(col("lang").as("l2"), col("source").as("s2"), col("w").as("w2"),
        col("doc_id").as("doc_b"), col("nw").as("nb"))
      // na/nb are constant per doc, so min() just carries them through
      // the pair aggregation — no sizes join needed.
      aw.join(bw, col("lang") === col("l2") && col("source") === col("s2") &&
          col("w") === col("w2") && col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("inter"), min("na").as("na"), min("nb").as("nb"))
        .withColumn("jaccard",
          roundTo(col("inter") / (col("na") + col("nb") - col("inter")), 4))
        .filter(col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH all_words AS (
           |  SELECT DISTINCT doc_id, lang, source, w FROM (
           |    SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS w
           |    FROM documents)),
           |stop AS (
           |  SELECT lang, source, w FROM all_words
           |  GROUP BY lang, source, w HAVING count(*) > $jaccardMaxDf),
           |words AS (
           |  SELECT * FROM all_words aw
           |  WHERE NOT EXISTS (SELECT 1 FROM stop st
           |    WHERE st.lang = aw.lang AND st.source = aw.source AND st.w = aw.w)),
           |sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           |  FROM words a JOIN words b
           |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
           |   AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, jaccard FROM (
           |  SELECT doc_a, doc_b,
           |    floor(inter / (sa.nw + sb.nw - inter) * 10000.0 + 0.5) / 10000.0 AS jaccard
           |  FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b)
           |WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""".stripMargin))

  /** Triangle census over the near-dup candidate graph: per document,
    * how many LSH-candidate triangles it participates in — the classic
    * cluster-density signal (a doc in many triangles sits inside a
    * tight duplicate clique; a bridge doc between clusters sits in
    * none). Edges arrive oriented (`doc_a < doc_b` from [[lshPairs]]),
    * so the a<b<c wedge join enumerates each triangle exactly once —
    * the standard distributed triangle algorithm: wedge generation is
    * one equi-join on the shared middle node, closure check a second
    * equi-join, both shuffles keyed on bounded candidate-pair keys
    * (never the corpus). No cartesian anything.
    */
  private val triangles = QueryDef(
    "llm_dup_triangles",
    (s, dir) => {
      val e = lshPairs(s, dir)
      val e1 = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
      val e2 = e.select(col("doc_a").as("b2"), col("doc_b").as("c"))
      val e3 = e.select(col("doc_a").as("a3"), col("doc_b").as("c3"))
      e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $lshOracleCtes,
           |tris AS (
           |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
           |  FROM cand e1
           |  JOIN cand e2 ON e2.doc_a = e1.doc_b
           |  JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
           |SELECT doc_id, count(*) AS n_triangles
           |FROM (SELECT unnest([a, b, c]) AS doc_id FROM tris)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Sketch-accuracy audit: for every LSH candidate pair, the MinHash
    * ESTIMATE of Jaccard similarity (fraction of the 8 signature rows
    * agreeing) against the EXACT shingle-set Jaccard. Both sides are
    * deterministic md5 arithmetic, so unlike the HLL/CMS tolerance
    * rows this one hash-matches exactly — the estimator's error itself
    * (`abs_err`) is pinned cross-engine. Scale: the signature join is
    * 8 small columns keyed by doc_id; the exact-intersection join fans
    * each candidate pair out by its shingle set only (LSH has already
    * bounded the pair list), with per-doc set sizes carried through the
    * pair aggregate as min() — no separate sizes join (same trick as
    * `llm_ngram_jaccard`).
    */
  private val jaccardEst = QueryDef(
    "llm_minhash_jaccard_est",
    (s, dir) => {
      // ONE pass builds everything per doc: the 8-row signature AND the
      // distinct shingle set. The pair join then carries both, and the
      // exact intersection is a MAP-SIDE array_intersect over the two
      // carried sets — the former shape exploded every candidate pair by
      // its full shingle set and re-aggregated it (a pairs×|set| shuffle
      // that went ~40% superlinear at sf3), plus a second from-scratch
      // shingle pipeline for the set sizes. This plan shuffles the
      // shingle relation ONCE and the candidate list twice (small), and
      // the quadratic-ish fan-out work stays inside codegen.
      val sigCols = (0 to 7).map(i => s"mh$i")
      // The carried sets hold 64-bit shingle hashes, not the strings:
      // the set rides TWO join shuffles (once hooked to each pair
      // side), and 8 bytes/element vs ~30 shrinks that volume ~4x.
      // |A∩B| over distinct hashes equals |A∩B| over distinct shingles
      // up to an xxhash64 collision inside one pair's union (~200
      // elements → P ≈ 2^-51 per pair) — the same order of design
      // bound the md5-based signatures already accept. Signatures AND
      // set come from the map-side [[sigsOfDocs]] (round 14): the old
      // groupBy(min(md5), collect_set) sorted the whole shingle
      // relation (string-min has no hash-agg buffer).
      // One explicit doc_id exchange shared by the three consumers
      // (bands fold, pair side A, pair side B): the map-side signature
      // projection has no exchange of its own, so without this each
      // consumer would re-sign the corpus (ReusedExchange pinned in
      // PlanAuditSpec).
      val perDoc = sigsOfDocs(Tables.loadSpread(s, dir, "documents"), withShset = true)
        .repartition(col("doc_id"))
      val sa = perDoc.select(col("doc_id").as("pa") +:
        col("shset").as("shset_a") +: sigCols.map(c => col(c).as(s"${c}_a")): _*)
      val sb = perDoc.select(col("doc_id").as("pb") +:
        col("shset").as("shset_b") +: sigCols.map(c => col(c).as(s"${c}_b")): _*)
      val agree = sigCols.map(c =>
        when(col(s"${c}_a") === col(s"${c}_b"), 1L).otherwise(0L)).reduce(_ + _)
      // The candidate pairs derive from the SAME aggregate (bands are
      // md5-folds of the mh columns), not a second lshPairs call whose
      // from-scratch shingle pipeline would double the corpus scans.
      bandSelfPairs(bandsOfSigs(perDoc))
        .join(sa, col("doc_a") === col("pa"))
        .join(sb, col("doc_b") === col("pb"))
        .select(col("doc_a"), col("doc_b"), agree.as("agree_k"),
          size(array_intersect(col("shset_a"), col("shset_b"))).cast("long").as("inter"),
          size(col("shset_a")).cast("long").as("na"),
          size(col("shset_b")).cast("long").as("nb"))
        // The oracle's intersection CTE is an inner join on shared
        // shingles: a candidate pair with NO overlap (band-hash
        // collision) has no row there — mirror that.
        .filter(col("inter") >= 1)
        .select(col("doc_a"), col("doc_b"), col("agree_k"),
          (col("agree_k") / 8.0).as("est"),
          roundTo(col("inter") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
        .withColumn("abs_err", roundTo(abs(col("est") - col("jaccard")), 4))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $lshOracleCtes,
           |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
           |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter,
           |         min(za.n) AS na, min(zb.n) AS nb
           |  FROM cand c
           |  JOIN shd a ON a.doc_id = c.doc_a
           |  JOIN shd b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
           |  JOIN sizes za ON za.doc_id = c.doc_a
           |  JOIN sizes zb ON zb.doc_id = c.doc_b
           |  GROUP BY 1, 2),
           |agree AS (
           |  SELECT c.doc_a, c.doc_b,
           |    CAST((CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END +
           |          CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END +
           |          CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END +
           |          CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END +
           |          CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END +
           |          CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END +
           |          CASE WHEN sa.mh6 = sb.mh6 THEN 1 ELSE 0 END +
           |          CASE WHEN sa.mh7 = sb.mh7 THEN 1 ELSE 0 END) AS BIGINT) AS agree_k
           |  FROM cand c
           |  JOIN sigs sa ON sa.doc_id = c.doc_a
           |  JOIN sigs sb ON sb.doc_id = c.doc_b)
           |SELECT g.doc_a, g.doc_b, g.agree_k, g.agree_k / 8.0 AS est,
           |  floor(i.inter / (i.na + i.nb - i.inter) * 10000.0 + 0.5) / 10000.0 AS jaccard,
           |  floor(abs(g.agree_k / 8.0 -
           |    floor(i.inter / (i.na + i.nb - i.inter) * 10000.0 + 0.5) / 10000.0)
           |    * 10000.0 + 0.5) / 10000.0 AS abs_err
           |FROM agree g JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
           |ORDER BY g.doc_a, g.doc_b""".stripMargin))

  /** Edit-distance verification of the LSH candidate pairs — the
    * fuzzy-match second stage (record linkage / title matching): for
    * each candidate pair, Levenshtein distance over a bounded 64-char
    * prefix plus the normalized similarity `1 − d/maxlen`. The prefix
    * bound is the scale guard: Levenshtein is O(n·m) per pair, so
    * unbounded bodies would make one hot pair arbitrarily expensive —
    * 64 chars caps every pair at constant work (and the LSH stage has
    * already bounded the PAIR count). Both engines run unit-cost
    * Levenshtein (insert/delete/substitute = 1), so the distances and
    * the rounded similarity hash-match exactly.
    */
  private val editVerify = QueryDef(
    "llm_edit_distance_verify",
    (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 64).as("prefix"))
      val a = docs.select(col("doc_id").as("doc_a"), col("prefix").as("pa"))
      val b = docs.select(col("doc_id").as("doc_b"), col("prefix").as("pb"))
      lshPairs(s, dir)
        .join(a, "doc_a").join(b, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"),
          roundTo(lit(1.0) - levenshtein(col("pa"), col("pb")) /
            greatest(length(col("pa")), length(col("pb"))), 4).as("sim"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $lshOracleCtes,
           |pfx AS (SELECT doc_id, substring(text, 1, 64) AS prefix FROM documents)
           |SELECT c.doc_a, c.doc_b,
           |  levenshtein(a.prefix, b.prefix) AS edit_dist,
           |  floor((1.0 - levenshtein(a.prefix, b.prefix)
           |    / greatest(length(a.prefix), length(b.prefix))) * 10000.0 + 0.5)
           |    / 10000.0 AS sim
           |FROM cand c
           |JOIN pfx a ON a.doc_id = c.doc_a
           |JOIN pfx b ON b.doc_id = c.doc_b
           |ORDER BY c.doc_a, c.doc_b""".stripMargin))

  /** (doc_id, band_idx, band_hash) — the LSH band index rows for every
    * document: 8 min-hashes folded into 4 bands of 2. Shared by
    * [[lshPairs]] (within-corpus candidate pairs) and
    * [[incrementalDedup]] (batch-vs-lake membership probe).
    */
  private def bandHashes(s: SparkSession, dir: String): DataFrame =
    bandsOfDocs(Tables.loadSpread(s, dir, "documents"))

  /** MAP-SIDE per-document MinHash signatures (doc_id, mh0..mh7 and,
    * when `withShset`, the distinct xxhash64 shingle set): the same
    * values as the historical explode → groupBy(min(md5)) formulation —
    * each signature is a min over the doc's OWN shingles — but computed
    * with array higher-order functions inside one narrow projection.
    * Optimization round 14, the LSH-kernel fix: `min` over an md5-hex
    * STRING has no mutable hash-agg buffer, so the aggregate form fell
    * back to SortAggregate — a full sort of the corpus-wide exploded
    * shingle relation (rows × ~|words|) in EVERY LSH-family row
    * (plan-audited: 4 SortAggregates + an exchange per signature
    * derivation). The map-side form has ZERO shuffle and no explode;
    * the only remaining exchange in the candidate pipeline is the band
    * self-join, which at 100 TB means the corpus is never shuffled or
    * sorted to get signed. The streaming path
    * ([[graft.streaming.StreamingOps.bandHashes]]) has used exactly
    * this shape since round 7 and its value agreement with the batch
    * pipeline is spec-pinned; docs with < 3 words produce no shingles
    * and are filtered, matching the old groupBy's absent rows.
    */
  private[graft] def sigsOfDocs(docs: DataFrame, withShset: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // The shingle-count filter runs on the CHEAP split, below the
    // signature projection (pushed to the scan); the expression itself
    // is never-null, so no IsNotNull(minhash_sigs(...)) exists for the
    // optimizer to push below the projection and double-evaluate.
    val base = docs
      .select(col("doc_id"), splitLit(col("text"), " ").as("__ws"))
      .filter(size(col("__ws")) >= 3)
      .select(col("doc_id"), call_function("minhash_sigs", col("__ws")).as("__sig"))
    val mhs = (0 to 7).map(i => col("__sig.mh")(i).as(s"mh$i"))
    val extra = if (withShset) Seq(col("__sig.shset").as("shset")) else Nil
    base.select(col("doc_id") +: mhs ++: extra: _*)
  }

  /** Frame-based band derivation — the same shingle → minhash → band
    * pipeline over an arbitrary (doc_id, text) frame, so a streaming
    * micro-batch can index itself identically to the batch path
    * ([[graft.streaming.StreamingOps.dedupIngestSink]]).
    */
  private[graft] def bandsOfDocs(docs: DataFrame): DataFrame =
    bandsOfSigs(sigsOfDocs(docs))

  /** Band fold over an existing signature frame (doc_id, mh0..mh7) —
    * lets a row that already aggregated signatures (e.g. one that also
    * carries the shingle sets) derive its candidate pairs from the SAME
    * aggregate instead of a second from-scratch shingle pipeline.
    */
  private[graft] def bandsOfSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(array(
      md5(concat(col("mh0"), col("mh1"))), md5(concat(col("mh2"), col("mh3"))),
      md5(concat(col("mh4"), col("mh5"))), md5(concat(col("mh6"), col("mh7")))))
      .as(Seq("band_idx", "band_hash")))

  /** The MinHash-LSH candidate graph as seen by the dedup family —
    * exposed for the `graft.tools.GraphStats` diagnostic so two-tier
    * routing decisions can be inspected at any SF without touching the
    * private pipeline.
    */
  def candidatePairs(s: SparkSession, dir: String): DataFrame = lshPairs(s, dir)

  /** Candidate pairs from the MinHash-LSH pipeline (shared by
    * `llm_minhash_lsh_pairs` and the group-resolution step).
    *
    * Hot-bucket dial (round 13, the `--zipfdocs` lesson): a Zipf
    * duplicate-class corpus puts one ~10k-member near-dup class into
    * every band bucket it touches, and the bucket self-join then emits
    * ~bands × C(c, 2) candidate rows — 46M pairs in ONE component at
    * sf3d (measured, `graft.tools.GraphStats`), which is real output
    * for the pair-emitting contract but a ×(c/2) blow-up for consumers
    * that only need per-DOC results (PageRank ranks, groups). When
    * `spark.graft.lshMaxBucketRows` > 0, buckets larger than the cap
    * emit STAR edges around the bucket's min doc (c−1 rows) instead of
    * the clique (C(c,2) rows). The trade, stated exactly: CANDIDATE
    * connectivity is preserved (a star spans its bucket), so groups/CC
    * consumers see the same closure as long as star edges survive
    * their verification; pair-level recall inside hot buckets drops to
    * the star subset, and degree-derived metrics (pagerank) become
    * hub-capped — the documented deployment dial for ranking over a
    * boilerplate-heavy crawl. Default 0 = off: the oracle rows pin the
    * exact clique semantics.
    */
  private def lshPairs(s: SparkSession, dir: String): DataFrame =
    bandSelfPairs(bandHashes(s, dir))

  /** Candidate pairs for the RANK consumers (PageRank family): same
    * banded self-join, but under the [[rankEdgeCap]] auto guard —
    * per-doc rank contracts tolerate hub-capped hot buckets
    * (connectivity preserved), where pair-EMITTING contracts never do.
    * The corpus size deciding `auto` is the parquet row count (a
    * metadata-only job).
    */
  private def rankPairs(s: SparkSession, dir: String): DataFrame = {
    // Plain load: the count is a metadata-ish scan and the spread
    // repartition would be a pure extra exchange before counting.
    val nDocs = Tables.load(s, dir, "documents").count()
    bandSelfPairsCapped(bandHashes(s, dir), rankEdgeCap(s, nDocs))
  }

  /** Reliable-checkpoint directory for iterative operators. On a cluster
    * this MUST point at shared storage (HDFS/S3) via
    * `spark.graft.checkpointDir` — `checkpoint()` (unlike
    * `localCheckpoint()`) survives executor loss, which is what lets a
    * multi-hour 100 TB dedup job ride through preemptions mid-iteration.
    * That property silently evaporates if the dir is executor-local disk,
    * so on a non-local master an unset conf FAILS FAST instead of falling
    * back; the tmpdir fallback exists only for local[*] runs, where every
    * "executor" shares the driver's filesystem anyway.
    */
  private def ensureCheckpointDir(s: SparkSession): Unit =
    if (s.sparkContext.getCheckpointDir.isEmpty) {
      val dir =
        if (s.conf.getAll.contains("spark.graft.checkpointDir"))
          s.conf.get("spark.graft.checkpointDir")
        else if (!s.sparkContext.isLocal)
          throw new IllegalStateException(
            "spark.graft.checkpointDir is unset on a non-local master: reliable " +
              "checkpoints must live on shared storage (HDFS/S3) to survive " +
              "executor loss — a local-disk fallback would silently lose that " +
              "guarantee mid-job")
        else s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints"
      s.sparkContext.setCheckpointDir(dir)
    }

  /** rdd-* subdirectories currently under the session's checkpoint dir. */
  private def ckptChildren(s: SparkSession): Set[String] = {
    val base = s.sparkContext.getCheckpointDir.get
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.toString).toSet
  }

  private def deleteCkptDirs(s: SparkSession, dirs: Set[String]): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Reliable checkpoint with persist-first materialization: a bare
    * `checkpoint()` (eager) runs the plan TWICE — once for the eager
    * action and once more when `ReliableCheckpointRDD` writes the files —
    * which for the first CC round means re-running the entire upstream
    * LSH pipeline. Caching first makes the checkpoint write read the
    * just-computed blocks, then the cache is dropped (the checkpoint
    * files are now the source of truth). Returns the checkpointed frame
    * plus the rdd-* directories the write created, so the caller can
    * delete a round's files as soon as the next round supersedes them —
    * Spark never deletes reliable checkpoints on its own, and a 64-round
    * CC run would otherwise retain every round's full edge list.
    */
  private def reliableCheckpoint(df: DataFrame): (DataFrame, Set[String]) = {
    val s = df.sparkSession
    val before = ckptChildren(s)
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    val cp = cached.checkpoint()
    cached.unpersist(blocking = false)
    (cp, ckptChildren(s) -- before)
  }

  /** Both directions of an oriented edge list (columns u, v). */
  private def symmetrize(e: DataFrame): DataFrame =
    e.unionAll(e.select(col("v").as("u"), col("u").as("v")))

  /** Large-star: every node connects its LARGER neighbors to the minimum
    * of its closed neighborhood. Emitted edges are (v, m) with v > u >= m,
    * so the output is oriented big→small by construction.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = symmetrize(e)
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star over big→small oriented edges: every node connects its
    * (all smaller) neighbors — and itself — to their minimum. Orientation
    * u > v is preserved.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    e.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .unionAll(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components over an undirected pair graph: returns
    * (doc_id, canonical_id = component minimum) for every doc appearing
    * in a NON-self pair in `pairs` (columns doc_a, doc_b). A doc whose
    * only appearance is a self-pair (x, x) carries no connectivity and is
    * excluded from the output — no caller produces one ([[lshPairs]]
    * enforces doc_a < doc_b); union singleton nodes back in if a future
    * source can emit them. See [[connectedComponentsStats]] for the
    * algorithm and convergence argument.
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsStats(pairs)._1

  /** Driver-side union-find (path compression + union by size) labeling
    * each node with its component MINIMUM — the small-graph tier of
    * [[connectedComponentsStats]].
    */
  private def localComponents(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    val size = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (sa, sb) = (size.getOrElse(ra, 1L), size.getOrElse(rb, 1L))
        val (big, small) = if (sa >= sb) (ra, rb) else (rb, ra)
        parent(small) = big
        size(big) = sa + sb
      }
    }
    val compMin = scala.collection.mutable.LongMap.empty[Long]
    parent.keys.foreach { n =>
      val r = find(n)
      compMin(r) = math.min(compMin.getOrElse(r, Long.MaxValue), n)
    }
    parent.keys.toSeq.map(n => (n, compMin(find(n))))
  }

  /** [[connectedComponents]] plus the number of large-star/small-star
    * rounds it took — the observable the O(log n)-convergence regression
    * test in `ConnectedComponentsSpec` pins (a 1000-node chain must NOT
    * take ~1000 rounds).
    *
    * Two-tier strategy, same idea as Spark's broadcast-join threshold:
    * when the deduplicated edge list fits under
    * `spark.graft.ccLocalMaxEdges` (default 1M edges — a bounded,
    * conf-controlled driver batch, NOT an unbounded collect; ~80 MB of
    * transient Row objects on the driver, the same order as a large
    * broadcast build side, and the union-find itself is milliseconds),
    * the components are solved in one pass of driver union-find and
    * `rounds` is 0 — every distributed round the small graph skips is
    * ~6 shuffle stages of pure scheduler overhead. Graphs above the
    * threshold (the 100 TB case: a planetary candidate graph has
    * billions of edges) run the checkpointed distributed loop below,
    * which `ConnectedComponentsSpec` exercises directly by setting the
    * threshold to 0. With the star-contracted connectivity inputs
    * ([[bandStarEdges]]) the edge list is linear in banded-doc count,
    * so the crossover sits near ~250k docs per band-collision cluster
    * population — the sf3 bench corpus solves locally while any real
    * lake-scale run goes distributed.
    */
  def connectedComponentsStats(pairs: DataFrame, maxRounds: Int = 64): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val localMax = spark.conf.get("spark.graft.ccLocalMaxEdges", "1000000").toInt
    // Canonical big→small edge list; persisted so the tier probe and the
    // consuming tier (local collect OR initial reliable checkpoint) pay
    // for the upstream candidate pipeline once.
    val canon = pairs
      .select(greatest(col("doc_a"), col("doc_b")).cast("long").as("u"),
        least(col("doc_a"), col("doc_b")).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // take(max+1) both probes the size and, when small, IS the data.
    val head = canon.take(localMax + 1)
    if (head.length <= localMax) {
      canon.unpersist(blocking = false)
      import spark.implicits._
      val labels = localComponents(head.map(r => (r.getLong(0), r.getLong(1))))
        .toDF("doc_id", "canonical_id")
      return (labels, 0)
    }
    // The round bookkeeping below identifies each round's checkpoint
    // files by diffing the SHARED per-context checkpoint directory, so
    // two concurrent distributed loops in one session would capture (and
    // later delete) each other's live files. Serializing the loop keeps
    // the delete-round-N-1 protocol sound; concurrent small-graph calls
    // (the common case) never take this lock.
    ccLock.synchronized {
      distributedComponents(spark, canon, maxRounds)
    }
  }

  private val ccLock = new Object

  /** Reliable-checkpoint `df` into a named SLOT: the checkpoint files a
    * previous call with the same slot left behind are deleted once the
    * new ones are written, so repeated invocations (a bench loop, a
    * resubmitted job) keep the on-disk footprint at O(one artifact per
    * slot) instead of growing forever — and, unlike `persist`, nothing
    * occupies unified executor memory after the call returns (the
    * transient cache inside [[reliableCheckpoint]] is dropped
    * immediately; ADVICE r6 flagged the old persist-and-never-unpersist
    * as a late-run memory leak in the 134-query single-JVM bench).
    * Holds [[ccLock]] so the shared checkpoint-directory diffing stays
    * sound against a concurrent CC loop. Contract: a DataFrame returned
    * by a PREVIOUS invocation of the same slot dies when the next
    * invocation supersedes it — hold results before re-invoking.
    */
  private val slotDirs = scala.collection.mutable.Map.empty[String, Set[String]]
  private def checkpointSlot(slot: String, df: DataFrame): DataFrame = ccLock.synchronized {
    val s = df.sparkSession
    ensureCheckpointDir(s)
    val (cp, dirs) = reliableCheckpoint(df)
    slotDirs.get(slot).foreach(deleteCkptDirs(s, _))
    slotDirs(slot) = dirs
    cp
  }

  private def distributedComponents(spark: SparkSession, canon: DataFrame,
                                    maxRounds: Int): (DataFrame, Int) = {
    ensureCheckpointDir(spark)
    // Materialized ONCE to reliable storage: without it every round
    // would re-run the whole upstream candidate pipeline, and with only
    // executor-local blocks a single executor loss after lineage
    // truncation kills the job mid-loop.
    var (edges, edgeDirs) = reliableCheckpoint(canon)
    canon.unpersist(blocking = false)
    // Cheap per-round fingerprint (count + endpoint sums). Equality is
    // necessary but not sufficient for a fixpoint, so a match is then
    // CONFIRMED with an exact set difference — the expensive check runs
    // once, on the terminal round, not every round.
    def metric(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), sum("u"), sum("v")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var prev = metric(edges)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (next, nextDirs) = reliableCheckpoint(smallStar(largeStar(edges)))
      rounds += 1
      val cur = metric(next)
      // Same count + empty one-sided difference ⇒ equal distinct sets.
      converged = cur == prev && next.exceptAll(edges).isEmpty
      prev = cur
      // Round N is materialized and compared — round N-1's checkpoint
      // files are dead weight now; delete them so the on-disk footprint
      // stays O(one edge list) instead of O(rounds). The FINAL round's
      // files are retained: the returned labels frame reads them lazily.
      deleteCkptDirs(spark, edgeDirs)
      edges = next
      edgeDirs = nextDirs
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxRounds rounds " +
        "(alternating large-star/small-star is O(log n) — this graph should be impossible)")
    // At the fixpoint the edge set is a union of stars rooted at each
    // component minimum; read labels off the closed neighborhood minimum
    // (roots label themselves).
    val labels = symmetrize(edges).groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u").as("doc_id"), least(col("u"), col("mn")).as("canonical_id"))
    (labels, rounds)
  }

  /** Dedup GROUP resolution — the endgame of the near-dup pipeline:
    * connected components over the LSH candidate-pair graph, each doc
    * mapped to its group's canonical id (the minimum doc_id in the
    * component). Computed by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): each round is two groupBy-min + join passes that rewire
    * edges toward local minima, and the edge set provably contracts to a
    * union of min-rooted stars in O(log n) rounds regardless of graph
    * diameter — a 100 TB chain-shaped graph takes ~a dozen rounds, not
    * O(diameter). Every round lands a reliable `checkpoint()` (persisted
    * first, previous round's files deleted) so the plan never deepens and
    * the loop survives executor loss. The DuckDB oracle computes the same
    * components with a RECURSIVE transitive closure — a cross-algorithm
    * check.
    */
  private val dedupGroups = QueryDef(
    "llm_dedup_groups",
    (s, dir) => connectedComponents(connectivityEdges(s, dir)).orderBy("doc_id"),
    Some(s"""WITH $lshOracleCtes,
           |$ccOracleCtes
           |SELECT src AS doc_id,
           |       least(src, min(dst)) AS canonical_id
           |FROM reach GROUP BY src
           |ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination — the overlap check run before training:
    * find corpus documents sharing word 3-shingles with a held-out eval
    * set (here: doc_id < 10 stands in for the benchmark). Both sides
    * shingle map-side; the overlap is an equi-join on the shingle (the
    * eval side is tiny → broadcast, so the corpus never shuffles), then
    * a per-pair count with a ≥ 3 shared-shingles flag threshold. At
    * 100 TB this is one broadcast-hash-join pass over the corpus.
    */
  private val decontaminate = QueryDef(
    "llm_decontaminate",
    (s, dir) => {
      val sh = shingles(s, dir)
      val evalSh = sh.filter(col("doc_id") < 10)
        .select(col("doc_id").as("eval_id"), col("shingle").as("esh")).distinct()
      // Join BEFORE deduplicating the corpus side: a pre-join distinct
      // would shuffle every (doc, shingle) of the whole corpus, while
      // the broadcast join first shrinks it to eval-matching shingles —
      // the post-join distinct then dedups a tiny frame. Same distinct
      // (train, eval, shingle) triples either way.
      sh.filter(col("doc_id") >= 10)
        .select(col("doc_id").as("train_id"), col("shingle"))
        .join(broadcast(evalSh), col("shingle") === col("esh"))
        .select("train_id", "eval_id", "shingle").distinct()
        .groupBy("train_id", "eval_id")
        .agg(count(lit(1)).as("shared_shingles"))
        .filter(col("shared_shingles") >= 3)
        .orderBy("train_id", "eval_id")
    },
    Some("""WITH sh AS (
           |  SELECT DISTINCT doc_id, shingle FROM (
           |    SELECT doc_id, unnest(list_transform(
           |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
           |      i -> string_split(text, ' ')[i] || ' ' ||
           |           string_split(text, ' ')[i+1] || ' ' ||
           |           string_split(text, ' ')[i+2])) AS shingle
           |    FROM documents))
           |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
           |       count(*) AS shared_shingles
           |FROM (SELECT * FROM sh WHERE doc_id >= 10) t
           |JOIN (SELECT * FROM sh WHERE doc_id < 10) e USING (shingle)
           |GROUP BY 1, 2 HAVING count(*) >= 3
           |ORDER BY train_id, eval_id""".stripMargin))

  /** Intra-document repetition score (the Gopher-style quality signal):
    * 1 − distinct/total word 3-shingles. High values mean boilerplate /
    * template loops. Pure map-side per row — the shingle array never
    * leaves the task, so this is a narrow transform at any scale.
    */
  private val repetition = QueryDef(
    "llm_repetition",
    (s, dir) => Tables.loadSpread(s, dir, "documents")
      .withColumn("words", splitLit(col("text"), " "))
      .withColumn("sh", expr(
        """CASE WHEN size(words) < 3 THEN array()
          |     ELSE transform(sequence(1, size(words) - 2),
          |            i -> concat_ws(' ', words[i-1], words[i], words[i+1])) END""".stripMargin))
      .select(col("doc_id"),
        size(col("sh")).as("n_shingles"),
        size(array_distinct(col("sh"))).as("n_distinct"),
        roundTo(when(size(col("sh")) > 0,
          lit(1.0) - size(array_distinct(col("sh"))).cast("double") / size(col("sh")))
          .otherwise(0.0), 4).as("repetition"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  CAST(len(sh) AS INTEGER) AS n_shingles,
           |  CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct,
           |  floor(CASE WHEN len(sh) > 0
           |        THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
           |        ELSE 0.0 END * 10000.0 + 0.5) / 10000.0 AS repetition
           |FROM (
           |  SELECT doc_id, list_transform(
           |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
           |    i -> string_split(text, ' ')[i] || ' ' ||
           |         string_split(text, ' ')[i+1] || ' ' ||
           |         string_split(text, ' ')[i+2]) AS sh
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Capstone curation pipeline — the composed filter a pretraining
    * dataprep run applies, as ONE query: keep a document iff it is
    * (a) the exact-dedup canonical of its content hash, (b) not a
    * non-canonical member of an LSH near-dup group, and (c) within
    * token-count bounds. Each stage reuses the verified building blocks
    * (hash-group canonical, `connectedComponents` over `lshPairs`,
    * whitespace token count); the near-dup drop list is
    * corpus-proportional on a duplicate-heavy corpus (large exactly when
    * dedup matters), so its exclusion stays a shuffled anti join on
    * doc_id — deliberately NOT broadcast.
    */
  private val curation = QueryDef(
    "llm_curation_pipeline",
    (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
        .withColumn("ws_tokens", size(splitLit(col("text"), " ")).cast("long"))
      // doc_id is unique, so membership in the canonical-id set alone
      // selects the canonical rows (mirrors the oracle's IN formulation;
      // no second md5 pass on the probe side).
      val exactCanon = Tables.loadSpread(s, dir, "documents")
        .groupBy(md5(col("text")).as("ck")).agg(min("doc_id").as("keep_id"))
        .select("keep_id")
      // NOT broadcast: the drop list is corpus-proportional on a
      // duplicate-heavy corpus (it is large exactly when dedup matters),
      // so the exclusion stays a shuffled anti join on doc_id.
      val nearDupDrop = connectedComponents(connectivityEdges(s, dir))
        .filter(col("doc_id") =!= col("canonical_id"))
        .select(col("doc_id").as("drop_id"))
      docs
        .join(exactCanon, col("doc_id") === col("keep_id"), "left_semi")
        .join(nearDupDrop, col("doc_id") === col("drop_id"), "left_anti")
        .filter(col("ws_tokens").between(5, 1000))
        .select("doc_id", "lang", "source", "ws_tokens")
        .orderBy("doc_id")
    },
    Some(s"""WITH $lshOracleCtes,
           |$ccOracleCtes,
           |near_drop AS (
           |  SELECT src AS doc_id FROM reach GROUP BY src
           |  HAVING least(src, min(dst)) <> src),
           |exact_canon AS (
           |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text))
           |SELECT doc_id, lang, source,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
           |FROM documents d
           |WHERE doc_id IN (SELECT keep_id FROM exact_canon)
           |  AND doc_id NOT IN (SELECT doc_id FROM near_drop)
           |  AND len(string_split(text, ' ')) BETWEEN 5 AND 1000
           |ORDER BY doc_id""".stripMargin))

  /** PageRank centrality over the near-dup candidate graph — 3 fixed
    * iterations, damping 0.85, undirected edges from [[lshPairs]]. In a
    * duplicate cluster the highest-centrality member is the natural
    * canonical pick (the doc most "agreed with" by its near-copies), a
    * complementary signal to `llm_dedup_groups`'s min-id convention.
    *
    * Exact cross-engine arithmetic: ranks live at a fixed 1e12 integer
    * scale and every step is BIGINT — `pr div outdeg` per edge
    * (truncating division; DuckDB's floor `//` agrees on non-negatives),
    * an exact integer sum of contributions, then
    * `base + (85·S) div 100`. No floating point anywhere, so iteration
    * order and partial-sum order cannot perturb the hash. Dangling and
    * isolated docs keep the undamped base share (no dangling-mass
    * redistribution — the standard simplification, stated here so the
    * oracle pins it).
    *
    * Scale shape (100 TB): classic distributed PageRank — per iteration
    * ONE shuffle of edge contributions keyed by dst plus an aggregate;
    * the degree table joins the edge list once, outside the loop. Three
    * unrolled iterations keep the lineage shallow enough to skip
    * checkpointing; a converging variant would reuse the
    * [[checkpointDir]] discipline of the CC loop.
    */
  private val dupPagerank = QueryDef(
    "llm_dup_pagerank",
    (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents").select("doc_id")
      // Checkpoint the candidate pairs: the LSH pipeline (shingle →
      // minhash → band join) is the expensive subtree and it feeds deg,
      // all three iteration joins, and the final degree join — without
      // materialization, exchange reuse is at AQE's mercy across ~7
      // consumers (probed: the uncached plan re-scans documents ~20x).
      // A reliable checkpoint (not persist) both truncates the lineage —
      // so the iteration joins re-plan a parquet scan, not the LSH
      // subtree (the round-6 19.6 s cold vs 5.5 s warm gap) — and leaves
      // no cache entry behind in the long-lived bench JVM. The pair list
      // is near-dup-sized (two longs per candidate), orders of magnitude
      // smaller than the corpus.
      val pairs = checkpointSlot("llm_dup_pagerank", rankPairs(s, dir))
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // Degree joins the edge list ONCE; the loop only re-joins ranks.
      val edgesDeg = edges.join(deg, "src")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val base = expr("150000000000L div n_docs") // (1e12 * 15/100) div N
      var pr = docs.crossJoin(broadcast(n))
        .select(col("doc_id"), col("n_docs"),
          expr("1000000000000L div n_docs").as("pr"))
      for (_ <- 1 to 3) {
        val contrib = edgesDeg
          .join(pr.select(col("doc_id").as("src"), col("pr").as("src_pr")), "src")
          .select(col("dst"), expr("src_pr div outdeg").as("c"))
          .groupBy("dst").agg(sum("c").as("s"))
        pr = pr.join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_docs"),
            (base + expr("(85 * coalesce(s, 0L)) div 100")).as("pr"))
      }
      pr.join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("pr").as("pr3"),
          coalesce(col("outdeg"), lit(0L)).as("degree"))
        .orderBy("doc_id")
    },
    Some {
      def iter(i: Int, prev: String) =
        s"""it$i AS (
           |  SELECT d.doc_id, n.n_docs,
           |    (150000000000 // n.n_docs) + ((85 * coalesce(c.s, 0)) // 100) AS pr
           |  FROM documents d CROSS JOIN nd n
           |  LEFT JOIN (SELECT e.dst, sum(p.pr // g.outdeg) AS s
           |             FROM edges e JOIN deg g ON g.src = e.src
           |             JOIN $prev p ON p.doc_id = e.src
           |             GROUP BY e.dst) c ON c.dst = d.doc_id)""".stripMargin
      s"""WITH $lshOracleCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION ALL SELECT doc_b, doc_a FROM cand),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |pr0 AS (
         |  SELECT d.doc_id, n.n_docs, 1000000000000 // n.n_docs AS pr
         |  FROM documents d CROSS JOIN nd n),
         |${iter(1, "pr0")},
         |${iter(2, "it1")},
         |${iter(3, "it2")}
         |SELECT t.doc_id, CAST(t.pr AS BIGINT) AS pr3,
         |  CAST(coalesce(g.outdeg, 0) AS BIGINT) AS degree
         |FROM it3 t LEFT JOIN deg g ON g.src = t.doc_id
         |ORDER BY t.doc_id""".stripMargin
    })

  /** PageRank iterated to CONVERGENCE — the production form of
    * [[dupPagerank]]'s fixed 3 unrolled iterations: keep iterating until
    * the summed per-round |Δrank| (L1) drops to
    * `spark.graft.pagerankEpsilon` (default 1e6 at the 1e12 integer
    * scale, i.e. 1e-6 of total mass), with the CC loop's checkpoint
    * discipline so the lineage never deepens and superseded round files
    * are deleted as the next block lands. Same exact BIGINT arithmetic
    * as the 3-iteration variant (truncating division, no floats), so the
    * iteration is deterministic; damping 85/100 contracts the L1 delta
    * by ≥0.85× per round, which both bounds total rounds at
    * log(Δ₀/ε)/log(100/85) (~57 for Δ₀ ≈ 1e12, `maxRounds = 200`
    * fail-fast) and lets [[pagerankBlockRounds]]-sized blocks run as one
    * lazy plan between materializations.
    * `PagerankConvergenceSpec` pins the bound and replays the identical
    * integer recurrence (including the block schedule) driver-side for
    * an exact cross-implementation rank check.
    *
    * The stop test is data-dependent, so (like `a3b`/`a22`) the DuckDB
    * oracle pins what IS statically checkable: the exact per-doc degree
    * table (graph structure, shared with [[dupPagerank]]'s fully exact
    * oracle) plus rank-sanity and convergence flags computed as Spark-side
    * invariants — every rank in [base, 1e12] and the final delta under
    * epsilon.
    *
    * Scale shape (100 TB): pair list checkpointed once; per round ONE
    * dst-keyed shuffle of contributions over the (docs-sized, far smaller
    * than the corpus) rank table, a checkpoint write of that table, and
    * one max-delta action.
    */
  /** Rounds to run lazily before the next materialize-and-measure: the
    * contribution operator is column-stochastic over out-degreed nodes,
    * so the L1 (summed |Δrank|) delta contracts by ≥0.85× per round —
    * which makes log(delta/eps)/log(100/85) a sound LOWER bound on the
    * rounds still needed once `delta` is observed. (The per-node MAX
    * delta has no such bound: an in-degree hub can transiently amplify
    * it.) Capped at 16 so the un-materialized join lineage stays
    * bounded: the round-7 cap of 5 put ~13 checkpoint+action cycles on
    * the critical path for a default-eps run whose rank table is tiny
    * compared to its fixed per-block cost — measured at sf0.1, raising
    * the cap to 16 (≈5 cycles for ~57 rounds) roughly halves the row's
    * wall time while each block still plans and codegens in one piece.
    * The schedule stays a pure function of (delta, eps) so
    * `PagerankConvergenceSpec`'s driver-side replay reproduces it
    * exactly.
    */
  private[graft] def pagerankBlockRounds(delta: Long, eps: Long): Int =
    if (delta == Long.MaxValue) 1
    else math.min(16, math.max(1,
      math.ceil(math.log(delta.toDouble / eps) / math.log(100.0 / 85.0)).toInt))

  /** The iteration loop of [[dupPagerankConv]], factored out so
    * `PagerankConvergenceSpec` can drive it over small synthetic graphs
    * and replay the identical integer recurrence driver-side. `docs` has
    * column doc_id; `pairs` has doc_a/doc_b (undirected, doc_a < doc_b).
    * Returns (frame with doc_id / n_docs / pr / degree, rounds run,
    * final L1 delta); throws if `maxRounds` is exhausted before the
    * summed per-round |Δrank| drops to `eps`.
    *
    * Convergence is checked per BLOCK, not per round: after each
    * measurement, [[pagerankBlockRounds]] rounds run as one lazy plan
    * (no per-round action), then one checkpoint + one L1-delta action
    * lands the block — ~57 default-eps rounds cost ~13 Spark jobs
    * instead of 57, and round N-1's checkpoint files are deleted as
    * round N's land. At 100 TB each skipped materialization is a full
    * write+read of the rank table.
    */
  private[graft] def pagerankConvergedStats(docs: DataFrame, pairs: DataFrame,
      eps: Long, maxRounds: Int = 200, nOverride: Option[Long] = None,
      /** Skip the driver-tier crossover: the conv row's sampled
        * cross-check exists to exercise the DISTRIBUTED block loop, so
        * it must not silently route its (deliberately budget-sized)
        * component to the local solver.
        */
      forceDistributed: Boolean = false,
      /** The caller already semi-join-cleaned `pairs` against `docs`
        * (both endpoints present) — skip the in-function cleaning pass
        * (two candidate-graph-sized joins Catalyst cannot eliminate).
        */
      preCleaned: Boolean = false): (DataFrame, Int, Long) = {
    val s = docs.sparkSession
    // Two-tier, same discipline as connected components: the rank table
    // is docs-sized and the edge list candidate-graph-sized — both far
    // smaller than the corpus — so below a threshold the whole
    // iteration runs as ONE driver-side integer loop (zero Spark jobs
    // per round) instead of ~60 shuffle+checkpoint rounds whose cost at
    // bench scale is pure fixed overhead. The recurrence, block
    // schedule, and stop test are IDENTICAL BIGINT arithmetic, so the
    // tiers agree bit-for-bit (`PagerankConvergenceSpec` pins local ==
    // distributed == spec replay). Above the threshold the checkpointed
    // distributed loop below is the 100 TB path.
    // Default 2M directed edges → a collect of ≤ 1M pair rows (~80 MB
    // transient on the driver, broadcast-build-side order) and integer
    // arrays the recurrence solves in milliseconds; above it, the
    // checkpointed distributed loop. The bound is on the EDGE LIST (the
    // collected data), never the doc column — isolated docs' ranks are
    // emitted distributedly from the closed form.
    val localMax = s.conf.get("spark.graft.pagerankLocalMaxEdges", "2000000").toLong
    // A pair with an endpoint outside `docs` is dropped up-front, for
    // BOTH tiers: previously the distributed tier kept such an edge in
    // the out-degree divisor while dropping its contribution (silently
    // leaking rank mass to a nonexistent doc), and the local tier's
    // HashMap lookup aliased the missing id to index 0. One semi-join
    // of the (candidate-graph-sized, ≪ corpus) pair list per call —
    // noise against the ~60 docs-sized rank-table rounds that follow.
    val docIdsAll = docs.select(col("doc_id"))
    val cleanPairs =
      if (preCleaned) pairs.select("doc_a", "doc_b")
      else pairs.select("doc_a", "doc_b")
        .join(docIdsAll.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "leftsemi")
        .join(docIdsAll.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "leftsemi")
    if (!forceDistributed && 2L * cleanPairs.count() <= localMax)
      return pagerankConvergedLocal(docs, cleanPairs, eps, maxRounds, nOverride)
    val edges = cleanPairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(cleanPairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // Deliberately NOT persisted: every round inside a lazy block
    // references the same edgesDeg subtree, and AQE's ReusedExchange
    // shares its one shuffle across all rounds of the block plan. A
    // persist here was measured ~2x SLOWER — the InMemoryRelation hides
    // the exchange, so every round re-shuffles the cached rows instead
    // of reusing the exchange output.
    val edgesDeg = edges.join(deg, "src")
    // `nOverride` embeds this solve in a larger graph (the oversized
    // components of [[pagerankComponents]]): base/init shares must use
    // the WHOLE corpus count, not the subgraph's.
    val n = nOverride match {
      case Some(v) => s.range(1).select(lit(v).as("n_docs"))
      case None => docs.agg(count(lit(1)).as("n_docs"))
    }
    val base = expr("150000000000L div n_docs")
    val docsN = docs.crossJoin(broadcast(n))
    var pr = docsN
      .select(col("doc_id"), col("n_docs"),
        expr("1000000000000L div n_docs").as("pr"))
    // Per-round contributions keyed by dst. The next rank table joins
    // them against the STATIC docsN frame, not against `cur` — `cur`
    // appears exactly once per round (inside contrib), so a k-round
    // lazy block's plan grows LINEARLY in k. The previous formulation
    // joined `cur` with contrib(cur), doubling the plan tree every
    // round (2^k leaves), which is what forced the old 5-round cap.
    def contribOf(cur: DataFrame): DataFrame = edgesDeg
      .join(cur.select(col("doc_id").as("src"), col("pr").as("src_pr")), "src")
      .select(col("dst"), expr("src_pr div outdeg").as("c"))
      .groupBy("dst").agg(sum("c").as("s"))
    def step(cur: DataFrame): DataFrame =
      docsN.join(contribOf(cur).withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_docs"),
          (base + expr("(85 * coalesce(s, 0L)) div 100")).as("pr"))
    var prDirs = Set.empty[String]
    var delta = Long.MaxValue
    var rounds = 0
    try {
      ccLock.synchronized {
        ensureCheckpointDir(s)
        while (delta > eps && rounds < maxRounds) {
          val k = pagerankBlockRounds(delta, eps)
          // k-1 linear rounds, then a final round that carries the
          // previous ranks so the block lands with the consecutive-round
          // L1 delta the stop test needs. `prev` feeds BOTH the final
          // step and the pr_prev join, so it is persisted for the
          // block's one action — without the cache the k-1-round chain
          // would execute twice per block.
          var cur = pr
          for (_ <- 1 until k) cur = step(cur)
          val prev = cur.persist(StorageLevel.MEMORY_AND_DISK)
          val cur2 = step(prev)
            .join(prev.select(col("doc_id"), col("pr").as("pr_prev")), Seq("doc_id"))
            .select(col("doc_id"), col("n_docs"), col("pr_prev"), col("pr"))
          val (cp, dirs) = reliableCheckpoint(cur2)
          rounds += k
          delta = cp.agg(sum(abs(col("pr") - col("pr_prev")))).head().getLong(0)
          prev.unpersist(blocking = false)
          deleteCkptDirs(s, prDirs)
          pr = cp.drop("pr_prev")
          prDirs = dirs
        }
      }
    } finally edgesDeg.unpersist(blocking = false)
    if (delta > eps) throw new IllegalStateException(
      s"pagerank did not converge to eps=$eps in $maxRounds rounds " +
        "(damping 85/100 contracts the L1 delta ≥0.85x per round — this should be impossible)")
    val out = pr.join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_docs"), col("pr"),
        coalesce(col("outdeg"), lit(0L)).as("degree"))
    (out, rounds, delta)
  }

  /** Local tier of [[pagerankConvergedStats]]: the identical integer
    * recurrence and block-granular stop test over driver arrays.
    *
    * The ONLY data collected to the driver is the (semi-join-filtered)
    * pair list itself — ≤ `spark.graft.pagerankLocalMaxEdges`/2 rows,
    * the exact quantity the tier guard bounded — never the doc-id
    * column: on a 100 TB corpus whose near-dup graph is sparse (the
    * realistic post-cleaning shape) docs ≫ edges, and a full-docs
    * collect under an edges-only guard is a driver OOM. Docs that
    * participate in no edge never receive contributions, so after the
    * first step they all sit at the closed-form base share
    * `150000000000 div n`; their ranks are emitted as a distributed
    * select (broadcast left join of the tiny participating-rank table
    * against `docs`), and their one nonzero L1-delta contribution — the
    * first block only, round 0 → 1, |init − base| each — is added
    * analytically so the stop test, round count, and final delta stay
    * bit-identical to the distributed tier.
    */
  /** The integer PageRank recurrence over index arrays — the shared
    * core of the driver tier ([[pagerankConvergedLocal]]) and the
    * per-component executor-local solver ([[pagerankComponents]]).
    * `nIso` isolated docs contribute `|init − base|` each to the first
    * block's measured delta (they move exactly once, round 0 → 1) so a
    * caller embedding this solve in a larger graph keeps the stop test
    * bit-identical to the round-synchronized global loop. Returns
    * (ranks, rounds, final L1 delta); throws if `maxRounds` is
    * exhausted — damping 85/100 contracts the L1 delta ≥ 0.85× per
    * round, so non-convergence indicates a bug, not a hard graph.
    */
  private def solveRankArrays(n: Int, srcs: Array[Int], dsts: Array[Int],
      outdeg: Array[Long], base: Long, init: Long, eps: Long, maxRounds: Int,
      nIso: Long): (Array[Long], Int, Long) = {
    val m = srcs.length
    var pr = Array.fill(n)(init)
    var prev = pr
    var delta = Long.MaxValue
    var rounds = 0
    while (delta > eps && rounds < maxRounds) {
      val k = pagerankBlockRounds(delta, eps)
      val blockStart = rounds
      for (_ <- 1 to k) {
        prev = pr
        val contrib = new Array[Long](n)
        var e = 0
        while (e < m) {
          contrib(dsts(e)) += prev(srcs(e)) / outdeg(srcs(e))
          e += 1
        }
        pr = Array.tabulate(n)(d => base + 85L * contrib(d) / 100L)
      }
      rounds += k
      var acc = 0L
      var d = 0
      while (d < n) { acc += math.abs(pr(d) - prev(d)); d += 1 }
      // Isolated docs move exactly once, init → base on round 0 → 1; the
      // block whose measured step is round 0 → 1 (the first block, which
      // always has k = 1) carries their whole delta, every later block 0.
      if (blockStart + k == 1) acc += nIso * math.abs(init - base)
      delta = acc
    }
    if (delta > eps) throw new IllegalStateException(
      s"pagerank did not converge to eps=$eps in $maxRounds rounds " +
        "(damping 85/100 contracts the L1 delta ≥0.85x per round — this should be impossible)")
    (pr, rounds, delta)
  }

  private def pagerankConvergedLocal(docs: DataFrame, pairs: DataFrame,
      eps: Long, maxRounds: Int, nOverride: Option[Long] = None): (DataFrame, Int, Long) = {
    val s = docs.sparkSession
    // Total corpus size is an aggregate, not a collect.
    val nTotal = nOverride.getOrElse(docs.agg(count(lit(1))).head().getLong(0))
    require(nTotal > 0, "pagerank over an empty docs frame")
    val docIds = docs.select(col("doc_id"))
    // `pairs` arrives pre-filtered to docs endpoints by the caller, so
    // every collected id resolves in the index by construction.
    // Edges collect as per-partition PACKED primitive long arrays (a,b
    // interleaved), not Rows: the driver tier is bounded by
    // pagerankLocalMaxEdges (2M pairs), and 2M Row objects cost ~10x
    // the raw 32 MB of two long columns in driver heap/GC; packed
    // chunks hold exactly 16 bytes/pair with one object per partition.
    import s.implicits._
    val chunks: Array[Array[Long]] = pairs
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { case (a, b) => buf += a; buf += b }
        Iterator.single(buf.result())
      }.collect()
    val mEnds = chunks.iterator.map(_.length).sum
    // Participating ids only (≤ 2×pairs): sort-dedup one primitive
    // array, then resolve indices by binary search — zero boxing.
    val ids = {
      val all = new Array[Long](mEnds)
      var w0 = 0
      chunks.foreach { c => System.arraycopy(c, 0, all, w0, c.length); w0 += c.length }
      java.util.Arrays.sort(all)
      var u = 0
      var i = 0
      while (i < all.length) {
        if (u == 0 || all(i) != all(u - 1)) { all(u) = all(i); u += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, u)
    }
    val n = ids.length
    val nIso = nTotal - n
    // Each pair contributes two directed edges; mEnds is already
    // 2 x pairs (endpoints), which equals the directed-edge count.
    val m = mEnds
    val srcs = new Array[Int](m)
    val dsts = new Array[Int](m)
    var w = 0
    chunks.foreach { c =>
      var i = 0
      while (i < c.length) {
        val a = java.util.Arrays.binarySearch(ids, c(i))
        val b = java.util.Arrays.binarySearch(ids, c(i + 1))
        srcs(w) = a; dsts(w) = b; w += 1
        srcs(w) = b; dsts(w) = a; w += 1
        i += 2
      }
    }
    val outdeg = new Array[Long](n)
    srcs.foreach(si => outdeg(si) += 1)
    val base = 150000000000L / nTotal
    val init = 1000000000000L / nTotal
    val (pr, rounds, delta) =
      solveRankArrays(n, srcs, dsts, outdeg, base, init, eps, maxRounds, nIso)
    val isoFinal = if (rounds == 0) init else base
    val partDf = ids.indices.map(d => (ids(d), pr(d), outdeg(d)))
      .toDF("doc_id", "pr_part", "deg_part")
    val out = docIds.join(broadcast(partDf), Seq("doc_id"), "left")
      .select(col("doc_id"), lit(nTotal).as("n_docs"),
        coalesce(col("pr_part"), lit(isoFinal)).as("pr"),
        coalesce(col("deg_part"), lit(0L)).as("degree"))
    (out, rounds, delta)
  }

  /** Component-partitioned converging PageRank — the 100 TB deployment
    * form of [[pagerankConvergedStats]]. With uniform teleport the
    * recurrence is block-diagonal over connected components (an edge
    * never crosses components, and the base share is per-node), so each
    * component's fixed point is independent: instead of ~60 GLOBAL
    * round-synchronized shuffles over the whole rank table, close the
    * candidate graph into components once (the CC machinery this file
    * already has) and solve every component WHERE IT LIVES — a
    * `flatMapGroups` over component-grouped edges runs the identical
    * integer recurrence ([[solveRankArrays]]) entirely inside one task,
    * zero shuffles per round. On a near-dup graph (small cliques by
    * construction after curation) this turns the heaviest iterative
    * operator in the engine into one CC pass + one embarrassingly
    * parallel map.
    *
    * Tiering: components whose edge list exceeds
    * `spark.graft.pagerankLocalMaxEdges` (a giant hub cluster — rare
    * post-dedup, but 100 TB guarantees SOME pathology) are NOT solved
    * in-task: their union subgraph routes to the checkpointed
    * distributed loop with the corpus-global `nOverride`, so memory per
    * task stays bounded by the conf. Isolated docs take the closed-form
    * base share directly.
    *
    * Semantics vs the global loop: each component stops when ITS L1
    * delta ≤ eps (the global loop stops on the SUMMED delta). On a
    * connected graph with no isolated docs the schedules coincide and
    * the ranks are bit-identical (spec-pinned); on multi-component
    * graphs every component is AT LEAST as converged as the global run
    * and ranks agree within the eps tolerance (spec-pinned bound).
    * Degrees are exact either way, which is what the DuckDB oracle
    * pins row-for-row.
    */
  private[graft] def pagerankComponents(docs: DataFrame, pairs: DataFrame,
      eps: Long, maxRounds: Int = 200,
      connectivity: Option[DataFrame] = None,
      /** Embeds this solve in a larger corpus (the conv row's sampled
        * cross-check solves the non-sampled remainder here): base/init
        * shares use the WHOLE corpus count, and the returned `n_docs`
        * column carries it.
        */
      nOverride: Option[Long] = None,
      /** A (doc_id, canonical_id) component assignment the caller
        * already computed over (a superset of) `pairs` — skips the CC
        * pass. Ownership transfers: this frame is persisted/unpersisted
        * inside.
        */
      precomputedAssign: Option[DataFrame] = None,
      /** `pairs` is already endpoint-cleaned against `docs` — skip the
        * in-function semi-join pass (see pagerankConvergedStats).
        */
      preCleaned: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val nTotal = nOverride.getOrElse(docs.agg(count(lit(1))).head().getLong(0))
    require(nTotal > 0, "pagerank over an empty docs frame")
    val docIdsAll = docs.select(col("doc_id"))
    val cleanPairs = (
      if (preCleaned) pairs.select("doc_a", "doc_b")
      else pairs.select("doc_a", "doc_b")
        .join(docIdsAll.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "leftsemi")
        .join(docIdsAll.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "leftsemi")
      ).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Same driver-tier crossover as the global loop: a graph whose
      // WHOLE edge list fits the driver bound has nothing to gain from
      // the CC + per-component machinery — one driver solve is strictly
      // cheaper and bit-identical on connected graphs (per-component
      // stop ≡ global stop there; elsewhere both are within eps, which
      // is all this form promises). The CC + flatMapGroups path below
      // is for graphs whose edge list does NOT fit anywhere whole.
      val localMax = s.conf.get("spark.graft.pagerankLocalMaxEdges", "2000000").toLong
      if (2L * cleanPairs.count() <= localMax) {
        val (ranks, _, _) =
          pagerankConvergedStats(docs, cleanPairs, eps, maxRounds, nOverride,
            preCleaned = true)
        return ranks.select("doc_id", "pr", "degree", "n_docs")
      }
      val base = 150000000000L / nTotal
      val init = 1000000000000L / nTotal
      // The component assignment only needs CONNECTIVITY. A caller whose
      // pair list is banded cliques can hand the star-contracted edge
      // list ([[bandStarEdges]] — same closure, linear instead of
      // quadratic in bucket occupancy) so the CC pass never touches the
      // clique volume; degrees and per-component solves still run over
      // the full `pairs`. Contract: the connectivity frame's closure
      // restricted to `docs` must equal `pairs`' closure — callers with
      // a docs subset that drops pair endpoints must not pass one.
      val assign = precomputedAssign.getOrElse(connectedComponents(
          connectivity.getOrElse(cleanPairs)
        )).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val comped = cleanPairs.join(
          assign.select(col("doc_id").as("doc_a"), col("canonical_id").as("comp")), "doc_a")
          .select("comp", "doc_a", "doc_b")
        // The in-task bound is deliberately SEPARATE from (and much
        // higher than) the driver-local tier's conf: a component solve
        // runs inside ONE executor task whose only footprint is the
        // component's primitive edge arrays (~16 bytes/edge), so 2M
        // edges ≈ 32 MB — trivially within any executor's task budget,
        // while the same figure would be reckless as a DRIVER collect
        // bound shared by every concurrently-running query. Measured at
        // sf3: one 194k-edge component under the old shared 100k bound
        // routed a 570-node subgraph through the full checkpointed
        // distributed loop — ~35 s of pure per-block fixed cost for a
        // solve the in-task tier does in milliseconds.
        // Default 16M (round 13): ~256 MB/task of primitive longs —
        // sized so every post-rankEdgeCap component (worst sub-cap
        // class ≈ bands × C(1023,2) ≈ 4M edges) solves in-task; the
        // sf3d probe showed the distributed loop's ~85 rounds × fixed
        // per-round cost dominating whenever a hot component missed
        // this tier.
        val maxEdges = s.conf.get("spark.graft.pagerankComponentMaxEdges", "16000000").toLong
        val counts = comped.groupBy("comp").agg(count(lit(1)).as("np"))
        val bigComps = counts.filter(col("np") * 2 > maxEdges).select("comp")
          .as[Long].collect().toSet // component COUNT is tiny (distinct canonical ids over threshold)
        val small = comped.filter(!col("comp").isin(bigComps.toSeq: _*))
        val solvedSmall = small.as[(Long, Long, Long)]
          .groupByKey(_._1)
          .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Long)]) =>
            // One streaming pass into primitive buffers — at the 2M-edge
            // in-task bound a boxed Tuple3 array would cost ~5x the
            // primitive footprint for no reason.
            var pa = new Array[Long](1024)
            var pb = new Array[Long](1024)
            var np = 0
            while (it.hasNext) {
              val p = it.next()
              if (np == pa.length) {
                pa = java.util.Arrays.copyOf(pa, np * 2)
                pb = java.util.Arrays.copyOf(pb, np * 2)
              }
              pa(np) = p._2; pb(np) = p._3; np += 1
            }
            val idx = new java.util.HashMap[Long, Int](np * 2)
            val idBuf = new Array[Long](2 * np)
            var n = 0
            var r = 0
            while (r < np) {
              if (!idx.containsKey(pa(r))) { idx.put(pa(r), n); idBuf(n) = pa(r); n += 1 }
              if (!idx.containsKey(pb(r))) { idx.put(pb(r), n); idBuf(n) = pb(r); n += 1 }
              r += 1
            }
            val ids = java.util.Arrays.copyOf(idBuf, n)
            val m = np * 2
            val srcs = new Array[Int](m)
            val dsts = new Array[Int](m)
            var w = 0
            r = 0
            while (r < np) {
              val a = idx.get(pa(r)); val b = idx.get(pb(r))
              srcs(w) = a; dsts(w) = b; w += 1
              srcs(w) = b; dsts(w) = a; w += 1
              r += 1
            }
            val outdeg = new Array[Long](n)
            srcs.foreach(si => outdeg(si) += 1)
            val (pr, _, _) =
              solveRankArrays(n, srcs, dsts, outdeg, base, init, eps, maxRounds, 0L)
            ids.indices.iterator.map(d => (ids(d), pr(d), outdeg(d)))
          }
          .toDF("doc_id", "pr", "degree")
        val solvedBig =
          if (bigComps.isEmpty)
            s.emptyDataset[(Long, Long, Long)].toDF("doc_id", "pr", "degree")
          else {
            val bigPairs = comped.filter(col("comp").isin(bigComps.toSeq: _*))
              .select("doc_a", "doc_b")
            val bigDocs = assign
              .filter(col("canonical_id").isin(bigComps.toSeq: _*))
              .select("doc_id")
            // Endpoint-complete w.r.t. bigDocs by the CC contract (a
            // pair's endpoints share a component) — skip the cleaning.
            pagerankConvergedStats(bigDocs, bigPairs, eps, maxRounds, Some(nTotal),
              preCleaned = true)
              ._1.select("doc_id", "pr", "degree")
          }
        val iso = docIdsAll
          .join(assign.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit(base).as("pr"), lit(0L).as("degree"))
        // Unpersisting the inputs in the finally blocks only drops the
        // caches — the returned frame's lineage recomputes them if a
        // consumer runs after this call, so the result stays correct
        // (just uncached) in lazy use.
        solvedSmall.unionAll(solvedBig).unionAll(iso)
          .withColumn("n_docs", lit(nTotal))
      } finally assign.unpersist(blocking = false)
    } finally cleanPairs.unpersist(blocking = false)
  }

  /** The conv row's solve: the global block loop on the whole graph, or
    * — above the driver tier under `pagerankConvSampleComponents=auto`
    * (or an explicit K) — on its K heaviest components only, with the
    * remainder solved through [[pagerankComponents]] at the
    * corpus-global base share. Returns (ranks with doc_id/n_docs/pr/
    * degree, the SAMPLED loop's final L1 delta). See the conv QueryDef
    * scaladoc and SCALE.md for the cross-check contract.
    */
  private[graft] def pagerankConvSampled(docs: DataFrame, pairs: DataFrame,
      eps: Long,
      /** Star-contracted connectivity for the CC pass (same closure as
        * `pairs`, linear in bucket occupancy — the comp row's rule); CC
        * over the clique pairs otherwise.
        */
      connectivity: Option[DataFrame] = None): (DataFrame, Long) = {
    val s = docs.sparkSession
    import s.implicits._
    val localMax = s.conf.get("spark.graft.pagerankLocalMaxEdges", "2000000").toLong
    val docIdsAll = docs.select(col("doc_id"))
    val cleanPairs = pairs.select("doc_a", "doc_b")
      .join(docIdsAll.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "leftsemi")
      .join(docIdsAll.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "leftsemi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val k = s.conf.get("spark.graft.pagerankConvSampleComponents", "auto") match {
        case "auto" => if (2L * cleanPairs.count() <= localMax) 0 else 1
        case "full" | "0" => 0
        case other => other.toInt
      }
      if (k == 0) {
        val (r, _, d) = pagerankConvergedStats(docs, cleanPairs, eps,
          preCleaned = true)
        (r.select("doc_id", "n_docs", "pr", "degree"), d)
      } else {
        val nTotal = docs.agg(count(lit(1))).head().getLong(0)
        val assign = connectedComponents(connectivity.getOrElse(cleanPairs))
          .persist(StorageLevel.MEMORY_AND_DISK)
        assign.count()
        try {
          // Component choice: the cross-check samples the LARGEST
          // component whose directed edges fit
          // `pagerankConvSampleMaxEdges` (default 65536) and runs it
          // through the block loop with `forceDistributed` — the whole
          // point is exercising the DISTRIBUTED path; letting the
          // size-based router send the sample to the local solver would
          // certify nothing. The certified property — block loop ≡
          // integer recurrence at corpus-global teleport — does not
          // depend on WHICH component carries it or on its volume, and
          // volume is actively hostile here: post-star-cap hot classes
          // are hub-STARS, so the loop's per-round groupBy(dst) funnels
          // a big component into one reducer (measured 237 s on a 637k-
          // pair star, ~100 s on the 4M-pair heaviest — vs ~85 rounds of
          // small-shuffle fixed cost on a budget-sized one). Fallback
          // when every component exceeds the budget: the smallest one.
          val sampleMax =
            s.conf.get("spark.graft.pagerankConvSampleMaxEdges", "65536").toLong
          val counts = cleanPairs
            .join(assign.select(col("doc_id").as("doc_a"),
              col("canonical_id").as("comp")), "doc_a")
            .groupBy("comp").agg(count(lit(1)).as("ne"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          val topK = try {
            val underBudget = counts.filter(col("ne") * 2 <= sampleMax)
              .orderBy(col("ne").desc, col("comp")).limit(k)
              .select("comp").as[Long].collect()
            val picked =
              if (underBudget.nonEmpty) underBudget
              else counts.orderBy(col("ne").asc, col("comp")).limit(k)
                .select("comp").as[Long].collect()
            picked.toSet
          } finally counts.unpersist(blocking = false)
          // bigDocs is CHECKPOINTED, not just cached: the block loop's
          // plans embed the docs subtree ~5× per round and Catalyst
          // re-ANALYZES the growing chain at every step() — with the CC
          // output's deep logical plan as the leaf that analysis alone
          // measured ~100 s for an 11-round block; a file-scan leaf
          // makes it trivial (persist() does not help — the LOGICAL
          // plan keeps the full subtree, only execution hits the cache).
          val bigDocs = checkpointSlot("pagerank_conv_bigdocs",
            assign.filter(col("canonical_id").isin(topK.toSeq: _*))
              .select("doc_id"))
          locally {
            // The sampled edge list MUST be file-backed before the loop:
            // a lazy semi-join over the corpus-wide pair cache re-executes
            // under every block plan (~85 rounds never finished at sf3d);
            // checkpointed, the loop's edgesDeg sits on a small file scan
            // and the per-round exchange reuse works as designed.
            val bigPairs = checkpointSlot("pagerank_conv_big",
              cleanPairs.join(
                bigDocs.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "leftsemi"))
            // bigPairs is endpoint-complete w.r.t. bigDocs by the CC
            // contract (a pair's endpoints share a component), so the
            // in-function cleaning pass is redundant.
            val (rBig, _, d) =
              pagerankConvergedStats(bigDocs, bigPairs, eps, nOverride = Some(nTotal),
                forceDistributed = true, preCleaned = true)
            val restDocs = docs.join(bigDocs, Seq("doc_id"), "left_anti")
            val restPairs = cleanPairs.join(
              bigDocs.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
            val restAssign = assign.filter(!col("canonical_id").isin(topK.toSeq: _*))
            // Checkpoint the rest-path ranks WHILE the caches are warm:
            // the returned frame's lineage otherwise re-runs the CC pass
            // and the per-component solves at every downstream action
            // (the caches drop in the finally blocks) — measured as most
            // of the row's cost once the sampled loop was bounded.
            val rRest = checkpointSlot("pagerank_conv_rest",
              pagerankComponents(restDocs, restPairs, eps,
                nOverride = Some(nTotal), precomputedAssign = Some(restAssign),
                preCleaned = true))
            (rBig.select("doc_id", "n_docs", "pr", "degree")
              .unionAll(rRest.select("doc_id", "n_docs", "pr", "degree")), d)
          }
        } finally assign.unpersist(blocking = false)
      }
    } finally cleanPairs.unpersist(blocking = false)
  }

  private val dupPagerankConv = QueryDef(
    "llm_dup_pagerank_conv",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.loadSpread(s, dir, "documents").select("doc_id")
      val eps = s.conf.get("spark.graft.pagerankEpsilon", "1000000").toLong
      // The checkpointed band table feeds both the capped clique pairs
      // (degree/solve semantics) and the star-contracted CC connectivity
      // — the comp row's rule. The PAIR SET is checkpointed too: the
      // block loop's per-round exchange reuse needs a file-backed scan
      // under edgesDeg (a cached lazy self-join re-shuffles per round —
      // measured 467 s vs 96 s at sf3d).
      val bands = checkpointSlot("llm_dup_pagerank_conv_bands", bandHashes(s, dir))
      val pairs = checkpointSlot("llm_dup_pagerank_conv",
        bandSelfPairsCapped(bands, rankEdgeCap(s, docs.count())))
      // This row is the global-convergence CROSS-CHECK of the
      // component-partitioned deployment path (`llm_dup_pagerank_comp`):
      // it runs the round-synchronized block loop and emits its actual
      // measured delta. Paying ~85 distributed rounds over the WHOLE
      // graph for a verification row is waste once the graph is large —
      // with uniform teleport the recurrence is block-diagonal over
      // components, so the loop's convergence behavior is fully
      // exercised by its K HEAVIEST components (the only ones whose
      // edge volume distinguishes the distributed loop from the local
      // recurrence). `spark.graft.pagerankConvSampleComponents`:
      // `auto` (default) = full global loop while the edge list fits
      // the driver tier (small/test scales keep the exact historical
      // behavior), sample the heaviest component above it; an
      // integer = sample that many; `full`/`0` = the whole-graph loop
      // as an explicit escape hatch. Non-sampled components solve
      // through [[pagerankComponents]] with the corpus-global
      // `nOverride` — ranks agree within eps (the comp row's
      // spec-pinned bound), degrees are exact everywhere, and the
      // `converged` flag certifies the SAMPLED loop's measured delta.
      // Contract details: SCALE.md §pagerank.
      val (ranks, delta) =
        pagerankConvSampled(docs, pairs, eps,
          connectivity = Some(bandStarEdges(bands)))
      ranks.select(col("doc_id"), col("degree"),
          (col("pr") >= expr("150000000000L div n_docs") &&
            col("pr") <= lit(1000000000000L)).as("rank_ok"),
          lit(delta <= eps).as("converged"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $lshOracleCtes,
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
           |          UNION ALL SELECT doc_b, doc_a FROM cand),
           |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
           |SELECT d.doc_id, CAST(coalesce(g.outdeg, 0) AS BIGINT) AS degree,
           |  true AS rank_ok, true AS converged
           |FROM documents d LEFT JOIN deg g ON g.src = d.doc_id
           |ORDER BY d.doc_id""".stripMargin))

  /** The component-partitioned form as an oracle row: same output shape
    * and the same exact-degree + invariant oracle as
    * `llm_dup_pagerank_conv`, but ranked through
    * [[pagerankComponents]] — one CC closure + per-component in-task
    * solves instead of the global shuffle-per-block loop. The value
    * agreement between the two forms (bit-identical on connected
    * graphs, within-eps elsewhere) is pinned in
    * `PagerankComponentsSpec`; this row pins the deployment path
    * end-to-end against DuckDB's exact degree table.
    */
  private val dupPagerankComp = QueryDef(
    "llm_dup_pagerank_comp",
    (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents").select("doc_id")
      val eps = s.conf.get("spark.graft.pagerankEpsilon", "1000000").toLong
      // ONE checkpoint of the band table feeds BOTH derivations — the
      // clique pairs (degree/solve semantics) and the star-contracted
      // connectivity. A separate connectivityEdges(s, dir) here would
      // re-run the whole minhash signature pipeline a second time
      // (measured +20 s at sf10p, erasing the star contraction's win).
      // Every doc in the band table is in `docs`, so the contraction
      // satisfies pagerankComponents' closure contract.
      val bands = checkpointSlot("llm_dup_pagerank_comp", bandHashes(s, dir))
      pagerankComponents(docs,
        bandSelfPairsCapped(bands, rankEdgeCap(s, docs.count())), eps,
        connectivity = Some(bandStarEdges(bands)))
        .select(col("doc_id"), col("degree"),
          (col("pr") >= expr("150000000000L div n_docs") &&
            col("pr") <= lit(1000000000000L)).as("rank_ok"),
          lit(true).as("converged")) // per-component solves throw on non-convergence
        .orderBy("doc_id")
    },
    Some(s"""WITH $lshOracleCtes,
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
           |          UNION ALL SELECT doc_b, doc_a FROM cand),
           |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
           |SELECT d.doc_id, CAST(coalesce(g.outdeg, 0) AS BIGINT) AS degree,
           |  true AS rank_ok, true AS converged
           |FROM documents d LEFT JOIN deg g ON g.src = d.doc_id
           |ORDER BY d.doc_id""".stripMargin))

  /** Representative selection after near-dup grouping — the step a
    * curation pipeline actually runs on [[dedupGroups]]'s output: for
    * every duplicate cluster keep ONE document, the highest-quality
    * member (here: max `n_chars`, the cheap length proxy; ties break to
    * the LOWEST doc_id so the pick is total-order deterministic).
    *
    * The argmax is the portable two-pass form — per-group max quality,
    * then min doc_id among the rows attaining it — instead of a packed
    * composite BIGINT key: doc_ids are unbounded ingest identifiers
    * (the scaled fixtures already carry ids ≈ 3·10^10), so a
    * `quality·K + (K−1−id)` encoding has no safe K, and DuckDB's
    * `arg_max` takes only scalar keys so a struct-ordering `max_by`
    * has no oracle equivalent. Scale shape: the group table is the
    * near-dup subset (corpus fraction), both aggregates shuffle on
    * `canonical_id`, and the tie-break join is equi on
    * (canonical_id, n_chars) — no global sort, no driver work beyond
    * the CC tier probe.
    */
  private val canonicalDocs = QueryDef(
    "llm_canonical_docs",
    (s, dir) => {
      val groups = connectedComponents(connectivityEdges(s, dir))
      val docs = Tables.loadSpread(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val j = groups.join(docs, "doc_id")
        .select(col("canonical_id"), col("doc_id"), col("n_chars"))
      // kept_doc = min doc_id among the group's max-n_chars rows — an
      // argmax, computed in the SAME aggregate as the group stats via a
      // deterministic struct-max (max n_chars, then max(-doc_id) ≡ min
      // doc_id; max_by would tie-break arbitrarily). The historical
      // best→join→filter→agg→join cascade paid two extra aggregates and
      // two joins over the group table for exactly this value (r15,
      // guide §2.4 remove shuffles outright; oracle unchanged).
      j.groupBy("canonical_id")
        .agg(count(lit(1)).as("group_size"),
          max(struct(col("n_chars").as("k"), (-col("doc_id")).as("nd"))).as("b"))
        .select(col("canonical_id"), col("group_size"),
          (-col("b.nd")).as("kept_doc"), col("b.k").as("kept_n_chars"))
        .orderBy("canonical_id")
    },
    Some(s"""WITH $lshOracleCtes,
           |$ccOracleCtes,
           |grp AS (
           |  SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
           |  FROM reach GROUP BY src),
           |j AS (
           |  SELECT g.canonical_id, d.doc_id, d.n_chars
           |  FROM grp g JOIN documents d USING (doc_id)),
           |best AS (
           |  SELECT canonical_id, count(*) AS group_size,
           |         max(n_chars) AS kept_n_chars
           |  FROM j GROUP BY canonical_id),
           |kept AS (
           |  SELECT j.canonical_id, min(j.doc_id) AS kept_doc
           |  FROM j JOIN best USING (canonical_id)
           |  WHERE j.n_chars = best.kept_n_chars
           |  GROUP BY j.canonical_id)
           |SELECT canonical_id, group_size, kept_doc, kept_n_chars
           |FROM best JOIN kept USING (canonical_id)
           |ORDER BY canonical_id""".stripMargin))

  /** Incremental (cross-shard) deduplication — the production shape: a
    * new ingest batch (here `source = 'src7'`, a deterministic 5% of the
    * corpus) is checked against the EXISTING lake by probing the lake's
    * LSH band index, without recomputing any lake-internal pairs. A
    * batch document whose any band bucket already exists on the lake
    * side is flagged `is_dup`.
    *
    * Scale shape (daily crawl vs 100 TB lake): the lake side reduces to
    * its DISTINCT (band_idx, band_hash) bucket list — the band INDEX, a
    * table the Engine's insert-overwrite materialization maintains
    * incrementally so a daily run scans only the batch plus the index,
    * never the lake's text. The probe is a semi-join on the band key
    * (content-distributed, skew-free), which can never row-multiply the
    * batch; in this self-contained oracle row the index is derived in
    * the same query from the unpartitioned corpus.
    */
  private val incrementalDedup = QueryDef(
    "llm_incremental_dedup",
    (s, dir) => {
      val src = Tables.loadSpread(s, dir, "documents").select(col("doc_id"), col("source"))
      // The lake-index probe as ONE pass over the tagged band table
      // (optimization round 14): the previous shape derived a lake
      // distinct and a batch side from the same frame and semi-joined
      // them — two band-key exchanges over two copies of the signature
      // pipeline once the map-side signatures lost their own
      // aggregation exchange (join reordering splits every
      // shared-exchange arrangement). A bucket-keyed window computes
      // the same membership — a batch doc hits iff ANY of its band
      // buckets contains a lake doc — with the corpus signed ONCE and
      // exactly one band-key exchange + within-partition sort (the
      // semi-join paid two exchanges and the same bucket-skew
      // exposure). Plan-locked in PlanAuditSpec: one minhash_sigs
      // projection, no row multiplication.
      val tagged = bandHashes(s, dir).join(src, "doc_id")
      val w = Window.partitionBy("band_idx", "band_hash")
      val hits = tagged
        .withColumn("has_lake",
          max(when(col("source") =!= "src7", lit(1)).otherwise(lit(0))).over(w))
        .filter(col("source") === "src7" && col("has_lake") === 1)
        .select("doc_id").distinct()
      src.filter(col("source") === "src7").select("doc_id")
        .join(hits.withColumn("hit", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_dup"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $lshOracleCtes,
           |tagged AS (
           |  SELECT b.doc_id, b.band_idx, b.band_hash, d.source
           |  FROM bands b JOIN documents d USING (doc_id)),
           |hits AS (
           |  SELECT DISTINCT t.doc_id FROM tagged t
           |  WHERE t.source = 'src7' AND EXISTS (
           |    SELECT 1 FROM tagged l
           |    WHERE l.source <> 'src7'
           |      AND l.band_idx = t.band_idx AND l.band_hash = t.band_hash))
           |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS is_dup
           |FROM (SELECT doc_id FROM documents WHERE source = 'src7') d
           |LEFT JOIN hits h USING (doc_id)
           |ORDER BY doc_id""".stripMargin))

  /** Star contraction of a band table for CONNECTIVITY-ONLY consumers:
    * within a (band_idx, band_hash) bucket every member is reachable
    * from every other through the bucket minimum, so the k-clique the
    * banded self-join would emit (C(k,2) pairs) and the star rooted at
    * the minimum (k−1 edges) have identical transitive closure. Any
    * operator that feeds [[connectedComponents]] and never looks at the
    * pair list itself (group resolution, canonical pick, curation drop
    * list, the component assignment inside PageRank) takes the star:
    * the edge volume drops from quadratic to linear in bucket occupancy
    * — at sf3 the same corpus yields 2.9M clique pairs vs ~450k star
    * edges — and the O(k²) within-bucket join never runs. Operators
    * whose SEMANTICS are the pairs (the pair-list row, jaccard/edit
    * verification, triangles, PageRank degrees) keep [[bandSelfPairs]].
    */
  private[graft] def bandStarEdges(b: DataFrame): DataFrame = {
    val w = Window.partitionBy("band_idx", "band_hash")
    b.select(col("band_idx"), col("band_hash"), col("doc_id"))
      .withColumn("root", min("doc_id").over(w))
      .filter(col("doc_id") =!= col("root"))
      .select(col("root").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** [[bandStarEdges]] over the corpus's MinHash band table — the
    * connectivity twin of [[lshPairs]].
    */
  private def connectivityEdges(s: SparkSession, dir: String): DataFrame =
    bandStarEdges(bandHashes(s, dir))

  /** Banded candidate self-join over one band table: pairs form only
    * inside a (band_idx, band_hash) bucket, `doc_a < doc_b`.
    *
    * Hot-bucket dial (round 13, the `--zipfdocs` lesson): a Zipf
    * duplicate-class corpus puts one ~10k-member near-dup class into
    * every band bucket it touches, and this self-join then emits
    * ~bands × C(c, 2) candidate rows — a 46.4M-pair single component at
    * sf3d (measured, `graft.tools.GraphStats`; `llm_dup_pagerank_comp`
    * single run 1489 s). That volume IS the answer for pair-emitting
    * contracts, but a ×(c/2) blow-up for per-DOC consumers (ranks).
    * When `spark.graft.lshMaxBucketRows` > 0, buckets above the cap
    * emit STAR edges around the bucket's min doc (c−1 rows) instead of
    * the clique. Stated exactly: candidate CONNECTIVITY is preserved (a
    * star spans its bucket — `LshBucketCapSpec` pins closure equality),
    * pair-level recall inside hot buckets drops to the star subset, and
    * degree-derived metrics become hub-capped — the deployment dial for
    * ranking over a boilerplate-heavy crawl. Default 0 = off: the
    * oracle rows pin the exact clique semantics.
    */
  private[graft] def bandSelfPairs(b: DataFrame): DataFrame =
    bandSelfPairsCapped(b,
      b.sparkSession.conf.get("spark.graft.lshMaxBucketRows", "0").toLong)

  /** The hot-bucket cap the RANK consumers (PageRank family) apply —
    * `spark.graft.pagerankMaxBucketRows`, default `auto` (the SemDeDup
    * auto-guard precedent: a corpus-size-blind default must not decide
    * 100×'s fate):
    *
    *  - `auto`, corpus ≤ 2^17 docs: defer to the global
    *    `lshMaxBucketRows` conf (0 = exact cliques) — every oracle and
    *    sub-sf1 bench scale stays bit-exact;
    *  - `auto`, corpus > 2^17 docs: star-cap buckets above 1024 rows
    *    (or tighter, if the global conf is) — a Zipf hot class's
    *    ~bands × C(c,2) candidate volume is what made the sf3d
    *    `llm_dup_pagerank_comp` run take 1489 s at old defaults; on a
    *    UNIFORM corpus no bucket reaches 1024, so the flip is
    *    output-invisible there. The cap composes with the in-task
    *    component tier (`pagerankComponentMaxEdges`, 16M): the WORST
    *    sub-cap class still emits bands × C(1023, 2) ≈ 4M clique
    *    edges — inside the tier, so no post-cap component ever routes
    *    to the slow distributed loop (a 4096 cap was probed first and
    *    failed exactly that arithmetic: sub-cap classes near 4k docs
    *    emit ~67M-edge components);
    *  - an explicit number N: that cap (0 forces exact cliques at any
    *    scale — the published-algorithm escape hatch).
    */
  private[graft] def rankEdgeCap(s: SparkSession, nDocs: Long): Long =
    s.conf.get("spark.graft.pagerankMaxBucketRows", "auto") match {
      case "auto" =>
        val global = s.conf.get("spark.graft.lshMaxBucketRows", "0").toLong
        if (nDocs <= (1L << 17)) global
        else if (global > 0) math.min(global, 1024L)
        else 1024L
      case v => v.toLong
    }

  private[graft] def bandSelfPairsCapped(b: DataFrame, cap: Long): DataFrame = {
    if (cap <= 0) {
      val a2 = b.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      val b2 = b.select(col("band_idx").as("bi"), col("band_hash").as("bh"),
        col("doc_id").as("doc_b"))
      a2.join(b2, col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
          col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    } else {
      val sizes = b.groupBy("band_idx", "band_hash")
        .agg(count(lit(1)).as("bn"), min("doc_id").as("hub"))
      val withN = b.join(sizes, Seq("band_idx", "band_hash"))
      val a2 = withN.filter(col("bn") <= cap)
        .select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      val b2 = withN.filter(col("bn") <= cap)
        .select(col("band_idx").as("bi"), col("band_hash").as("bh"),
          col("doc_id").as("doc_b"))
      val small = a2.join(b2, col("band_idx") === col("bi") &&
          col("band_hash") === col("bh") && col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
      val hot = withN.filter(col("bn") > cap && col("doc_id") =!= col("hub"))
        .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"))
      small.unionAll(hot).distinct()
    }
  }

  /** PERSISTED incremental-dedup state — the deployment path of
    * incremental dedup-group maintenance (VERDICT r8 wrong #4): what a
    * daily-ingest lake keeps on disk between batches is
    *
    *  - `stars` — the standing component assignment as STAR edges
    *    (canonical_id → doc_id, component minima as roots), published
    *    as a pointer-flipped generation per batch
    *    ([[graft.sources.Artifacts.publishGeneration]]);
    *  - `bandindex/` — the lake's (doc_id, band_idx, band_hash) LSH
    *    band index (the same index `llm_incremental_dedup` probes),
    *    APPEND-maintained: a document's bands never change once
    *    indexed, so a batch appends its not-yet-indexed docs' rows
    *    (anti-join on the column-pruned doc_id) and a replayed batch
    *    appends nothing.
    *
    * [[applyBatch]] folds one ingest batch into the state WITHOUT
    * recomputing any lake-internal pairs: batch-batch pairs (banded
    * self-join of the batch alone), batch-lake pairs (band-index
    * probe), and the standing stars feed one small re-closure whose
    * output becomes the next star generation. Star edges preserve
    * exactly the old components' connectivity and component labels are
    * minima (associative under merges), so state after N batches
    * provably equals a full recompute over everything ingested.
    * Crash-replay: the closure is idempotent (closing an
    * already-closed graph is the identity) and the band append is
    * anti-join-guarded, so replaying a batch after a crash between the
    * star publish and the band append — in either order — converges to
    * the same state.
    */
  private[graft] object DedupState {
    def starsPath(s: SparkSession, root: String): String =
      graft.sources.Artifacts.generationPath(s, root, "stars")

    private def publishStars(s: SparkSession, assign: DataFrame, root: String): Unit =
      graft.sources.Artifacts.publishGeneration(s, root, "stars") { dir =>
        assign.filter(col("canonical_id") =!= col("doc_id"))
          .select(col("canonical_id").as("doc_a"), col("doc_id").as("doc_b"))
          .write.mode("overwrite").parquet(dir)
      }

    /** Initial state from the lake's own band table: close lake pairs
      * once (the one-time backfill a deployment runs at adoption) and
      * seed the band index.
      */
    def buildInto(s: SparkSession, lakeBands: DataFrame, root: String): Unit = {
      lakeBands.select("doc_id", "band_idx", "band_hash")
        .write.mode("overwrite").parquet(s"$root/bandindex")
      publishStars(s, connectedComponents(bandStarEdges(lakeBands)), root)
    }

    /** Fold one ingest batch into the persisted state. */
    def applyBatch(s: SparkSession, batchBands0: DataFrame, root: String): Unit = {
      val batchBands = batchBands0.select("doc_id", "band_idx", "band_hash").persist()
      try {
        val lake = s.read.parquet(s"$root/bandindex")
        val stars = s.read.parquet(starsPath(s, root))
        val bb = bandStarEdges(batchBands)
        val bl = batchBands.select(col("band_idx"), col("band_hash"), col("doc_id").as("bd"))
          .join(lake.select(col("band_idx").as("bi"), col("band_hash").as("bh"),
            col("doc_id").as("ld")),
            col("band_idx") === col("bi") && col("band_hash") === col("bh"))
          .filter(col("bd") =!= col("ld"))
          .select(least(col("bd"), col("ld")).as("doc_a"),
            greatest(col("bd"), col("ld")).as("doc_b"))
          .distinct()
        publishStars(s, connectedComponents(stars.unionAll(bb).unionAll(bl)), root)
        // Band append AFTER the star publish: `bl` probes the index's
        // pre-batch state either way (a replay's extra batch-batch index
        // hits are already in `bb`), and the anti-join keeps the append
        // idempotent.
        val known = s.read.parquet(s"$root/bandindex").select("doc_id").distinct()
        batchBands.join(known, Seq("doc_id"), "left_anti")
          .write.mode("append").parquet(s"$root/bandindex")
      } finally batchBands.unpersist()
    }

    /** The standing assignment, reconstructed from the star table:
      * every starred doc maps to its root, every root to itself.
      */
    def assignment(s: SparkSession, root: String): DataFrame = {
      val stars = s.read.parquet(starsPath(s, root))
      stars.select(col("doc_b").as("doc_id"), col("doc_a").as("canonical_id"))
        .unionAll(stars.select(col("doc_a").as("doc_id"),
          col("doc_a").as("canonical_id")).distinct())
    }

    /** Fixture state for `llm_incremental_groups`: lake = every source
      * but src7 (backfill), then src7 applied as the ingest batch —
      * built once per source fingerprint like the BM25/IVF/PQ roots.
      */
    def ensure(s: SparkSession, dir: String): String =
      graft.sources.Artifacts.sourceRoot(s, dir, "documents", "dedupState",
          "_GRAFT_DEDUPSTATE_v1") { root =>
        val src = Tables.loadSpread(s, dir, "documents").select(col("doc_id"), col("source"))
        val bands = bandHashes(s, dir).join(src, "doc_id").persist()
        try {
          buildInto(s, bands.filter(col("source") =!= "src7"), root)
          applyBatch(s, bands.filter(col("source") === "src7"), root)
        } finally bands.unpersist()
      }
  }

  /** Incremental dedup-GROUP maintenance — the closure counterpart of
    * [[incrementalDedup]] (which only flags membership), exercising the
    * PERSISTED deployment path: the row reads [[DedupState]]'s on-disk
    * star table (built once per source fingerprint, `src7` folded in as
    * the ingest batch through [[DedupState.applyBatch]]) — the
    * expensive lake self-join runs only in the one-time backfill, never
    * in the row. Sharing `llm_dedup_groups`' oracle makes DuckDB's
    * recursive closure over ALL pairs the judge that star re-closure
    * over persisted state equals a full recompute; the multi-batch
    * replay contract is pinned in `IncrementalGroupsSpec`.
    */
  private val incrementalGroups = QueryDef(
    "llm_incremental_groups",
    (s, dir) => {
      val root = DedupState.ensure(s, dir)
      DedupState.assignment(s, root).orderBy("doc_id")
    },
    dedupGroups.oracle)

  /** Corpus-level line (span) deduplication — the C4-style boilerplate
    * filter: any LINE whose verbatim corpus frequency exceeds a
    * threshold (cookie banners, navigation chrome, license headers) is
    * removed from EVERY document that contains it, and documents are
    * reassembled from their surviving lines in order. The fixture text
    * has no newlines, so the "line" unit is the deterministic
    * segmentation into consecutive 10-word spans — same shape, same
    * plan.
    *
    * Scale shape: segmentation is a map-side explode; the frequency
    * table is ONE content-keyed shuffle (seg_text md5-sized keys);
    * marking is a shuffle join whose build side carries exactly one row
    * per distinct segment, so hot boilerplate (a banner appearing 1e9
    * times) skews only the probe side, which AQE skew-join splits —
    * never a hot aggregation state. Reassembly groups by doc_id
    * (bounded: a document's own segment list).
    */
  private val lineDedup = QueryDef(
    "llm_line_dedup",
    (s, dir) => {
      val segs = Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), splitLit(col("text"), " ").as("w"))
        .withColumn("n_segs", ceil(size(col("w")) / lit(10.0)))
        .withColumn("seg_idx", explode(sequence(lit(0L), col("n_segs") - 1)))
        .withColumn("seg_text",
          array_join(slice(col("w"), (col("seg_idx") * 10 + 1).cast("int"), lit(10)), " "))
        .select("doc_id", "seg_idx", "seg_text")
      val freq = segs.groupBy("seg_text").agg(count(lit(1)).as("cnt"))
      segs.join(freq, "seg_text")
        .groupBy("doc_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(when(col("cnt") <= 2,
              struct(col("seg_idx"), col("seg_text"))))),
            x => x.getField("seg_text")), " ").as("clean_text"),
          sum(when(col("cnt") > 2, 1L).otherwise(0L)).as("n_dropped"),
          count(lit(1)).as("n_segs"))
        .orderBy("doc_id")
    },
    Some("""WITH words AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |segs AS (
           |  SELECT doc_id, i - 1 AS seg_idx,
           |         array_to_string(w[(i-1)*10+1 : (i-1)*10+10], ' ') AS seg_text
           |  FROM words, LATERAL unnest(generate_series(1,
           |    CAST(ceil(len(w)/10.0) AS BIGINT))) AS t(i)),
           |freq AS (SELECT seg_text, count(*) AS cnt FROM segs GROUP BY 1)
           |SELECT s.doc_id,
           |  coalesce(string_agg(CASE WHEN f.cnt <= 2 THEN s.seg_text END,
           |                      ' ' ORDER BY s.seg_idx), '') AS clean_text,
           |  CAST(sum(CASE WHEN f.cnt > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           |  CAST(count(*) AS BIGINT) AS n_segs
           |FROM segs s JOIN freq f USING (seg_text)
           |GROUP BY s.doc_id
           |ORDER BY doc_id""".stripMargin))

  /** Exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022): find every position
    * whose k-word gram (k=8 here; ~50 BPE tokens in the paper — the
    * dial is the slice width) also occurs in ANOTHER document, then
    * merge adjacent/overlapping repeated positions into maximal spans
    * per doc — the spans a substring-level deduper would cut, vs the
    * whole-doc verdicts of the MinHash/SimHash family.
    *
    * Scale shape: the paper builds a suffix array; the relational
    * re-expression is a gram-keyed aggregate. The position stream is
    * deliberately computed in TWO linear map passes (scan → explode →
    * md5) rather than one shared exchange: the aggregate branch ships
    * only map-side partial (gh, min, max) rows — a boilerplate gram
    * repeated millions of times collapses in the partial agg instead
    * of flooding one reducer (this is why it is NOT a window over the
    * gh partition, and why the branches must not share a raw
    * repartition-by-gh exchange, which would strip the partial agg) —
    * while the probe branch's full-position shuffle is an equi-JOIN,
    * which AQE skew-splits. The filtered `repeated` side is usually
    * corpus-DISPROPORTIONATE (repeats are rare), so no join hint:
    * AQE broadcasts it when it measures small, eliminating the probe
    * shuffle altogether. Span merging is per-doc gaps-and-islands
    * (break where the gap exceeds k, cumulative-sum island ids,
    * min/max per island) over repeated positions only. Grams ride as
    * md5 hex, never the k-word text, so shuffle width is constant.
    */
  private val substrSpans = QueryDef(
    "llm_substr_spans",
    (s, dir) => {
      val k = 8
      val positions = Grams.ngrams(
          Tables.loadSpread(s, dir, "documents"), splitLit(col("text"), " "), k)
        .select(col("doc_id"), col("pos").cast("long").as("start"),
          md5(col("gram")).as("gh"))
      // min/max keep `start` consumed (always > 0, so the value is the
      // plain min/max doc_id) — the llm_tfidf_topk canonicalization
      // trick, keeping both consumers' subtrees identical so the gh
      // exchange is computed once.
      val repeated = positions.groupBy("gh").agg(
          min(when(col("start") > 0, col("doc_id"))).as("mn"),
          max(when(col("start") > 0, col("doc_id"))).as("mx"))
        .filter(col("mn") =!= col("mx"))
        .select("gh")
      val docW = Window.partitionBy("doc_id").orderBy("start")
      positions.join(repeated, "gh")
        .withColumn("brk",
          when(col("start") - lag("start", 1, -100).over(docW) > k, 1L).otherwise(0L))
        .withColumn("island", sum("brk").over(
          docW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "island")
        .agg(min("start").as("span_start"),
          (max("start") + lit(k - 1)).as("span_end"),
          count(lit(1)).as("n_positions"))
        .select(col("doc_id"), col("span_start"), col("span_end"), col("n_positions"))
        .orderBy("doc_id", "span_start")
    },
    Some("""WITH pos AS (
           |  SELECT doc_id,
           |    unnest(generate_series(1, greatest(len(string_split(text,' ')) - 7, 0))) AS start
           |  FROM documents),
           |g2 AS (
           |  SELECT d.doc_id, p.start,
           |    md5(array_to_string(list_slice(string_split(d.text,' '), p.start, p.start+7), ' ')) AS gh
           |  FROM documents d JOIN pos p USING (doc_id)),
           |rep AS (
           |  SELECT doc_id, start FROM (
           |    SELECT doc_id, start,
           |      min(doc_id) OVER (PARTITION BY gh) AS mn,
           |      max(doc_id) OVER (PARTITION BY gh) AS mx
           |    FROM g2) WHERE mn <> mx),
           |isl AS (
           |  SELECT doc_id, start,
           |    CASE WHEN start - lag(start, 1, -100) OVER (PARTITION BY doc_id ORDER BY start) > 8
           |         THEN 1 ELSE 0 END AS brk
           |  FROM rep),
           |grp AS (
           |  SELECT doc_id, start,
           |    sum(brk) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
           |  FROM isl)
           |SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
           |  CAST(max(start) + 7 AS BIGINT) AS span_end,
           |  CAST(count(*) AS BIGINT) AS n_positions
           |FROM grp GROUP BY doc_id, island
           |ORDER BY doc_id, span_start""".stripMargin))

  /** Leakage-safe train/val/test split — fold assignment by NEAR-DUP
    * GROUP, not by document: a doc and its near-copies always land in
    * the same fold, so an eval example can never have a training-set
    * twin (the contamination `llm_train_split`'s doc-hash split cannot
    * rule out). The group key is the CC canonical id over the LSH
    * candidate graph (star-contracted — connectivity only); ungrouped
    * docs are their own group. The fold is a pure function of the
    * GROUP id (first two md5 hex chars: < 'cc' ≈ 80% train, < 'e6' ≈
    * 10% val, else test), so membership is reproducible across reruns,
    * engines, and delta reprocessing. Scale shape: CC over star edges +
    * one broadcast-or-shuffle left join keyed on doc_id + a map-side
    * hash — nothing quadratic anywhere.
    */
  private val groupSplit = QueryDef(
    "llm_group_split",
    (s, dir) => {
      val groups = connectedComponents(connectivityEdges(s, dir))
      val docs = Tables.loadSpread(s, dir, "documents").select("doc_id")
      val gid = coalesce(col("canonical_id"), col("doc_id"))
      val bucket = substring(md5(concat(lit("fold:"), gid.cast("string"))), 1, 2)
      docs.join(groups, Seq("doc_id"), "left")
        .select(col("doc_id"), gid.as("group_id"),
          when(bucket < "cc", "train").when(bucket < "e6", "val")
            .otherwise("test").as("fold"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $lshOracleCtes,
           |$ccOracleCtes,
           |grp AS (
           |  SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
           |  FROM reach GROUP BY src)
           |SELECT d.doc_id,
           |  coalesce(g.canonical_id, d.doc_id) AS group_id,
           |  CASE WHEN substr(md5('fold:' ||
           |           CAST(coalesce(g.canonical_id, d.doc_id) AS VARCHAR)), 1, 2) < 'cc'
           |       THEN 'train'
           |       WHEN substr(md5('fold:' ||
           |           CAST(coalesce(g.canonical_id, d.doc_id) AS VARCHAR)), 1, 2) < 'e6'
           |       THEN 'val' ELSE 'test' END AS fold
           |FROM documents d LEFT JOIN grp g USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin))

  /** Shingle CONTAINMENT per candidate pair (Broder 1997's second
    * resemblance measure): |A∩B|/|A| and |A∩B|/|B|. Jaccard misses
    * subset duplication — a document quoted wholesale inside a larger
    * one scores low resemblance but containment ≈ 1 on the smaller
    * side — so curation pipelines flag `max(c_a, c_b) ≥ 0.9` as a
    * near-dup even when Jaccard passes. Same one-pass carried-set plan
    * as `llm_minhash_jaccard_est`: the shingle relation aggregates
    * once, pairs carry both sets, and the intersection is map-side
    * `array_intersect`.
    */
  private val containment = QueryDef(
    "llm_containment",
    (s, dir) => {
      // Signatures and shingle sets from ONE map-side projection
      // ([[sigsOfDocs]], round 14 — the aggregate form sorted the
      // shingle relation); the candidate pairs fold bands off the same
      // frame (no second shingle pass). Sets carry 64-bit hashes, not
      // strings — see the jaccard row's note on the
      // shuffle-volume/collision-bound trade.
      // One explicit doc_id exchange shared by the three consumers
      // (bands fold, pair side A, pair side B): the map-side signature
      // projection has no exchange of its own, so without this each
      // consumer would re-sign the corpus (ReusedExchange pinned in
      // PlanAuditSpec).
      val perDoc = sigsOfDocs(Tables.loadSpread(s, dir, "documents"), withShset = true)
        .repartition(col("doc_id"))
      val sa = perDoc.select(col("doc_id").as("pa"), col("shset").as("shset_a"))
      val sb = perDoc.select(col("doc_id").as("pb"), col("shset").as("shset_b"))
      bandSelfPairs(bandsOfSigs(perDoc))
        .join(sa, col("doc_a") === col("pa"))
        .join(sb, col("doc_b") === col("pb"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("shset_a"), col("shset_b"))).cast("long").as("inter"),
          size(col("shset_a")).cast("long").as("na"),
          size(col("shset_b")).cast("long").as("nb"))
        .filter(col("inter") >= 1) // mirror the oracle's inner intersection join
        .select(col("doc_a"), col("doc_b"),
          roundTo(col("inter") / col("na"), 4).as("containment_a"),
          roundTo(col("inter") / col("nb"), 4).as("containment_b"),
          (greatest(col("inter") / col("na"), col("inter") / col("nb")) >= 0.9)
            .as("contained"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $lshOracleCtes,
           |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
           |nsh AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS i
           |  FROM cand c
           |  JOIN shd a ON a.doc_id = c.doc_a
           |  JOIN shd b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
           |  GROUP BY 1, 2)
           |SELECT i.doc_a, i.doc_b,
           |  floor(i.i / CAST(na.n AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS containment_a,
           |  floor(i.i / CAST(nb.n AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS containment_b,
           |  greatest(i.i / CAST(na.n AS DOUBLE), i.i / CAST(nb.n AS DOUBLE)) >= 0.9
           |    AS contained
           |FROM inter i
           |JOIN nsh na ON na.doc_id = i.doc_a
           |JOIN nsh nb ON nb.doc_id = i.doc_b
           |ORDER BY i.doc_a, i.doc_b""".stripMargin))

  /** Curation funnel report — per-stage survivor counts and token
    * volumes for the `llm_curation_pipeline` predicate chain (raw →
    * exact dedup → near-dup drop → length filter), the one-page answer
    * to "where did my tokens go?". ONE pass computes every doc's three
    * stage flags (semi-join for exact-canonical membership, CC drop
    * list for near-dups, a map-side token bound), then a single
    * conditional aggregate folds them into the four cumulative stages —
    * no per-stage rescan of the corpus at any scale.
    */
  private val curationFunnel = QueryDef(
    "llm_curation_funnel",
    (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"),
          size(splitLit(col("text"), " ")).cast("long").as("ws"))
      val exactCanon = Tables.loadSpread(s, dir, "documents")
        .groupBy(md5(col("text")).as("ck")).agg(min("doc_id").as("keep_id"))
        .select("keep_id")
      val nearDrop = connectedComponents(connectivityEdges(s, dir))
        .filter(col("doc_id") =!= col("canonical_id"))
        .select(col("doc_id").as("drop_id"), lit(true).as("is_drop"))
      val flagged = docs
        .join(exactCanon.withColumn("is_exact", lit(true)),
          col("doc_id") === col("keep_id"), "left")
        .join(nearDrop, col("doc_id") === col("drop_id"), "left")
        .select(col("ws"),
          coalesce(col("is_exact"), lit(false)).as("e"),
          coalesce(col("is_drop"), lit(false)).as("d"))
      val s1 = col("e")
      val s2 = col("e") && !col("d")
      val s3 = s2 && col("ws").between(5, 1000)
      val agg = flagged.agg(
        count(lit(1)).as("n0"), sum("ws").as("t0"),
        sum(when(s1, 1L).otherwise(0L)).as("n1"),
        sum(when(s1, col("ws")).otherwise(0L)).as("t1"),
        sum(when(s2, 1L).otherwise(0L)).as("n2"),
        sum(when(s2, col("ws")).otherwise(0L)).as("t2"),
        sum(when(s3, 1L).otherwise(0L)).as("n3"),
        sum(when(s3, col("ws")).otherwise(0L)).as("t3"))
      agg.select(explode(array(
          struct(lit(0).as("stage_idx"), lit("raw").as("stage"),
            col("n0").as("n_docs"), col("t0").as("tokens")),
          struct(lit(1).as("stage_idx"), lit("exact_dedup").as("stage"),
            col("n1").as("n_docs"), col("t1").as("tokens")),
          struct(lit(2).as("stage_idx"), lit("near_dedup").as("stage"),
            col("n2").as("n_docs"), col("t2").as("tokens")),
          struct(lit(3).as("stage_idx"), lit("length_filter").as("stage"),
            col("n3").as("n_docs"), col("t3").as("tokens")))).as("r"))
        .select(col("r.stage_idx"), col("r.stage"), col("r.n_docs"), col("r.tokens"))
        .orderBy("stage_idx")
    },
    Some(s"""WITH $lshOracleCtes,
           |$ccOracleCtes,
           |near_drop AS (
           |  SELECT src AS doc_id FROM reach GROUP BY src
           |  HAVING least(src, min(dst)) <> src),
           |d AS (
           |  SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
           |    doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text)) AS e,
           |    doc_id IN (SELECT doc_id FROM near_drop) AS dr
           |  FROM documents)
           |SELECT 0 AS stage_idx, 'raw' AS stage,
           |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(ws) AS BIGINT) AS tokens FROM d
           |UNION ALL SELECT 1, 'exact_dedup',
           |  CAST(count(*) FILTER (e) AS BIGINT),
           |  CAST(coalesce(sum(ws) FILTER (e), 0) AS BIGINT) FROM d
           |UNION ALL SELECT 2, 'near_dedup',
           |  CAST(count(*) FILTER (e AND NOT dr) AS BIGINT),
           |  CAST(coalesce(sum(ws) FILTER (e AND NOT dr), 0) AS BIGINT) FROM d
           |UNION ALL SELECT 3, 'length_filter',
           |  CAST(count(*) FILTER (e AND NOT dr AND ws BETWEEN 5 AND 1000) AS BIGINT),
           |  CAST(coalesce(sum(ws) FILTER (e AND NOT dr AND ws BETWEEN 5 AND 1000), 0) AS BIGINT)
           |FROM d
           |ORDER BY stage_idx""".stripMargin))

  /** Cross-source duplication matrix — for every ordered source pair,
    * how many near-dup candidate pairs connect them (and how many docs
    * on each side participate). This is the "who copies from whom"
    * report that decides which source to DROP when two feeds mirror
    * each other. The pair list joins the (doc_id → source) projection
    * twice — column-pruned to two narrow columns, broadcastable when
    * the doc-meta side is small, shuffle-equi otherwise — and the
    * output is |sources|² rows regardless of corpus size. Source names
    * are ordered within the pair (least/greatest) so A↔B accumulates
    * in one cell.
    */
  private val sourceOverlap = QueryDef(
    "llm_source_overlap",
    (s, dir) => {
      val meta = Tables.loadSpread(s, dir, "documents").select(col("doc_id"), col("source"))
      lshPairs(s, dir)
        .join(meta.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(meta.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        // Side attribution follows the SOURCE ordering, not the doc_id
        // ordering: doc_x is the doc whose source is source_x (the
        // lexicographically lesser source), regardless of which doc_id
        // is smaller. For same-source pairs (source_x == source_y) the
        // pair's doc_a counts to the x side and doc_b to the y side —
        // both participation columns then cover that source.
        .select(least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"),
          when(col("src_a") <= col("src_b"), col("doc_a")).otherwise(col("doc_b")).as("doc_x"),
          when(col("src_a") <= col("src_b"), col("doc_b")).otherwise(col("doc_a")).as("doc_y"))
        .groupBy("source_x", "source_y")
        .agg(count(lit(1)).as("dup_pairs"),
          countDistinct(col("doc_x")).as("docs_x_side"),
          countDistinct(col("doc_y")).as("docs_y_side"))
        .orderBy("source_x", "source_y")
    },
    Some(s"""WITH $lshOracleCtes,
           |meta AS (SELECT doc_id, source FROM documents),
           |p AS (
           |  SELECT least(a.source, b.source) AS source_x,
           |         greatest(a.source, b.source) AS source_y,
           |         CASE WHEN a.source <= b.source THEN c.doc_a ELSE c.doc_b END AS doc_x,
           |         CASE WHEN a.source <= b.source THEN c.doc_b ELSE c.doc_a END AS doc_y
           |  FROM cand c
           |  JOIN meta a ON a.doc_id = c.doc_a
           |  JOIN meta b ON b.doc_id = c.doc_b)
           |SELECT source_x, source_y,
           |  CAST(count(*) AS BIGINT) AS dup_pairs,
           |  CAST(count(DISTINCT doc_x) AS BIGINT) AS docs_x_side,
           |  CAST(count(DISTINCT doc_y) AS BIGINT) AS docs_y_side
           |FROM p GROUP BY 1, 2
           |ORDER BY source_x, source_y""".stripMargin))

  /** Ingest-order novelty scoring — per document, the fraction of its
    * distinct word 3-shingles that NO earlier document (doc_id as
    * ingest order) contains. Curation uses this as a cheap "information
    * added" signal: boilerplate-heavy late arrivals score near 0, the
    * first occurrence of fresh content near 1. Two shuffles total at
    * any scale: shingle → min(doc_id) (the first-owner table, partial
    * aggregates map-side) and first-owner hits → per-doc fraction. No
    * pairwise anything — the novelty of N docs costs the same as the
    * distinct-shingle count.
    */
  private val shingleNovelty = QueryDef(
    "llm_shingle_novelty",
    (s, dir) => {
      // n_novel(d) = |{shingle : min(doc) over shingle = d}| — a count
      // keyed by the per-shingle min, NOT a property that needs the
      // shingle relation joined back to itself. Two doc-keyed
      // aggregates (per-doc shingle count; per-first-doc novelty
      // count) join on doc_id — corpus-width rows cross an exchange
      // once per aggregate and the join moves only per-doc counts,
      // where the historical shape re-shuffled the whole distinct
      // shingle relation into a shingle-keyed join (r15, guide §2.3
      // shuffle fewer bytes; oracle unchanged). Every doc with
      // shingles owns at least 0 firsts, so the left join + coalesce
      // reproduces the inner join's row set exactly.
      val sh = shingles(s, dir).distinct()
      val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val novel = sh.groupBy("shingle").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("nn"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("nn"), lit(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          roundTo(col("n_novel") / col("n_shingles"), 4).as("novelty"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $lshOracleCtes,
           |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
           |first AS (SELECT shingle, min(doc_id) AS first_doc FROM shd GROUP BY shingle)
           |SELECT s.doc_id,
           |  CAST(count(*) AS BIGINT) AS n_shingles,
           |  CAST(count(*) FILTER (s.doc_id = f.first_doc) AS BIGINT) AS n_novel,
           |  floor(count(*) FILTER (s.doc_id = f.first_doc)
           |        / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS novelty
           |FROM shd s JOIN first f USING (shingle)
           |GROUP BY s.doc_id
           |ORDER BY s.doc_id""".stripMargin))

  /** Bloom-prefiltered incremental exact dedup — the 100 TB shape of
    * "is this batch document already in the lake?". A membership
    * sketch over the lake's content keys (Spark's own codegen'd
    * `BloomFilterAggregate`, exposed as `bloom_agg`; ONE lake pass,
    * map-side-combined, ~KB-to-MB result) is collected once and
    * re-injected as a literal, so the batch probes it MAP-SIDE
    * (`bloom_contains` = `BloomFilterMightContain`): bloom-negatives
    * are PROVABLY new (no false negatives) and skip the join entirely;
    * only bloom-positives — true duplicates plus the ~0.05% false-
    * positive sliver — pay the exact anti-join against the lake keys.
    * The final answer is therefore EXACT regardless of sketch error,
    * which is what the DuckDB oracle (a plain NOT EXISTS) proves; the
    * sketch only redirects work. At a 1e9-key lake the sketch is
    * ~2 GB/16 bits-per-key — size it with `numBits` (here 16·|lake|,
    * capped at 2^26 = 8 MB under Spark's default runtime-filter caps)
    * or shard the lake and OR per-shard sketches; the anti-join's
    * probe side shrinks from |batch| to |dups| + fpp·|batch|, which is
    * the difference between shuffling the whole batch and shuffling
    * almost nothing when ingest is mostly-new.
    */
  private val bloomDedup = QueryDef(
    "llm_bloom_dedup",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.loadSpread(s, dir, "documents")
      val lake = docs.filter(col("source") =!= "src7").select(md5(col("text")).as("k"))
      val batch = docs.filter(col("source") === "src7")
        .select(col("doc_id"), md5(col("text")).as("k"))
      val nItems = math.max(lake.count(), 64L)
      val nBits = math.min(nItems * 16, 1L << 26)
      val sketch = lake.agg(call_function("bloom_agg",
          xxhash64(col("k")), lit(nItems), lit(nBits)).as("bf"))
        .head.getAs[Array[Byte]](0)
      val probed = batch.withColumn("maybe",
        call_function("bloom_contains", lit(sketch), xxhash64(col("k"))))
      val clear = probed.filter(!col("maybe")).select("doc_id", "k")
      val verified = probed.filter(col("maybe")).select("doc_id", "k")
        .join(lake.distinct(), Seq("k"), "left_anti")
        .select("doc_id", "k") // join USING moved the key first; realign for the positional union
      clear.unionAll(verified)
        .select(col("doc_id"), col("k").as("content_key"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(text) AS content_key
           |FROM documents b
           |WHERE source = 'src7' AND NOT EXISTS (
           |  SELECT 1 FROM documents l
           |  WHERE l.source <> 'src7' AND md5(l.text) = md5(b.text))
           |ORDER BY doc_id""".stripMargin))

  /** Exact all-pairs Jaccard similarity join (threshold 0.7) over the
    * SAME 3-gram shingle sets the MinHash row banding approximates —
    * its deterministic twin: identical "find every pair above a
    * Jaccard threshold" contract, recall 1 by theorem (AllPairs/PPJoin
    * prefix filtering — Bayardo et al. WWW'07, Xiao et al. WWW'08),
    * no signature state. Two stages ahead of the prefix join, both
    * measured necessary (round 12):
    *
    *  1. CLASS COLLAPSE: identical shingle sets group once (one
    *     aggregate). Twin-copied corpora (the MakeSf scale corpora,
    *     and any real crawl) multiply every shingle's document
    *     frequency by the duplication factor, which poisons df-based
    *     prefix filtering; distinct-set classes restore the dfs the
    *     theorem needs, same-class pairs emit directly as J = 1, and
    *     cross-class results expand back through the carried id lists.
    *  2. PREFIX JOIN over class representatives: shingles order by
    *     ascending df (rarest first, shingle as tie-break); a set of n
    *     shingles exposes only its first n - ceil(0.7·n) + 1 as join
    *     keys — a qualifying pair MUST share a prefix token. The
    *     integer length filter (10·min >= 7·max) prunes cross-size
    *     candidates in the join condition; ceil(0.7n) = (7n+9) div 10
    *     avoids float-ceil edges. Verification intersects the two
    *     carried xxhash64'd sets per candidate — O(na+nb), no second
    *     corpus join (the jaccardEst pattern, same collision bound).
    *
    * History: the first cut ran token-SET jaccard over raw doc_ids and
    * cost 210 s at sf0.1 — the synthetic corpus has a 31-word
    * vocabulary, so every token is hot (132M candidate pairs measured)
    * AND token-level J >= 0.7 is nearly vacuous there (5.1M output
    * pairs). On shingle sets the vocabulary is large and Zipf, exactly
    * the shape prefix filtering assumes: 499k candidates at sf0.1
    * (measured), output = the true near-dup pairs. That is also what
    * makes this THE exact twin of `llm_minhash` — which bands these
    * same shingle sets.
    *
    * Scale: df is a vocab-sized aggregate; the prefix explode emits
    * ~30% of the distinct-shingle stream; candidates key on
    * individually rare shingles (high-df shingles sit at the back of
    * every set's order, so hot-key blowup cannot occur on the prefix);
    * the id-list expansion is output-bound by contract. The DuckDB
    * oracle is brute force over all pairs sharing any shingle — a
    * genuinely different algorithm, so recall 1 is cross-checked, not
    * replayed.
    */
  private val allpairsJaccard = QueryDef(
    "llm_allpairs_jaccard",
    (s, dir) => {
      val shd = shingles(s, dir).distinct()
      val sets = shd.groupBy("doc_id")
        .agg(sort_array(collect_set(xxhash64(col("shingle")))).as("ts"))
      val classes = sets.groupBy(col("ts"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .withColumn("sig", md5(col("ts").cast("string")))
      val words = classes.select(col("sig"), explode(col("ts")).as("w"),
        size(col("ts")).as("n"))
      val dfreq = words.groupBy("w").agg(count(lit(1)).as("df"))
      val prefix = words.join(dfreq, "w")
        .withColumn("rk", row_number().over(
          Window.partitionBy("sig").orderBy(col("df"), col("w"))))
        .filter(col("rk") <= col("n") - expr("(n * 7 + 9) div 10") + 1)
        .select(col("w"), col("sig"), col("n"))
      val cands = prefix.as("a").join(prefix.as("b"),
          col("a.w") === col("b.w") && col("a.sig") < col("b.sig") &&
            col("a.n") * 10 >= col("b.n") * 7 && col("b.n") * 10 >= col("a.n") * 7)
        .select(col("a.sig").as("siga"), col("b.sig").as("sigb"))
        .distinct()
      val ca = classes.select(col("sig").as("siga"), col("ts").as("tsa"),
        col("ids").as("idsa"))
      val cb = classes.select(col("sig").as("sigb"), col("ts").as("tsb"),
        col("ids").as("idsb"))
      val cross = cands.join(ca, "siga").join(cb, "sigb")
        .withColumn("inter", size(array_intersect(col("tsa"), col("tsb"))))
        .withColumn("jaccard", roundTo(
          col("inter") / (size(col("tsa")) + size(col("tsb")) - col("inter")), 4))
        .filter(col("jaccard") >= 0.7)
        .select(explode(col("idsa")).as("ida"), col("idsb"), col("jaccard"))
        .select(col("ida"), explode(col("idsb")).as("idb"), col("jaccard"))
        .select(least(col("ida"), col("idb")).as("doc_a"),
          greatest(col("ida"), col("idb")).as("doc_b"), col("jaccard"))
      // Same-class pairs are exact shingle-set duplicates: J = 1.
      val same = classes.filter(size(col("ids")) >= 2)
        .select(explode(expr(
          "flatten(transform(ids, (x, i) -> " +
            "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"))
          .as("p"))
        .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
          lit(1.0).as("jaccard"))
      cross.unionAll(same).orderBy("doc_a", "doc_b")
    },
    Some("""WITH sh AS (
           |  SELECT doc_id, unnest(list_transform(
           |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
           |    i -> string_split(text, ' ')[i] || ' ' ||
           |         string_split(text, ' ')[i+1] || ' ' ||
           |         string_split(text, ' ')[i+2])) AS shingle
           |  FROM documents),
           |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
           |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, jaccard FROM (
           |  SELECT doc_a, doc_b,
           |    floor(i / (sa.n + sb.n - i) * 10000.0 + 0.5) / 10000.0 AS jaccard
           |  FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b)
           |WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""".stripMargin))

  val all: Seq[QueryDef] = Seq(exact, minhash, simhash, simhashNearDup, jaccard,
    dedupGroups, decontaminate, repetition, curation, dupPagerank, dupPagerankConv,
    dupPagerankComp,
    canonicalDocs, incrementalDedup, incrementalGroups, lineDedup, substrSpans,
    triangles, jaccardEst, editVerify, groupSplit, containment, curationFunnel,
    sourceOverlap, shingleNovelty, allpairsJaccard, bloomDedup)
}
