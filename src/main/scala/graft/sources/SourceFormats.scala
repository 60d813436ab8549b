package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.QueryDef

/** Non-parquet source formats: JSON-lines and CSV read paths, verified
  * by ROUND-TRIP oracles — Spark writes the `documents` table in the
  * format, reads it back with an explicit schema, and the result must
  * hash-match the original parquet content (which is what the DuckDB
  * oracle reads). Any serialization loss — quoting, escaping, type
  * coercion, NULL/empty-string conflation — breaks the row hash.
  *
  * The corpus is augmented with ADVERSARIAL rows before serialization
  * (embedded newline, quotes, commas, an empty string, and NULLs) and
  * the oracle unions the SAME literal rows in SQL — so the quoting
  * paths (`multiLine` reads, quote escaping, NULL vs `""`
  * distinction) are actually exercised, not just latent until a
  * hostile document shows up in production.
  *
  * Scale notes: both readers stream splittable files with the schema
  * given EXPLICITLY (schema inference is a full extra pass over 100 TB
  * and is nondeterministic under sampling — never ship it); CSV sets
  * mode=FAILFAST so a malformed row fails loudly instead of silently
  * nulling columns. `multiLine=true` on CSV makes a file with quoted
  * newlines non-splittable — acceptable here because documents with
  * embedded newlines make the option mandatory for correctness; at
  * 100 TB keep text corpora in parquet/JSON-lines and treat CSV as an
  * ingest edge.
  */
object SourceFormats {

  /** Hostile rows (negative doc_ids keep them disjoint from real data):
    * newline + quote + comma in one text, an empty string, and NULLs.
    * Mirrored literally in [[docsOracle]].
    */
  private def edgeRows(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (-1L, Option("line one\nline two, \"quoted\" and a, comma"), Option("en"), "edge", Option(40L)),
      (-2L, Option(""), Option("en"), "edge", Option(0L)),
      (-3L, Option.empty[String], Option.empty[String], "edge", Option.empty[Long]))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def roundTrip(s: SparkSession, dir: String, fmt: String,
                        writeOptions: Map[String, String],
                        readOptions: Map[String, String]): DataFrame = {
    val src = Tables.load(s, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(edgeRows(s))
    val out = s"${sys.props("java.io.tmpdir")}/graft-src-$fmt-${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    src.write.mode("overwrite").options(writeOptions).format(fmt).save(out)
    s.read.schema(src.schema).options(readOptions).format(fmt).load(out)
      .orderBy("doc_id")
  }

  private val docsOracle =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |UNION ALL
      |SELECT * FROM (VALUES
      |  (-1, 'line one' || chr(10) || 'line two, "quoted" and a, comma', 'en', 'edge', 40),
      |  (-2, '', 'en', 'edge', 0),
      |  (-3, NULL, NULL, 'edge', NULL)
      |) AS t(doc_id, text, lang, source, n_chars)
      |ORDER BY doc_id""".stripMargin

  private val jsonSource = QueryDef(
    "s9_json_source",
    (s, dir) => roundTrip(s, dir, "json", Map.empty, Map.empty)
      .select("doc_id", "text", "lang", "source", "n_chars"),
    Some(docsOracle))

  private val csvSource = QueryDef(
    "s10_csv_source",
    (s, dir) => roundTrip(s, dir, "csv",
      // Write: RFC-style doubled-quote escaping; NULL → the Hive-style
      // \N sentinel, '' → quoted "". A default-config reader conflates
      // the two: it unescapes quoted "" to empty and THEN applies
      // nullValue='', nulling real empty strings.
      Map("header" -> "true", "quote" -> "\"", "escape" -> "\"",
        "nullValue" -> "\\N", "emptyValue" -> "\"\""),
      // Read: multiLine so quoted embedded newlines parse as one row
      // (without it the reader splits mid-record); \N → NULL, quoted
      // "" → empty string (emptyValue on read is what a quoted-empty
      // field PARSES TO — asymmetric with the write side, where it is
      // what an empty string is WRITTEN AS).
      Map("header" -> "true", "quote" -> "\"", "escape" -> "\"",
        "multiLine" -> "true", "nullValue" -> "\\N", "emptyValue" -> "",
        "mode" -> "FAILFAST"))
      .select("doc_id", "text", "lang", "source", "n_chars"),
    Some(docsOracle))

  /** ORC — the other columnar format Spark ships a vectorized reader
    * for. Typed storage means no quoting/NULL pitfalls; the round trip
    * (same adversarial rows) guards type mapping and the reader config
    * instead. Splittable + predicate-pushdown-capable, so unlike
    * multiLine CSV it is a legitimate 100 TB format.
    */
  private val orcSource = QueryDef(
    "s11_orc_source",
    (s, dir) => roundTrip(s, dir, "orc", Map.empty, Map.empty)
      .select("doc_id", "text", "lang", "source", "n_chars"),
    Some(docsOracle))

  /** Corrupt-record QUARANTINE — the ingest posture for hostile 100 TB
    * feeds where FAILFAST would let one bad line kill a day's load:
    * PERMISSIVE parsing routes malformed lines (truncated JSON, non-JSON
    * garbage) and type-mismatched fields into the corrupt-record column
    * so good rows load and bad raw lines are preserved for triage. The
    * fixture file is written deterministically each run (3 valid lines,
    * 2 malformed, 1 type-mismatch); the oracle mirrors the expected
    * parse verdicts literally — pinning WHICH lines quarantine and that
    * partially-parseable rows keep their parseable fields.
    */
  private val jsonQuarantine = QueryDef(
    "s14_json_quarantine",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val lines = Seq(
        """{"doc_id": 1, "text": "alpha", "n_chars": 5}""",
        """{"doc_id": 2, "text": "beta", "n_chars": 4""", // truncated
        """{"doc_id": 3, "text": "gamma", "n_chars": 5}""",
        """not json at all""",
        """{"doc_id": "NaN", "text": "delta", "n_chars": 5}""", // type mismatch
        """{"doc_id": 6, "text": "zeta", "n_chars": 4}""")
      // Suffixed with the data dir like roundTrip's paths: concurrent
      // processes (bench + test suite) must not race on one directory.
      val out = s"${sys.props("java.io.tmpdir")}/graft-src-quarantine-${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      lines.toDS().coalesce(1).write.mode("overwrite").text(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("n_chars", LongType), StructField("_bad", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(out)
        .select(col("doc_id"), col("text"), col("n_chars"),
          col("_bad").isNotNull.as("is_quarantined"), col("_bad").as("bad_raw"))
        .orderBy(col("is_quarantined"), col("doc_id").asc_nulls_first,
          col("bad_raw").asc_nulls_first)
    },
    Some("""SELECT * FROM (VALUES
           |  (1, 'alpha', 5, false, NULL),
           |  (3, 'gamma', 5, false, NULL),
           |  (6, 'zeta', 4, false, NULL),
           |  (NULL, NULL, NULL, true, '{"doc_id": 2, "text": "beta", "n_chars": 4'),
           |  (NULL, NULL, NULL, true, 'not json at all'),
           |  (NULL, 'delta', 5, true, '{"doc_id": "NaN", "text": "delta", "n_chars": 5}')
           |) AS t(doc_id, text, n_chars, is_quarantined, bad_raw)
           |ORDER BY is_quarantined, doc_id NULLS FIRST, bad_raw NULLS FIRST""".stripMargin))

  /** S15: STATIC partition pruning — the first lever anyone reaches for
    * at 100 TB. The corpus is persisted once partitioned by `lang`
    * (hive-style directories, marker-guarded like the IVF index, root
    * fingerprinted to the source so regeneration invalidates), and the
    * query's literal `lang = 'en'` must be satisfied from the directory
    * listing alone: the FileScan shows it under `PartitionFilters` (no
    * data filter, no row-group reads outside the matching directory) —
    * pinned in `PlanAuditSpec`. The oracle is the same filter over the
    * unpartitioned table, so the row-equality check also proves the
    * partitioned layout lost nothing.
    */
  private object PartDocs {
    def ensure(s: SparkSession, dir: String): String =
      Artifacts.sourceRoot(s, dir, "documents", "partDocs", "_GRAFT_PARTDOCS_v1") { root =>
        Tables.load(s, dir, "documents")
          .write.mode("overwrite").partitionBy("lang").parquet(s"$root/docs")
      } + "/docs"
  }

  private val partitionPrune = QueryDef(
    "s15_partition_prune",
    (s, dir) => {
      val root = PartDocs.ensure(s, dir)
      s.read.parquet(root)
        .filter(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, text, lang, source, n_chars
           |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin))

  /** S16: schema evolution — a long-lived lake table accretes columns;
    * readers must see old files with the new columns as NULL without a
    * rewrite. Two generations are persisted under one root (v=1 writes
    * only (doc_id, text); v=2 adds lang + n_chars) and read back with
    * `mergeSchema` — Spark unions the footers per file, old files
    * null-fill. The oracle is the explicit UNION ALL with typed NULLs,
    * so the null-fill semantics are row-hash-pinned. Scale note:
    * `mergeSchema` reads every file footer (cheap but not free at 1e6
    * files) — production tables pin the merged schema in a metastore
    * and readers pass it explicitly; the read path is otherwise
    * identical.
    */
  private object EvoDocs {
    def ensure(s: SparkSession, dir: String): String =
      Artifacts.sourceRoot(s, dir, "documents", "evoDocs", "_GRAFT_EVODOCS_v1") { root =>
        val docs = Tables.load(s, dir, "documents")
        docs.select("doc_id", "text")
          .write.mode("overwrite").parquet(s"$root/docs/v=1")
        docs.select("doc_id", "text", "lang", "n_chars")
          .write.mode("overwrite").parquet(s"$root/docs/v=2")
      } + "/docs"
  }

  private val schemaEvolution = QueryDef(
    "s16_schema_evolution",
    (s, dir) => {
      val root = EvoDocs.ensure(s, dir)
      s.read.option("mergeSchema", "true").parquet(root)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("v").cast("int").as("v"))
        .orderBy("v", "doc_id")
    },
    Some("""SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang,
           |  CAST(NULL AS BIGINT) AS n_chars, 1 AS v
           |FROM documents
           |UNION ALL
           |SELECT doc_id, text, lang, n_chars, 2 AS v FROM documents
           |ORDER BY v, doc_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(jsonSource, csvSource, orcSource, jsonQuarantine,
    partitionPrune, schemaEvolution)
}
