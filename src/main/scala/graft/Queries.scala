package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Tables
import graft.ops.TextOps

/** The oracle-checked query suite. Each query has (a) a DataFrame program
  * (the engine surface under test) and (b) ANSI SQL with identical column
  * names for the DuckDB oracle.
  *
  * Float determinism: every `sum`/`avg` over doubles goes through an exact
  * DECIMAL cast so Spark's and DuckDB's summation order cannot change the
  * result; the final value is cast back to DOUBLE, which is a deterministic
  * function of the exact decimal in both engines. Every query also ends in
  * a total deterministic ORDER BY.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Exact-decimal view of a double column (values in testdata carry ≤2
    * fractional digits, so scale 6 is lossless). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Deterministic double from an exact decimal sum. Rounding to scale 2
    * first keeps the value*100 well inside 2^53, so the decimal→double
    * conversion is a single correctly-rounded step in BOTH engines
    * (DuckDB's wide-decimal→double goes hugeint/10^s, which can double-
    * round and land 1 ulp off Spark's BigDecimal conversion otherwise). */
  private def dsum(c: Column): Column = round(sum(dec(c)), 2).cast("double")

  private def dsumExpr(c: Column): Column = round(sum(c), 2).cast("double")

  /** The shared 3-commit CDC chain over `docs` — base at __v=0, then
    * v1 (10% updated, 10% tombstoned, 5 inserts) and v2 (another 10%
    * updated, the v1 inserts tombstoned, the %100==1 slice revived
    * over its v1 tombstone). io_time_travel, io_change_feed, and
    * io_vacuum all commit exactly this log; their oracles replay the
    * same chain in SQL. */
  /** The chain's two change batches alone — shared by the batch
    * committer below and the streaming twins (`stream_mv_maintain`
    * delivers exactly these as micro-batches). */
  private def cdcBatches(docs: DataFrame): (DataFrame, DataFrame) = {
    val up1 = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      .withColumn("text", concat(lit("v2 "), col("text")))
      .withColumn("__deleted", lit(false))
    val del1 = docs.where(pmod(col("doc_id"), lit(10)) === 1)
      .withColumn("__deleted", lit(true))
    val ins1 = docs.where(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(lit("new "), col("text")))
      .withColumn("__deleted", lit(false))
    val up2 = docs.where(pmod(col("doc_id"), lit(10)) === 2)
      .withColumn("text", concat(lit("v3 "), col("text")))
      .withColumn("__deleted", lit(false))
    val del2 = docs.where(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("__deleted", lit(true))
    val rev2 = docs.where(pmod(col("doc_id"), lit(100)) === 1)
      .withColumn("text", concat(lit("back "), col("text")))
      .withColumn("__deleted", lit(false))
    (up1.unionByName(del1).unionByName(ins1),
      up2.unionByName(del2).unionByName(rev2))
  }

  private def writeCdcChain(s: SparkSession, docs: DataFrame, path: String): Unit = {
    io.Sinks.writeVersion(docs, path, 0)
    val (b1, b2) = cdcBatches(docs)
    io.Sinks.writeVersion(b1, path, io.Sinks.nextVersion(s, path))
    io.Sinks.writeVersion(b2, path, io.Sinks.nextVersion(s, path))
  }

  /** SQL replay of [[writeCdcChain]] — ends with `logrel` =
    * (doc_id, text, source, del, v), the full commit log as a relation.
    * Interpolated by the io_time_travel / io_change_feed / io_vacuum
    * oracles (single-source-of-truth rule). */
  private val cdcChainCteSql: String =
    """ch1 AS (
      |  SELECT doc_id, 'v2 ' || text AS text, source, FALSE AS del
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id, text, source, TRUE
      |  FROM documents WHERE doc_id % 10 = 1
      |  UNION ALL SELECT doc_id + 100000, 'new ' || text, source, FALSE
      |  FROM documents WHERE doc_id < 5),
      |ch2 AS (
      |  SELECT doc_id, 'v3 ' || text AS text, source, FALSE AS del
      |  FROM documents WHERE doc_id % 10 = 2
      |  UNION ALL SELECT doc_id + 100000, text, source, TRUE
      |  FROM documents WHERE doc_id < 5
      |  UNION ALL SELECT doc_id, 'back ' || text, source, FALSE
      |  FROM documents WHERE doc_id % 100 = 1),
      |logrel AS (
      |  SELECT doc_id, text, source, FALSE AS del, 0 AS v FROM documents
      |  UNION ALL SELECT doc_id, text, source, del, 1 FROM ch1
      |  UNION ALL SELECT doc_id, text, source, del, 2 FROM ch2)""".stripMargin

  private val one = lit(1).cast(DecimalType(18, 6))

  // revenue term: l_extendedprice * (1 - l_discount), exact
  private def revenueTerm(df: DataFrame): Column =
    dec(df("l_extendedprice")) * (one - dec(df("l_discount")))

  // ---------------------------------------------------------------- queries

  val sql: Map[String, String] = Map(
    "mr_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), ' ')) AS word
        |      FROM documents) tok
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY word""".stripMargin,
    // same ground truth as mr_wordcount: the .py submission path must
    // produce bit-identical counts to the native one
    "mr_py_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), ' ')) AS word
        |      FROM documents) tok
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY word""".stripMargin,
    // python str.count and the replace-length trick both count
    // NON-overlapping occurrences — the same number by construction
    "mr_py_grep" ->
      """SELECT CAST(doc_id AS VARCHAR) AS key,
        |       CAST((len(lower(text)) - len(replace(lower(text), 'data', ''))) / 4 AS BIGINT) AS hits
        |FROM documents
        |WHERE lower(text) LIKE '%data%'
        |ORDER BY key""".stripMargin,
    "mr_py_keymax" ->
      """SELECT o_orderpriority AS priority, max(o_orderkey) AS max_key
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY priority""".stripMargin,
    "mr_wordcount_topk" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), ' ')) AS word
        |      FROM documents) tok
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY cnt DESC, word
        |LIMIT 20""".stripMargin,
    "mr_csv_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "io_merge_upsert" ->
      """WITH upd AS (
        |  SELECT doc_id, 'v2 ' || text AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 10 = 0),
        |del AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 1),
        |neu AS (
        |  SELECT doc_id + 100000 AS doc_id, 'new ' || text AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id < 5),
        |ck AS (SELECT doc_id FROM upd UNION ALL SELECT doc_id FROM del
        |       UNION ALL SELECT doc_id FROM neu),
        |keep AS (SELECT d.* FROM documents d ANTI JOIN ck ON d.doc_id = ck.doc_id),
        |merged AS (SELECT * FROM keep UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM neu)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_text, source
        |FROM merged ORDER BY doc_id""".stripMargin,
    "io_time_travel" ->
      s"""WITH $cdcChainCteSql,
        |resolved AS (
        |  SELECT a.as_of, l.doc_id, l.text, l.source, l.del,
        |         row_number() OVER (PARTITION BY a.as_of, l.doc_id
        |                            ORDER BY l.v DESC) AS rn
        |  FROM (VALUES (1), (2)) a(as_of) JOIN logrel l ON l.v <= a.as_of)
        |SELECT CAST(as_of AS BIGINT) AS as_of, doc_id,
        |       CAST(length(text) AS BIGINT) AS n_text, source
        |FROM resolved WHERE rn = 1 AND NOT del
        |ORDER BY as_of, doc_id""".stripMargin,
    // VACUUM invariance: one head resolution of the full chain,
    // expected VERBATIM under both phase labels — if compaction
    // changed a single resolved row, "after" hash-mismatches
    "io_vacuum" ->
      s"""WITH $cdcChainCteSql,
        |resolved AS (
        |  SELECT l.doc_id, l.text, l.source, l.del,
        |         row_number() OVER (PARTITION BY l.doc_id
        |                            ORDER BY l.v DESC) AS rn
        |  FROM logrel l),
        |head AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_text, source
        |  FROM resolved WHERE rn = 1 AND NOT del)
        |SELECT p.phase, h.doc_id, h.n_text, h.source
        |FROM (VALUES ('before'), ('after')) p(phase) CROSS JOIN head h
        |ORDER BY p.phase, h.doc_id""".stripMargin,
    // RESTORE law, three reads at once: the post-restore head must
    // equal the target snapshot VERBATIM (phases 'head' and 'target'
    // share one resolution), while time travel to the pre-restore
    // state still works (phase 'forensic' resolves v<=2) — rollback by
    // reverse-delta commit, never by deleting history
    "io_restore" ->
      s"""WITH $cdcChainCteSql,
        |r1 AS (
        |  SELECT l.doc_id, l.text, l.source, l.del,
        |         row_number() OVER (PARTITION BY l.doc_id
        |                            ORDER BY l.v DESC) AS rn
        |  FROM logrel l WHERE l.v <= 1),
        |r2 AS (
        |  SELECT l.doc_id, l.text, l.source, l.del,
        |         row_number() OVER (PARTITION BY l.doc_id
        |                            ORDER BY l.v DESC) AS rn
        |  FROM logrel l WHERE l.v <= 2),
        |h1 AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_text, source
        |       FROM r1 WHERE rn = 1 AND NOT del),
        |h2 AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_text, source
        |       FROM r2 WHERE rn = 1 AND NOT del)
        |SELECT 'forensic' AS phase, doc_id, n_text, source FROM h2
        |UNION ALL SELECT 'head', doc_id, n_text, source FROM h1
        |UNION ALL SELECT 'target', doc_id, n_text, source FROM h1
        |ORDER BY phase, doc_id""".stripMargin,
    // MV-maintenance law: the incrementally maintained rollup equals
    // the recompute over the resolved head — the oracle IS the
    // recompute, so any retraction/addition drift hash-mismatches
    "io_mv_maintain" ->
      s"""WITH $cdcChainCteSql,
        |resolved AS (
        |  SELECT l.doc_id, l.text, l.source, l.del,
        |         row_number() OVER (PARTITION BY l.doc_id
        |                            ORDER BY l.v DESC) AS rn
        |  FROM logrel l)
        |SELECT source, count(*) AS n_rows,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_val
        |FROM resolved WHERE rn = 1 AND NOT del
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // the streaming twin maintains the SAME view the batch cycle does
    // (per-trigger fold == one batch fold over the union of commits),
    // so it shares the recompute oracle verbatim
    "stream_mv_maintain" ->
      s"""WITH $cdcChainCteSql,
        |resolved AS (
        |  SELECT l.doc_id, l.text, l.source, l.del,
        |         row_number() OVER (PARTITION BY l.doc_id
        |                            ORDER BY l.v DESC) AS rn
        |  FROM logrel l)
        |SELECT source, count(*) AS n_rows,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_val
        |FROM resolved WHERE rn = 1 AND NOT del
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // the change feed replayed from scratch: per (from, to) pair,
    // resolve the touched keys at both endpoints, full-outer compare,
    // drop identical rewrites — the exact snapshotDiff law
    "io_change_feed" ->
      s"""WITH $cdcChainCteSql,
        |pairs(from_v, to_v) AS (VALUES (0, 1), (1, 2)),
        |touched AS (
        |  SELECT DISTINCT p.from_v, p.to_v, l.doc_id
        |  FROM pairs p JOIN logrel l ON l.v > p.from_v AND l.v <= p.to_v),
        |oldr AS (
        |  SELECT t.from_v, t.to_v, t.doc_id, l.text, l.source, l.del,
        |    row_number() OVER (PARTITION BY t.from_v, t.to_v, t.doc_id
        |                       ORDER BY l.v DESC) AS rn
        |  FROM touched t JOIN logrel l
        |    ON l.doc_id = t.doc_id AND l.v <= t.from_v),
        |olds AS (SELECT from_v, to_v, doc_id, text, source
        |         FROM oldr WHERE rn = 1 AND NOT del),
        |newr AS (
        |  SELECT t.from_v, t.to_v, t.doc_id, l.text, l.source, l.del,
        |    row_number() OVER (PARTITION BY t.from_v, t.to_v, t.doc_id
        |                       ORDER BY l.v DESC) AS rn
        |  FROM touched t JOIN logrel l
        |    ON l.doc_id = t.doc_id AND l.v <= t.to_v),
        |news AS (SELECT from_v, to_v, doc_id, text, source
        |         FROM newr WHERE rn = 1 AND NOT del),
        |j AS (
        |  SELECT t.from_v, t.to_v, t.doc_id,
        |    o.text AS old_text, o.source AS old_source,
        |    (o.doc_id IS NOT NULL) AS old_here,
        |    n.text AS new_text, n.source AS new_source,
        |    (n.doc_id IS NOT NULL) AS new_here
        |  FROM touched t
        |  LEFT JOIN olds o ON o.from_v = t.from_v AND o.to_v = t.to_v
        |                  AND o.doc_id = t.doc_id
        |  LEFT JOIN news n ON n.from_v = t.from_v AND n.to_v = t.to_v
        |                  AND n.doc_id = t.doc_id)
        |SELECT CAST(from_v AS BIGINT) AS from_v, CAST(to_v AS BIGINT) AS to_v,
        |  doc_id,
        |  CASE WHEN NOT old_here THEN 'insert'
        |       WHEN NOT new_here THEN 'delete' ELSE 'update' END AS change,
        |  CAST(coalesce(length(old_text), -1) AS BIGINT) AS n_old,
        |  CAST(coalesce(length(new_text), -1) AS BIGINT) AS n_new
        |FROM j
        |WHERE (old_here OR new_here)
        |  AND NOT (old_here AND new_here
        |           AND old_text IS NOT DISTINCT FROM new_text
        |           AND old_source IS NOT DISTINCT FROM new_source)
        |ORDER BY from_v, doc_id""".stripMargin,
    // the streamed commit log resolves to the same final state as the
    // batch-applied log — io_time_travel's resolution at the head
    "stream_cdc_apply" ->
      """WITH ch1 AS (
        |  SELECT doc_id, 'v2 ' || text AS text, source, FALSE AS del
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, text, source, TRUE
        |  FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 100000, 'new ' || text, source, FALSE
        |  FROM documents WHERE doc_id < 5),
        |ch2 AS (
        |  SELECT doc_id, 'v3 ' || text AS text, source, FALSE AS del
        |  FROM documents WHERE doc_id % 10 = 2
        |  UNION ALL SELECT doc_id + 100000, text, source, TRUE
        |  FROM documents WHERE doc_id < 5
        |  UNION ALL SELECT doc_id, 'back ' || text, source, FALSE
        |  FROM documents WHERE doc_id % 100 = 1),
        |logrel AS (
        |  SELECT doc_id, text, source, FALSE AS del, 0 AS v FROM documents
        |  UNION ALL SELECT doc_id, text, source, del, 1 FROM ch1
        |  UNION ALL SELECT doc_id, text, source, del, 2 FROM ch2),
        |resolved AS (
        |  SELECT doc_id, text, source, del,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rn
        |  FROM logrel)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_text, source
        |FROM resolved WHERE rn = 1 AND NOT del
        |ORDER BY doc_id""".stripMargin,
    "io_wap" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "io_scd2" ->
      """WITH ch1 AS (
        |  SELECT doc_id, 'v2 ' || text AS text, source, FALSE AS del
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, text, source, TRUE
        |  FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 100000, 'new ' || text, source, FALSE
        |  FROM documents WHERE doc_id < 5),
        |ch2 AS (
        |  SELECT doc_id, 'v3 ' || text AS text, source, FALSE AS del
        |  FROM documents WHERE doc_id % 10 = 2
        |  UNION ALL SELECT doc_id + 100000, text, source, TRUE
        |  FROM documents WHERE doc_id < 5
        |  UNION ALL SELECT doc_id, 'back ' || text, source, FALSE
        |  FROM documents WHERE doc_id % 100 = 1),
        |logrel AS (
        |  SELECT doc_id, text, source, FALSE AS del, 0 AS v FROM documents
        |  UNION ALL SELECT doc_id, text, source, del, 1 FROM ch1
        |  UNION ALL SELECT doc_id, text, source, del, 2 FROM ch2),
        |iv AS (
        |  SELECT doc_id, text, source, del, v,
        |         lead(v) OVER (PARTITION BY doc_id ORDER BY v) AS eff_to
        |  FROM logrel)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_text, source,
        |       CAST(v AS BIGINT) AS eff_from, CAST(eff_to AS BIGINT) AS eff_to
        |FROM iv WHERE NOT del
        |ORDER BY doc_id, eff_from""".stripMargin,
    // point-in-time replay: the SCD-2 interval CTEs joined by interval
    // CONTAINMENT — the semantics the sort-based as-of + mask must
    // reproduce exactly, coverage gaps as -1
    "io_pit_enrich" ->
      """WITH ch1 AS (
        |  SELECT doc_id, 'v2 ' || text AS text, FALSE AS del
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, text, TRUE
        |  FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 100000, 'new ' || text, FALSE
        |  FROM documents WHERE doc_id < 5),
        |ch2 AS (
        |  SELECT doc_id, 'v3 ' || text AS text, FALSE AS del
        |  FROM documents WHERE doc_id % 10 = 2
        |  UNION ALL SELECT doc_id + 100000, text, TRUE
        |  FROM documents WHERE doc_id < 5
        |  UNION ALL SELECT doc_id, 'back ' || text, FALSE
        |  FROM documents WHERE doc_id % 100 = 1),
        |logrel AS (
        |  SELECT doc_id, text, FALSE AS del, 0 AS v FROM documents
        |  UNION ALL SELECT doc_id, text, del, 1 FROM ch1
        |  UNION ALL SELECT doc_id, text, del, 2 FROM ch2),
        |iv AS (
        |  SELECT doc_id, text, del, v,
        |         lead(v) OVER (PARTITION BY doc_id ORDER BY v) AS eff_to
        |  FROM logrel),
        |facts AS (
        |  SELECT doc_id, at_v
        |  FROM (SELECT DISTINCT doc_id FROM logrel) k
        |  CROSS JOIN (VALUES (0), (1), (2)) a(at_v))
        |SELECT CAST(f.at_v AS BIGINT) AS at_v, f.doc_id AS doc_id,
        |       CAST(coalesce(length(i.text), -1) AS BIGINT) AS n_text
        |FROM facts f
        |LEFT JOIN iv i ON i.doc_id = f.doc_id AND NOT i.del
        |  AND i.v <= f.at_v AND (i.eff_to IS NULL OR f.at_v < i.eff_to)
        |ORDER BY 1, 2""".stripMargin,
    "corpus_shards" ->
      """SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 16 AS shard,
        |       count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS n_bytes
        |FROM documents
        |GROUP BY shard
        |ORDER BY shard""".stripMargin,
    "io_schema_evolution" ->
      """WITH merged AS (
        |  SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source,
        |         CAST(NULL AS BIGINT) AS n_chars, CAST(NULL AS BIGINT) AS q_len
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, CAST(NULL AS VARCHAR), source, n_chars, CAST(NULL AS BIGINT)
        |  FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, lang, source, n_chars, CAST(length(text) AS BIGINT)
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id, lang, source, n_chars, q_len
        |FROM merged ORDER BY doc_id""".stripMargin,
    "mr_json_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS balance
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "mr_orc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n,
        |  CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS balance
        |FROM supplier
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,
    "mr_kv_roundtrip" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), ' ')) AS word
        |      FROM documents) tok
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY word""".stripMargin,
    "mr_api_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), ' ')) AS word
        |      FROM documents) tok
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY word""".stripMargin,
    "mr_grep" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE text LIKE '%stream%' AND lang = 'en'
        |ORDER BY doc_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1997-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q6_filter" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q3_join" ->
      """SELECT o_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin
  )

  // The .py-submission wordcount scripts (graft.api.PyJob). Authored
  // HERE, at "submit time" — the engine never sees them until the query
  // runs, which is the point: arbitrary user Python, the reference's
  // design-doc job contract (`w6/docs/design.md:66-74`). Tokenization
  // matches the reference mapper's semantics (`w7/src/python/map.py:
  // 9-18`: strip, lower, punctuation→space, split, skip empties) and
  // therefore the mr_wordcount oracle.
  private val wordcountMapperPy =
    """import string
      |
      |def mapfunc(in_file):
      |    counts = {}
      |    table = str.maketrans(string.punctuation, " " * len(string.punctuation))
      |    with open(in_file, "r", encoding="utf-8") as f:
      |        for line in f:
      |            for word in line.strip().lower().translate(table).split(" "):
      |                if word:
      |                    counts[word] = counts.get(word, 0) + 1
      |    return counts
      |""".stripMargin

  private val wordcountReducerPy =
    """def reducefunc(in_file):
      |    totals = {}
      |    with open(in_file, "r", encoding="utf-8") as f:
      |        for line in f:
      |            line = line.rstrip("\n")
      |            if not line:
      |                continue
      |            key, value = line.rsplit(":", 1)
      |            totals[key] = totals.get(key, 0) + int(value)
      |    return totals
      |""".stripMargin

  // the reference contract is ARBITRARY map/reduce .py pairs
  // (w6/docs/design.md:66-74); wordcount alone left the whole RDD.pipe
  // path with a single oracle-checked job shape. Two structurally
  // different jobs close that (round-12 ask #4): a grep-shaped
  // MAP-ONLY job (reducer absent — the degenerate case the reference
  // allows) whose keys are globally unique doc ids so the shard-local
  // dicts concatenate deterministically, and a per-key MAX whose
  // reduce is non-additive (the wordcount reducer's sum would be
  // wrong — this proves the user reducefunc, not a built-in, decides
  // the merge).
  private val grepMapperPy =
    """def mapfunc(in_file):
      |    hits = {}
      |    with open(in_file, "r", encoding="utf-8") as f:
      |        for line in f:
      |            line = line.rstrip("\n")
      |            if not line:
      |                continue
      |            doc_id, _, text = line.partition("\t")
      |            n = text.lower().count("data")
      |            if n > 0:
      |                hits[doc_id] = n
      |    return hits
      |""".stripMargin

  private val keyMaxMapperPy =
    """def mapfunc(in_file):
      |    best = {}
      |    with open(in_file, "r", encoding="utf-8") as f:
      |        for line in f:
      |            line = line.rstrip("\n")
      |            if not line:
      |                continue
      |            key, _, v = line.partition("|")
      |            v = int(v)
      |            if key not in best or v > best[key]:
      |                best[key] = v
      |    return best
      |""".stripMargin

  private val keyMaxReducerPy =
    """def reducefunc(in_file):
      |    best = {}
      |    with open(in_file, "r", encoding="utf-8") as f:
      |        for line in f:
      |            line = line.rstrip("\n")
      |            if not line:
      |                continue
      |            key, value = line.rsplit(":", 1)
      |            v = int(value)
      |            if key not in best or v > best[key]:
      |                best[key] = v
      |    return best
      |""".stripMargin

  /** The Python-scripted queries' scripts, written once per JVM into
    * one temp dir that is deleted at exit (as `api.PyJob.shimPath` does
    * for the shim), so repeated runs of these queries leave nothing
    * behind. */
  private lazy val pyScripts: Map[String, String] = {
    val d = java.nio.file.Files.createTempDirectory("graft_py")
    d.toFile.deleteOnExit()
    Seq("map.py" -> wordcountMapperPy, "reduce.py" -> wordcountReducerPy,
      "grep_map.py" -> grepMapperPy, "keymax_map.py" -> keyMaxMapperPy,
      "keymax_reduce.py" -> keyMaxReducerPy).map { case (name, body) =>
      val p = d.resolve(name)
      java.nio.file.Files.writeString(p, body)
      p.toFile.deleteOnExit()
      name -> p.toString
    }.toMap
  }

  /** The two wordcount scripts' paths → (map, reduce). Exposed to
    * MainSpec, which submits them through the CLI. */
  private[graft] def wordcountScripts(): (String, String) =
    (pyScripts("map.py"), pyScripts("reduce.py"))

  val plans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wordcount" -> { (s, dir) =>
      TextOps.wordCount(t(s, dir, "documents"), col("text")).orderBy("word")
    },
    "mr_py_wordcount" -> { (s, dir) =>
      import s.implicits._
      val (mapPy, redPy) = wordcountScripts()
      val lines = t(s, dir, "documents")
        .select(col("text").cast("string")).na.drop().as[String]
      graft.api.PyJob.run(lines, mapPy, Some(redPy), r = 8)
        .select(col("key").as("word"), col("value").cast("long").as("cnt"))
        .orderBy("word")
    },
    "mr_py_grep" -> { (s, dir) =>
      // grep-shaped MAP-ONLY .py job (reducerPy = None — the
      // reference's absent-reduce degenerate case): one mapfunc per
      // shard emits doc_id → substring-hit count for matching docs;
      // keys are globally unique, so the concatenated shard dicts are
      // partitioning-independent and hash-comparable to the oracle
      import s.implicits._
      val mapPy = pyScripts("grep_map.py")
      val lines = t(s, dir, "documents")
        .select(concat_ws("\t", col("doc_id"), col("text"))).na.drop().as[String]
      graft.api.PyJob.run(lines, mapPy, None, r = 8)
        .select(col("key"), col("value").cast("long").as("hits"))
        .orderBy("key")
    },
    "mr_py_keymax" -> { (s, dir) =>
      // per-key MAX through the same pyshim/RDD.pipe path: the reduce
      // is non-additive, so a correct result proves the USER
      // reducefunc decides the merge (a built-in sum would be wrong);
      // all-integer values keep the string wire format exact
      import s.implicits._
      val mapPy = pyScripts("keymax_map.py")
      val redPy = pyScripts("keymax_reduce.py")
      val lines = t(s, dir, "orders")
        .select(concat_ws("|", col("o_orderpriority"), col("o_orderkey"))).as[String]
      graft.api.PyJob.run(lines, mapPy, Some(redPy), r = 8)
        .select(col("key").as("priority"), col("value").cast("long").as("max_key"))
        .orderBy("priority")
    },
    "mr_wordcount_topk" -> { (s, dir) =>
      TextOps
        .wordCount(t(s, dir, "documents"), col("text"))
        .orderBy(desc("cnt"), asc("word"))
        .limit(20)
    },
    "mr_csv_roundtrip" -> { (s, dir) =>
      // foreign-format interchange: per-region revenue written as CSV
      // (header + inferred-schema read-back — the interchange format
      // the reference's client tooling consumes), re-read, re-ordered.
      // The oracle computes the same aggregate straight from parquet,
      // so the CSV codec round trip must be lossless for longs,
      // decimals-as-doubles, and strings alike.
      val out = graft.util.Scratch.dirAutoClean("csvrt")
      val rev = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 6))), 2)
            .cast("double").as("total"))
      io.Sinks.writeCsv(rev, out)
      io.Sinks.readCsv(s, out)
        .select(col("o_orderpriority"), col("n").cast("long").as("n"), col("total"))
        .orderBy("o_orderpriority")
    },
    "io_merge_upsert" -> { (s, dir) =>
      // copy-on-write snapshot refresh: a deterministic CDC batch
      // (10% updated, 10% tombstoned, 5 inserts) merged into the
      // documents snapshot, written to parquet, and read back — the
      // whole upsert cycle a daily corpus refresh runs, with the
      // oracle rebuilding MERGE semantics relationally
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val upd = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("text", concat(lit("v2 "), col("text")))
        .withColumn("__deleted", lit(false))
      val del = docs.where(pmod(col("doc_id"), lit(10)) === 1)
        .withColumn("__deleted", lit(true))
      val ins = docs.where(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", concat(lit("new "), col("text")))
        .withColumn("__deleted", lit(false))
      val merged = io.Sinks.mergeSnapshot(
        docs, upd.unionByName(del).unionByName(ins), "doc_id", "__deleted")
      val out = graft.util.Scratch.dirAutoClean("mergert")
      merged.write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_text"),
          col("source"))
        .orderBy("doc_id")
    },
    "io_time_travel" -> { (s, dir) =>
      // log-structured versioned snapshots (merge-on-read): the base
      // corpus plus two deterministic CDC commits land as append-only
      // __v=N directories — O(batch) per commit, earlier versions'
      // files never touched — then the query time-travel-reads BOTH
      // historical states, proving reads reconstruct history rather
      // than just the latest view. v1 is the io_merge_upsert batch
      // (10% updated, 10% tombstoned, 5 inserts); v2 updates another
      // 10%, tombstones the v1 inserts, and REVIVES the %100=1 slice
      // over its v1 tombstone (last-writer-wins across tombstones)
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val path =
        graft.util.Scratch.dirAutoClean("ttravel") + "/tbl"
      writeCdcChain(s, docs, path)
      val v1 = io.Sinks.readSnapshotAt(s, path, 1, "doc_id")
        .withColumn("as_of", lit(1L))
      val v2 = io.Sinks.readSnapshotAt(s, path, 2, "doc_id")
        .withColumn("as_of", lit(2L))
      v1.unionByName(v2)
        .select(col("as_of"), col("doc_id"),
          length(col("text")).cast("long").as("n_text"), col("source"))
        .orderBy("as_of", "doc_id")
    },
    "io_vacuum" -> { (s, dir) =>
      // versioned-table maintenance (VACUUM): fold commits <= horizon
      // into one resolved base partition — the read-amplification fix
      // a forever-growing merge-on-read commit chain needs at 100 TB.
      // The query materializes the HEAD before vacuuming at v=1, then
      // reads the head again from the compacted table: the two phases
      // must be byte-identical, which is exactly what the oracle
      // checks (one head resolution, crossed with both phase labels).
      // Reads below the horizon now fail loud (spec-pinned) instead
      // of resolving an empty snapshot
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val base = graft.util.Scratch.dirAutoClean("vacuum")
      val path = base + "/tbl"
      writeCdcChain(s, docs, path)
      def head = io.Sinks.readSnapshotAt(s, path, 2, "doc_id")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_text"), col("source"))
      // materialize the pre-vacuum head NOW — the returned plan is
      // lazy, and the compaction below must not leak into "before"
      head.write.parquet(s"$base/before")
      io.Sinks.compactVersions(s, path, upTo = 1, keyCol = "doc_id")
      s.read.parquet(s"$base/before").withColumn("phase", lit("before"))
        .unionByName(head.withColumn("phase", lit("after")))
        .orderBy("phase", "doc_id")
    },
    "io_restore" -> { (s, dir) =>
      // undo the bad ingest: the v2 commit is declared bad, RESTORE to
      // v1 lands as commit v3 carrying only the reverse delta
      // (O(|diff|), not O(table)); the new head must read identically
      // to the v1 snapshot while v2 stays time-travelable for the
      // post-mortem — rollback without history loss or rebuild
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents").select("doc_id", "text", "source")
      val path =
        graft.util.Scratch.dirAutoClean("restore") + "/tbl"
      writeCdcChain(s, docs, path)
      val v = io.Sinks.restoreVersion(s, path, toVersion = 1, "doc_id")
      def read(asOf: Long, phase: String) =
        io.Sinks.readSnapshotAt(s, path, asOf, "doc_id")
          .select(lit(phase).as("phase"), col("doc_id"),
            length(col("text")).cast("long").as("n_text"), col("source"))
      read(v, "head")
        .unionByName(read(1, "target"))
        .unionByName(read(2, "forensic"))
        .orderBy("phase", "doc_id")
    },
    "io_mv_maintain" -> { (s, dir) =>
      // incremental materialized-view maintenance: the per-source
      // (count, sum-of-chars) rollup is seeded from the base commit,
      // then folded forward with the 0→2 change feed — each changed
      // key retracts its old contribution and adds its new one, so
      // the maintained view must equal a recompute over the resolved
      // head (the oracle) while the maintenance cycle only ever
      // touches the CHANGED keys and the O(groups) view
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents").select("doc_id", "text", "source")
      val path =
        graft.util.Scratch.dirAutoClean("mvmaint") + "/tbl"
      writeCdcChain(s, docs, path)
      val mv0 = io.Sinks.readSnapshotAt(s, path, 0, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          sum(length(col("text")).cast("long")).as("sum_val"))
      io.Sinks.maintainAggView(
          mv0, io.Sinks.snapshotDiff(s, path, 0, 2, "doc_id"),
          "source",
          oldVal = length(col("old_text")), newVal = length(col("new_text")))
        .orderBy("source")
    },
    "stream_mv_maintain" -> { (s, dir) =>
      // the streaming twin of io_mv_maintain: the same two change
      // batches arrive as micro-batches, each committing one __v=N
      // version and folding its own change feed into the stored view
      // (write-then-swap) — after the stream drains, the stored view
      // must equal the batch recompute over the resolved head, so the
      // query shares io_mv_maintain's oracle verbatim
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents").select("doc_id", "text", "source")
      val base = graft.util.Scratch.dirAutoClean("mvstream")
      val path = base + "/tbl"
      io.Sinks.writeVersion(docs, path, 0)
      // the deployment's initial backfill: seed the stored view once
      io.Sinks.readSnapshotAt(s, path, 0, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          sum(length(col("text")).cast("long")).as("sum_val"))
        .write.parquet(s"$base/mv")
      val (b1, b2) = cdcBatches(docs)
      streaming.StreamOps.mvMaintainApply(
        streaming.StreamOps.stagedStream(Seq(b1, b2)), path, s"$base/mv",
        "doc_id", "source",
        oldVal = length(col("old_text")), newVal = length(col("new_text")))
      s.read.parquet(s"$base/mv")
        .select(col("source"), col("n_rows"), col("sum_val"))
        .orderBy("source")
    },
    "io_change_feed" -> { (s, dir) =>
      // row-level change feed between versions of the commit log: for
      // each version step, every key whose RESOLVED state moved —
      // insert/update/delete with old and new payload — derived from
      // the same log io_time_travel builds (slimmed to a text+source
      // payload so the diff's column-equality contract is fully
      // exercised by the oracle). Only touched keys are resolved;
      // identical rewrites are silent
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents").select("doc_id", "text", "source")
      val path =
        graft.util.Scratch.dirAutoClean("chfeed") + "/tbl"
      writeCdcChain(s, docs, path)
      Seq((0L, 1L), (1L, 2L))
        .map { case (f, v) =>
          io.Sinks.snapshotDiff(s, path, f, v, "doc_id")
            .withColumn("from_v", lit(f)).withColumn("to_v", lit(v))
        }
        .reduce(_ unionByName _)
        .select(col("from_v"), col("to_v"), col("doc_id"), col("change"),
          coalesce(length(col("old_text")), lit(-1)).cast("long").as("n_old"),
          coalesce(length(col("new_text")), lit(-1)).cast("long").as("n_new"))
        .orderBy("from_v", "doc_id")
    },
    "stream_cdc_apply" -> { (s, dir) =>
      // streaming CDC ingestion: io_time_travel's two change batches
      // delivered as a STREAM and committed one micro-batch = one
      // append-only __v=N version via foreachBatch (the standard
      // stream-to-lakehouse pattern); the staged one-file-per-trigger
      // source pins commit order = change order, and the final
      // merge-on-read resolution must equal the batch-applied log
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val path =
        graft.util.Scratch.dirAutoClean("cdcapply") + "/tbl"
      io.Sinks.writeVersion(docs, path, 0)
      val ch1 = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("text", concat(lit("v2 "), col("text")))
        .withColumn("__deleted", lit(false))
        .unionByName(docs.where(pmod(col("doc_id"), lit(10)) === 1)
          .withColumn("__deleted", lit(true)))
        .unionByName(docs.where(col("doc_id") < 5)
          .withColumn("doc_id", col("doc_id") + 100000L)
          .withColumn("text", concat(lit("new "), col("text")))
          .withColumn("__deleted", lit(false)))
      val ch2 = docs.where(pmod(col("doc_id"), lit(10)) === 2)
        .withColumn("text", concat(lit("v3 "), col("text")))
        .withColumn("__deleted", lit(false))
        .unionByName(docs.where(col("doc_id") < 5)
          .withColumn("doc_id", col("doc_id") + 100000L)
          .withColumn("__deleted", lit(true)))
        .unionByName(docs.where(pmod(col("doc_id"), lit(100)) === 1)
          .withColumn("text", concat(lit("back "), col("text")))
          .withColumn("__deleted", lit(false)))
      streaming.StreamOps.cdcApply(
        streaming.StreamOps.stagedStream(Seq(ch1, ch2)), path)
      io.Sinks.readSnapshotAt(s, path, Long.MaxValue, "doc_id")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_text"), col("source"))
        .orderBy("doc_id")
    },
    "io_wap" -> { (s, dir) =>
      // write-audit-publish round trip: the corpus stages, passes its
      // contract (non-null unique ids, consistent n_chars), publishes
      // atomically, and the query reads the PUBLISHED table back — so
      // the oracle certifies both the gate's pass path and that
      // publish moved exactly the staged bytes
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val path =
        graft.util.Scratch.dirAutoClean("wap") + "/tbl"
      io.Sinks.writeAudited(docs, path,
        rowRules = Seq(
          "doc_id_not_null" -> col("doc_id").isNull,
          "n_chars_consistent" -> (col("n_chars") =!= length(col("text")))),
        uniqueKeys = Seq("doc_id_unique" -> Seq("doc_id")))
      s.read.parquet(path)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .orderBy("source")
    },
    "io_scd2" -> { (s, dir) =>
      // SCD-2 history off the SAME commit log io_time_travel builds:
      // every committed value with its [eff_from, eff_to) validity
      // interval — tombstones close intervals and emit nothing,
      // revivals open new ones; one lead window over the log
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val path =
        graft.util.Scratch.dirAutoClean("scd2") + "/tbl"
      io.Sinks.writeVersion(docs, path, 0)
      val up1 = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("text", concat(lit("v2 "), col("text")))
        .withColumn("__deleted", lit(false))
      val del1 = docs.where(pmod(col("doc_id"), lit(10)) === 1)
        .withColumn("__deleted", lit(true))
      val ins1 = docs.where(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", concat(lit("new "), col("text")))
        .withColumn("__deleted", lit(false))
      io.Sinks.writeVersion(up1.unionByName(del1).unionByName(ins1), path,
        io.Sinks.nextVersion(s, path))
      val up2 = docs.where(pmod(col("doc_id"), lit(10)) === 2)
        .withColumn("text", concat(lit("v3 "), col("text")))
        .withColumn("__deleted", lit(false))
      val del2 = docs.where(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("__deleted", lit(true))
      val rev2 = docs.where(pmod(col("doc_id"), lit(100)) === 1)
        .withColumn("text", concat(lit("back "), col("text")))
        .withColumn("__deleted", lit(false))
      io.Sinks.writeVersion(up2.unionByName(del2).unionByName(rev2), path,
        io.Sinks.nextVersion(s, path))
      io.Sinks.scd2History(s, path, "doc_id")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_text"),
          col("source"), col("eff_from"), col("eff_to"))
        .orderBy("doc_id", "eff_from")
    },
    "io_pit_enrich" -> { (s, dir) =>
      // point-in-time enrichment: every (key, probe-version) fact sees
      // the dimension value whose SCD-2 validity interval CONTAINS its
      // time — the leakage-safe feature join, composed as one
      // key-sorted as-of pass + interval mask (never a per-key range
      // join); coverage gaps (pre-insert, post-tombstone) come back
      // null, exactly as history says
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val path =
        graft.util.Scratch.dirAutoClean("pit") + "/tbl"
      io.Sinks.writeVersion(docs, path, 0)
      val up1 = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("text", concat(lit("v2 "), col("text")))
        .withColumn("__deleted", lit(false))
      val del1 = docs.where(pmod(col("doc_id"), lit(10)) === 1)
        .withColumn("__deleted", lit(true))
      val ins1 = docs.where(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", concat(lit("new "), col("text")))
        .withColumn("__deleted", lit(false))
      io.Sinks.writeVersion(up1.unionByName(del1).unionByName(ins1), path,
        io.Sinks.nextVersion(s, path))
      val up2 = docs.where(pmod(col("doc_id"), lit(10)) === 2)
        .withColumn("text", concat(lit("v3 "), col("text")))
        .withColumn("__deleted", lit(false))
      val del2 = docs.where(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("__deleted", lit(true))
      val rev2 = docs.where(pmod(col("doc_id"), lit(100)) === 1)
        .withColumn("text", concat(lit("back "), col("text")))
        .withColumn("__deleted", lit(false))
      io.Sinks.writeVersion(up2.unionByName(del2).unionByName(rev2), path,
        io.Sinks.nextVersion(s, path))
      val hist = io.Sinks.scd2History(s, path, "doc_id")
      val facts = s.read.parquet(path).select("doc_id").distinct()
        .crossJoin(s.range(3).select(col("id").as("at_v")))
      graft.ops.AsOfJoin.pointInTime(facts, hist, "doc_id", "at_v",
          "eff_from", "eff_to", Seq("text"))
        .select(col("at_v"), col("doc_id"),
          coalesce(length(col("asof_text")), lit(-1)).cast("long").as("n_text"))
        .orderBy("at_v", "doc_id")
    },
    "corpus_shards" -> { (s, dir) =>
      // training-shard export round trip: the corpus lands as 16 hive
      // shard directories by the md5-uniform assignment (one shuffle,
      // balanced by construction, source-interleaved for free) plus an
      // on-disk manifest; the query returns the manifest READ BACK
      // from disk, so the oracle certifies the whole write path —
      // shard law, per-shard doc counts, per-shard byte sums
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val path =
        graft.util.Scratch.dirAutoClean("shards") + "/out"
      io.Sinks.writeShards(docs, path, "doc_id", 16,
        length(col("text")).cast("long"))
      io.Sinks.readShardManifest(s, path).orderBy("shard")
    },
    "io_schema_evolution" -> { (s, dir) =>
      // three schema ERAS of one corpus land in a single parquet table
      // by plain O(batch) appends — era 1 recorded (doc_id, text,
      // lang), era 2 dropped lang and started recording (source,
      // n_chars), era 3 carries everything plus a derived q_len — and
      // ONE mergeSchema read reconciles them, null-filling whatever an
      // era didn't store. Each append passes the requireCompatible
      // admission gate (added/dropped columns are benign drift parquet
      // absorbs; a RETYPED column would throw at write time — the one
      // drift a merged read cannot reconcile). The merge itself is a
      // footer-only metadata pass, never a data rewrite
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val path =
        graft.util.Scratch.dirAutoClean("sevol") + "/tbl"
      val era1 = docs.where(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("text"), col("lang"))
      val era2 = docs.where(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val era3 = docs.where(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), length(col("text")).cast("long").as("q_len"))
      io.Sinks.appendEvolved(era1, path)
      ops.Constraints.requireCompatible(
        io.Sinks.readEvolved(s, path).schema, era2.schema)
      io.Sinks.appendEvolved(era2, path)
      ops.Constraints.requireCompatible(
        io.Sinks.readEvolved(s, path).schema, era3.schema)
      io.Sinks.appendEvolved(era3, path)
      io.Sinks.readEvolved(s, path)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("q_len"))
        .orderBy("doc_id")
    },
    "mr_json_roundtrip" -> { (s, dir) =>
      // JSONL interchange: schema survives the round trip via Spark's
      // JSON reader inference (longs stay longs, doubles doubles,
      // strings strings); the oracle reads the same aggregate straight
      // from parquet
      val out = graft.util.Scratch.dirAutoClean("jsonrt")
      val agg = t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(dec(col("c_acctbal"))), 2).cast("double").as("balance"))
      io.Sinks.writeJsonLines(agg, out)
      io.Sinks.readJsonLines(s, out)
        .select(col("c_mktsegment"), col("n").cast("long").as("n"), col("balance"))
        .orderBy("c_mktsegment")
    },
    "mr_orc_roundtrip" -> { (s, dir) =>
      // columnar interchange beyond parquet: the aggregate written as
      // ORC (Spark's other native vectorized columnar format — schema
      // carried in the file, no read-back inference) and re-read; the
      // oracle computes the same aggregate straight from parquet, so
      // the ORC codec round trip must be lossless for longs, doubles,
      // and grouping keys
      val out = graft.util.Scratch.dirAutoClean("orcrt")
      val agg = t(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(dec(col("s_acctbal"))), 2).cast("double").as("balance"))
      io.Sinks.writeOrc(agg, out)
      io.Sinks.readOrc(s, out)
        .select(col("s_nationkey"), col("n"), col("balance"))
        .orderBy("s_nationkey")
    },
    "mr_kv_roundtrip" -> { (s, dir) =>
      // full reference job shape incl. the sink: wordcount → R
      // `out_<j>` files of `key:value` lines (D10) → read back via
      // last-colon split (reduce.py:9) — the oracle sees plain wordcount,
      // so the codec round trip must be lossless
      val out = graft.util.Scratch.dirAutoClean("kvrt")
      io.KvText.write(
        TextOps.wordCount(t(s, dir, "documents"), col("text")),
        "word", "cnt", out, r = 5)
      io.KvText.read(s, out)
        .select(col("key").as("word"), col("value").cast("long").as("cnt"))
        .orderBy("word")
    },
    "mr_api_wordcount" -> { (s, dir) =>
      // the canonical job routed through the typed MapReduceJob
      // contract itself — user-supplied mapper closure (map.py:9-18
      // semantics), user-supplied reducer, r = 5 — instead of the
      // codegen'd Column formulation the other mr_* queries use
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("text")).as[String]
      graft.api.MapReduceJob[String, String, Long](
          docs,
          (line: String) => line.toLowerCase(java.util.Locale.ROOT)
            .replaceAll("\\p{Punct}", " ")
            .split(" ").iterator.filter(_.nonEmpty).map(w => (w, 1L)),
          (a: Long, b: Long) => a + b)
        .withReducers(5)
        .run()
        .toDF("word", "cnt")
        .orderBy("word")
    },
    "mr_grep" -> { (s, dir) =>
      // map-only job: pushed filter + pruned projection
      t(s, dir, "documents")
        .where(col("text").contains("stream") && col("lang") === "en")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
    "q1_agg" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1997-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumExpr(revenueTerm(li)).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    "q6_filter" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(
          dsumExpr(dec(col("l_extendedprice")) * dec(col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n"))
    },
    "q3_join" -> { (s, dir) =>
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("o_orderkey")
        .agg(dsumExpr(revenueTerm(li)).as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    }
  )
}
