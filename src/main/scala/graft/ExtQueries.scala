package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Graph, Multimodal, Sampling, Search, Similarity, TextAnalysis}
import graft.io.Tables
import graft.ops.TextOps
import graft.streaming.StreamOps

/** LLM-data-pipeline operator queries (SURVEY.md §2.5): dedup, similarity
  * search, text analysis. Where the op is SQL-expressible the oracle is
  * the brute-force/exact formulation — e.g. the MinHash-LSH query's oracle
  * is the full O(n²) exact-Jaccard join, so the probabilistic index is
  * checked against ground truth, not against itself.
  */
object ExtQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // the integral fact-table key columns stats_analyze profiles — shared
  // by the plan and the oracle generator (single-source-of-truth rule)
  private val statsCols =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")

  // per-label centroid cosine vs the corpus centroid — exact integer
  // replay of the one-pass drift monitor (same truncating-div means as
  // the Lloyd recentering CTEs, floored correctly-rounded sqrt).
  // Shared verbatim by emb_drift and its streaming twin stream_drift,
  // which must agree bit-for-bit.
  private val embDriftSql: String =
    s"""WITH qv AS (
       |  SELECT label,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |comp AS (SELECT label, i AS pos, q[i] AS qx FROM qv, range(1, 65) r(i)),
       |sums AS (SELECT label, pos, CAST(sum(qx) AS BIGINT) AS s, count(*) AS n
       |         FROM comp GROUP BY label, pos),
       |gc AS (SELECT label, list(s // n ORDER BY pos) AS gv,
       |              CAST(min(n) AS BIGINT) AS n_vecs
       |       FROM sums GROUP BY label),
       |gl AS (SELECT list(qc ORDER BY pos) AS cv FROM (
       |         SELECT pos, CAST(sum(s) AS BIGINT) // CAST(sum(n) AS BIGINT) AS qc
       |         FROM sums GROUP BY pos) t),
       |d AS (SELECT label, n_vecs,
       |             ${qdotIntSql("gc.gv", "gl.cv")} AS dgc,
       |             ${qdotIntSql("gc.gv", "gc.gv")} AS dgg,
       |             ${qdotIntSql("gl.cv", "gl.cv")} AS dcc
       |      FROM gc, gl)
       |SELECT label, n_vecs,
       |       CASE WHEN dgg = 0 OR dcc = 0 THEN NULL
       |            ELSE (dgc * 1000000) // (CAST(floor(sqrt(dgg)) AS BIGINT)
       |                                     * CAST(floor(sqrt(dcc)) AS BIGINT)) END AS cos_micro
       |FROM d ORDER BY label""".stripMargin

  // pairwise centroid affinity: the drift CTEs' centroid build, then a
  // self-join over the label pairs — gc MATERIALIZED because both join
  // sides reference it (the lpa-oracle inlining lesson)
  private val embAffinitySql: String =
    s"""WITH qv AS (
       |  SELECT label,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |comp AS (SELECT label, i AS pos, q[i] AS qx FROM qv, range(1, 65) r(i)),
       |sums AS (SELECT label, pos, CAST(sum(qx) AS BIGINT) AS s, count(*) AS n
       |         FROM comp GROUP BY label, pos),
       |gc AS MATERIALIZED (
       |  SELECT label, list(s // n ORDER BY pos) AS gv,
       |         CAST(min(n) AS BIGINT) AS n_vecs
       |  FROM sums GROUP BY label),
       |d AS (SELECT a.label AS label_a, b.label AS label_b,
       |             a.n_vecs AS n_a, b.n_vecs AS n_b,
       |             ${qdotIntSql("a.gv", "b.gv")} AS dab,
       |             ${qdotIntSql("a.gv", "a.gv")} AS daa,
       |             ${qdotIntSql("b.gv", "b.gv")} AS dbb
       |      FROM gc a JOIN gc b ON a.label < b.label)
       |SELECT label_a, label_b, n_a, n_b,
       |       CASE WHEN daa = 0 OR dbb = 0 THEN NULL
       |            ELSE (dab * 1000000) // (CAST(floor(sqrt(daa)) AS BIGINT)
       |                                     * CAST(floor(sqrt(dbb)) AS BIGINT)) END AS cos_micro
       |FROM d ORDER BY label_a, label_b""".stripMargin

  // MMR re-rank replay: brute top-16 shortlist, pairwise shortlist
  // sims, then k=5 UNROLLED greedy rounds (the Lloyd-round oracle
  // pattern) — each round penalizes remaining candidates by max sim to
  // the selected set and picks the λ·rel − (1−λ)·penalty argmax,
  // id-broken. Every multiply-referenced CTE MATERIALIZED (default
  // inlining re-expands the chain 3^rounds times).
  private def mmrOracleSql(k: Int, m: Int, lam: Int): String = {
    val head =
      s"""WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 10),
         |sl AS MATERIALIZED (
         |  SELECT probe_id, vec_id, qdot FROM (
         |    SELECT probe_id, vec_id, ${qdotSql("pe", "embedding")} AS qdot,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY ${qdotSql("pe", "embedding")} DESC, vec_id) AS rr
         |    FROM probes, embeddings WHERE vec_id <> probe_id) t
         |  WHERE rr <= $m),
         |sim AS MATERIALIZED (
         |  SELECT a.probe_id, a.vec_id AS i, b.vec_id AS j,
         |         ${qdotSql("ea.embedding", "eb.embedding")} AS sim
         |  FROM sl a JOIN sl b ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
         |sel1 AS (
         |  SELECT probe_id, vec_id, qdot, CAST(1 AS BIGINT) AS rn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rr
         |    FROM sl) t WHERE rr = 1),
         |selall1 AS MATERIALIZED (SELECT * FROM sel1)""".stripMargin
    val rounds = (2 to k).map { r =>
      s"""pen$r AS (
         |  SELECT s.probe_id, s.i AS vec_id, max(s.sim) AS pen
         |  FROM sim s JOIN selall${r - 1} e ON e.probe_id = s.probe_id AND e.vec_id = s.j
         |  GROUP BY s.probe_id, s.i),
         |sc$r AS (
         |  SELECT rem.probe_id, rem.vec_id, rem.qdot,
         |         $lam * rem.qdot - ${1000 - lam} * p.pen AS mmr
         |  FROM (SELECT sl.* FROM sl ANTI JOIN selall${r - 1} e
         |          ON sl.probe_id = e.probe_id AND sl.vec_id = e.vec_id) rem
         |  JOIN pen$r p ON p.probe_id = rem.probe_id AND p.vec_id = rem.vec_id),
         |sel$r AS (
         |  SELECT probe_id, vec_id, qdot, CAST($r AS BIGINT) AS rn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY mmr DESC, vec_id) AS rr
         |    FROM sc$r) t WHERE rr = 1),
         |selall$r AS MATERIALIZED (
         |  SELECT * FROM selall${r - 1} UNION ALL SELECT * FROM sel$r)""".stripMargin
    }
    (Seq(head) ++ rounds).mkString(",\n") +
      s"\nSELECT probe_id, vec_id, qdot, rn FROM selall$k ORDER BY probe_id, rn"
  }

  // full-table ANALYZE replay — shared by the one-shot and the
  // merged-state (incremental) paths, which must agree bit-for-bit
  private val statsAnalyzeSql = statsCols.map { c =>
    s"""SELECT '$c' AS col_name, CAST(min($c) AS BIGINT) AS min_v,
       |       CAST(max($c) AS BIGINT) AS max_v,
       |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       |       (WITH h AS (SELECT DISTINCT CAST(concat('0x', substring(md5(CAST($c AS VARCHAR)), 1, 11)) AS BIGINT) AS h
       |                   FROM lineitem WHERE $c IS NOT NULL),
       |             r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h)
       |        SELECT CAST(CASE WHEN count(*) < 256 THEN count(*)
       |                         ELSE (255 * 17592186044416) // max(h) END AS BIGINT)
       |        FROM r WHERE rn <= 256) AS ndv_est
       |FROM lineitem""".stripMargin
  }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"

  // DuckDB token array for documents.text, matching TextOps.tokens
  private val tokSql =
    "list_filter(string_split(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), ' '), x -> x <> '')"
  // Stopword literal generated from the SAME list the quality scorers
  // use, so adding a stopword re-derives the oracle.
  private val stopwordsSql =
    ext.TextAnalysis.stopwords.map("'" + _ + "'").mkString(",")
  // Winnowing oracle fragments derived from the SAME constants the
  // Scala kernel uses (TextAnalysis.winnowPos*/winnowHashHex and the
  // default k/w geometry), so the packed-key arithmetic cannot desync.
  private val winnowPackSql = ext.TextAnalysis.winnowPosMask + 1
  private val winnowMaskSql = ext.TextAnalysis.winnowPosMask
  private val winnowCteSql: String = {
    val k = ext.TextAnalysis.winnowK
    val w = ext.TextAnalysis.winnowW
    val hex = ext.TextAnalysis.winnowHashHex
    s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
       |pk AS (
       |  SELECT doc_id,
       |         [CAST(concat('0x', substring(md5(array_to_string(tk[i:i+${k - 1}], ' ')), 1, $hex)) AS BIGINT) * $winnowPackSql
       |            + ($winnowMaskSql - i)
       |          FOR i IN range(1, len(tk) - ${k - 2})] AS pk
       |  FROM toks),
       |sel AS (
       |  SELECT doc_id,
       |         list_distinct([list_min(pk[i:i+${w - 1}]) FOR i IN range(1, greatest(len(pk) - ${w - 2}, 2))]) AS keys
       |  FROM pk WHERE len(pk) >= 1),
       |fp0 AS (SELECT doc_id, unnest(keys) AS key FROM sel)""".stripMargin
  }
  // DuckDB language-ID fragments GENERATED from TextAnalysis's marker
  // lists (same order = same alphabetical argmax tie-break as
  // langIdFromTokens' foldRight), so adding a language or marker
  // re-derives every langid oracle instead of silently desyncing it.
  // langScoreSql expects a token array column `tk` in scope.
  private val langScoreSql = ext.TextAnalysis.langMarkers.map { case (l, ms) =>
    s"len(list_filter(tk, x -> list_contains([${ms.map("'" + _ + "'").mkString(",")}], x))) AS s_$l"
  }.mkString(", ")
  private val langCaseSql = {
    val all = ext.TextAnalysis.langMarkers.map("s_" + _._1).mkString(", ")
    ext.TextAnalysis.langMarkers.map { case (l, _) =>
      s"WHEN s_$l = greatest($all) AND s_$l > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
  }
  // DuckDB distinct word-3-gram shingles, matching Dedup.shingles(_, 3)
  private val shingleSql =
    s"list_distinct([array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)])"
  // DuckDB quantized int64 dot product, matching Similarity.quantizedDot
  private def qdotSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> CAST(round(CAST(p[1] AS DOUBLE)*1000) AS BIGINT) * CAST(round(CAST(p[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT)"

  // integer dot over ALREADY-quantized BIGINT lists (trained IVF
  // centroids live in quantized units)
  private def qdotIntSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT)"

  // exact O(n·m) cross-corpus Jaccard truth (the 20% id-hash batch vs
  // the rest) — the oracle for BOTH the batch incremental screen and
  // its streaming twin
  // shared by the batch screen (`decontaminate`) and its streaming twin
  // (`stream_decontaminate`) — identical rows by construction
  private lazy val deconScreenSql =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokSql AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest([array_to_string(tk[i:i+4], ' ') FOR i IN range(1, len(tk) - 3)]) AS g
       |  FROM toks WHERE len(tk) >= 5),
       |h AS (
       |  SELECT DISTINCT doc_id, CAST(concat('0x', substring(md5(g), 1, 11)) AS BIGINT) AS h FROM sh),
       |bench AS (SELECT DISTINCT h FROM h WHERE doc_id % 7 = 0)
       |SELECT doc_id, count(*) AS n_hits FROM h JOIN bench USING (h)
       |WHERE doc_id % 7 <> 0 GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  private lazy val incrementalScreenSql =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokSql AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3),
       |nw AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
       |ol AS (SELECT * FROM sh WHERE doc_id % 5 <> 0)
       |SELECT nw.doc_id AS id_new, ol.doc_id AS id_old,
       |       len(list_intersect(nw.ws, ol.ws))*1.0 / len(list_distinct(list_concat(nw.ws, ol.ws))) AS jaccard
       |FROM nw JOIN ol ON len(list_intersect(nw.ws, ol.ws))*1.0 / len(list_distinct(list_concat(nw.ws, ol.ws))) >= 0.6
       |ORDER BY id_new, id_old""".stripMargin

  // exact integer squared Euclidean distance over already-quantized
  // BIGINT lists (the PQ subspace metric)
  private def pqDistSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> (CAST(p[1] AS BIGINT) - CAST(p[2] AS BIGINT)) * (CAST(p[1] AS BIGINT) - CAST(p[2] AS BIGINT)))) AS BIGINT)"

  // DuckDB replay of the PQ codebook trainer (Similarity.pqCodebook:
  // seeds = the 16 smallest-hash vectors with codes = hash rank, one
  // id-broken Lloyd round per subspace over the bounded sample,
  // truncating integer means). `src` names a CTE of shape
  // (vec_id, q, h) — `qv` for raw-vector PQ, a residual relation for
  // IVFADC; ends with `pqcents` = (sub, code, cv). Shared by
  // emb_pq_codes, ann_ivfpq_topk, and ann_ivfpq_res_topk.
  // trainPred restricts the TRAINING sample/seeds to a corpus slice
  // (the incremental-index oracle: quantizers trained on the original
  // 80%, encode over everything); "TRUE" = train on all of `src`
  private def pqCentsSql(src: String = "qv", trainPred: String = "TRUE") =
    s"""pqsamp AS (SELECT vec_id AS sid, q FROM $src WHERE $trainPred ORDER BY h, vec_id LIMIT ${ext.Similarity.defaultTrainSample}),
       |pqsd0 AS (
       |  SELECT q, row_number() OVER (ORDER BY h, vec_id) - 1 AS code
       |  FROM (SELECT * FROM $src WHERE $trainPred ORDER BY h, vec_id LIMIT 16) z0),
       |pqseeds AS (SELECT sub, code, q[sub*8+1 : sub*8+8] AS cv FROM pqsd0, range(0, 8) r(sub)),
       |pqssub AS (SELECT sid, sub, q[sub*8+1 : sub*8+8] AS sv FROM pqsamp, range(0, 8) r(sub)),
       |pqsasgn AS (
       |  SELECT sub, code, sv FROM (
       |    SELECT s.sid, s.sub, c.code, s.sv,
       |           row_number() OVER (PARTITION BY s.sid, s.sub
       |             ORDER BY ${pqDistSql("s.sv", "c.cv")}, c.code) AS rn
       |    FROM pqssub s JOIN pqseeds c ON s.sub = c.sub) a
       |  WHERE rn = 1),
       |pqnewc AS (
       |  SELECT sub, code, list(qc ORDER BY i) AS cv FROM (
       |    SELECT sub, code, i, CAST(sum(sv[i]) AS BIGINT) // count(*) AS qc
       |    FROM pqsasgn, range(1, 9) r(i) GROUP BY sub, code, i) m
       |  GROUP BY sub, code),
       |pqcents AS (
       |  SELECT s.sub, s.code, coalesce(n.cv, s.cv) AS cv
       |  FROM pqseeds s LEFT JOIN pqnewc n ON s.sub = n.sub AND s.code = n.code)""".stripMargin

  // DuckDB replay of the corpus-count-derived hyperplane geometry
  // (Similarity.rhpGeometry) and the md5-derived plane family itself —
  // shared prefix of the two RHP-LSH oracles. Every schedule constant
  // and enumeration bound interpolates from Similarity (like the
  // train-round/sample constants), so changing the Scala schedule
  // re-derives the oracle instead of silently desyncing it.
  // Ends with `planes` = (t, p, i, w) rows for the derived geometry.
  private def rhpGeoSqlWith(ntExpr: String): String = {
    import ext.Similarity.{rhpMinPlanes, rhpMaxPlanes, rhpMaxTables,
      rhpTargetBucketRows, defaultDim}
    s"""nv AS (SELECT count(*) AS n FROM embeddings),
       |geo AS (
       |  SELECT np, $ntExpr AS nt FROM (
       |    SELECT coalesce(min(q), $rhpMaxPlanes) AS np
       |    FROM range($rhpMinPlanes, ${rhpMaxPlanes + 1}) r(q), nv
       |    WHERE (CAST(1 AS BIGINT) << q) * $rhpTargetBucketRows >= n) g),
       |planes AS (
       |  SELECT t, p, i,
       |         (CAST(concat('0x', substring(md5(concat(t, ':', p, ':', i)), 1, 15)) AS BIGINT) % 17) - 8 AS w
       |  FROM geo, range(0, $rhpMaxTables) r1(t), range(0, $rhpMaxPlanes) r2(p), range(0, $defaultDim) r3(i)
       |  WHERE t < nt AND p < np)""".stripMargin
  }
  private val rhpGeoSql =
    rhpGeoSqlWith(s"8 + 2*greatest(0, np - ${ext.Similarity.rhpTableGrowthFrom})")
  // the multiprobe schedule: same plane rule, CONSTANT table count
  private val rhpGeoMpSql =
    rhpGeoSqlWith(ext.Similarity.rhpMpTables.toString)

  // DuckDB replay of the Lloyd-trained IVF coarse quantizer (64 seed
  // centroids from the smallest md5 id-hashes,
  // `Similarity.defaultTrainRounds` Lloyd rounds — unrolled, one CTE
  // trio per round — over the 4096-smallest-hash sample, id-broken
  // argmax, truncating integer means: matching Similarity.ivfCentroids
  // defaults exactly). Shared CTE prefix for ann_ivf_topk and
  // emb_semdedup; ends with `assign` = (vec_id, list_id) over the
  // whole corpus.
  // parameterized on the centroid-count SQL: "64" for the point-query
  // paths (constant K), or the count-derived √n budget for the
  // all-points graph family (`Similarity.graphCentroidBudget` — the
  // power-of-two-above-√n rule, floored at 64, as one bit-length both
  // engines compute identically)
  // trainPred: see pqCentsSql — restricts the Lloyd sample and the
  // seed centroids to a corpus slice while `assign` still covers all
  // of qv (the incremental-index update semantics)
  private def ivfAssignSqlWith(centSql: String, trainPred: String = "TRUE"): String = {
    val rounds = Similarity.defaultTrainRounds
    val head =
      s"""qv AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q,
         |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM embeddings),
         |samp AS (SELECT vec_id AS sid, q AS sq FROM qv WHERE $trainPred ORDER BY h, vec_id LIMIT ${ext.Similarity.defaultTrainSample}),
         |cents0 AS (
         |  SELECT cent_id, cv, ${qdotIntSql("cv", "cv")} AS nrm FROM (
         |    SELECT vec_id AS cent_id, q AS cv FROM qv WHERE $trainPred ORDER BY h, vec_id LIMIT $centSql) s0)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s"""sasgn$k AS (
         |  SELECT sid, sq, list_id FROM (
         |    SELECT s.sid, s.sq, c.cent_id AS list_id,
         |           row_number() OVER (PARTITION BY s.sid
         |             ORDER BY 2*${qdotIntSql("s.sq", "c.cv")} - c.nrm DESC, c.cent_id) AS rn
         |    FROM samp s CROSS JOIN cents${k - 1} c) a
         |  WHERE rn = 1),
         |newc$k AS (
         |  SELECT list_id AS cent_id, list(qc ORDER BY dim) AS cv FROM (
         |    SELECT list_id, i AS dim, CAST(sum(sq[i]) AS BIGINT) // count(*) AS qc
         |    FROM sasgn$k, range(1, 65) r(i)
         |    GROUP BY list_id, i) m$k
         |  GROUP BY list_id),
         |cents$k AS (
         |  SELECT cent_id, cv, ${qdotIntSql("cv", "cv")} AS nrm FROM (
         |    SELECT s.cent_id, coalesce(n.cv, s.cv) AS cv
         |    FROM cents${k - 1} s LEFT JOIN newc$k n USING (cent_id)) c$k)""".stripMargin
    }
    val tail =
      s"""cents AS (SELECT * FROM cents$rounds),
         |assign AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, c.cent_id AS list_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY 2*${qdotIntSql("e.q", "c.cv")} - c.nrm DESC, c.cent_id) AS rn
         |    FROM qv e CROSS JOIN cents c) a
         |  WHERE rn = 1)""".stripMargin
    (Seq(head) ++ roundCtes :+ tail).mkString(",\n")
  }

  private val ivfAssignSql: String = ivfAssignSqlWith("64")

  // the derived-K twin for the all-points graph family: kgeo replays
  // Similarity.graphCentroidBudget (power of two ≥ √n, floor 64) off
  // count(*), and the quantizer trains on that many seeds — at fixture
  // scale the floor keeps K = 64, so the constant-K and derived-K
  // oracles coincide there by construction
  private val ivfAssignSqlDerivedK: String =
    "kgeo AS (SELECT greatest(64, CAST(1 AS BIGINT) << " +
      "((length(bin(CAST(count(*) - 1 AS BIGINT))) + 1) // 2)) AS kk FROM embeddings),\n" +
      ivfAssignSqlWith("(SELECT kk FROM kgeo)")

  // kNN-edge CTE block shared by emb_knn_graph and graph_pagerank:
  // every vector probes its nprobe=4 nearest trained lists, exact
  // re-score within the list, id-broken ranks (consumers cut at rn<=k).
  // candPred restricts CANDIDATES before the rank cut (matching
  // knnGraphIvf's edgeFilter) — emb_bitext_mine passes the cross-side
  // parity predicate so ranks count other-side neighbors only
  private def knnRankedSqlWith(candPred: String): String =
    s"""pl AS (
       |  SELECT probe_id, list_id FROM (
       |    SELECT e.vec_id AS probe_id, c.cent_id AS list_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY 2*${qdotIntSql("e.q", "c.cv")} - c.nrm DESC, c.cent_id) AS pr
       |    FROM qv e CROSS JOIN cents c) b
       |  WHERE pr <= 4),
       |scored AS (
       |  SELECT pl.probe_id, a.vec_id, ${qdotIntSql("p.q", "e.q")} AS qdot
       |  FROM pl
       |  JOIN assign a ON a.list_id = pl.list_id
       |  JOIN qv e ON e.vec_id = a.vec_id
       |  JOIN qv p ON p.vec_id = pl.probe_id
       |  WHERE a.vec_id <> pl.probe_id AND ($candPred)),
       |ranked AS (
       |  SELECT probe_id, vec_id, qdot,
       |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
       |  FROM scored)""".stripMargin

  private val knnRankedSql: String = knnRankedSqlWith("TRUE")

  // The full IVF-PQ search replay (coarse training + assignment via the
  // shared ivf CTEs, PQ codebook + encode via the shared pq CTEs, ADC,
  // defaultRefine-deep shortlist, exact re-rank), parameterized on the probe
  // predicate: ann_ivfpq_topk runs it over one probe batch with
  // everything built inline; ann_index_probe runs a second batch that
  // the ENGINE answers from a persisted index — same SQL truth, because
  // training is deterministic and the all-int64 index parquet
  // round-trips exactly.
  // candPred restricts which ids may appear as CANDIDATES (and so as
  // results); reference the assignment row as `a.vec_id` (the
  // knnRankedSqlWith alias convention). The purge oracle passes the
  // retention predicate, so the replay IS "assignment/encode over the
  // retained corpus under the full-corpus pinned quantizers" — exactly
  // what a purged index serves
  private def ivfPqSql(
      probePred: String,
      trainPred: String = "TRUE",
      candPred: String = "TRUE"): String =
    s"""WITH ${ivfAssignSqlWith("64", trainPred)},
       |${pqCentsSql(trainPred = trainPred)},
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT e.vec_id, e.sub, c.code,
       |           row_number() OVER (PARTITION BY e.vec_id, e.sub
       |             ORDER BY ${pqDistSql("e.sv", "c.cv")}, c.code) AS rn
       |    FROM (SELECT vec_id, sub, q[sub*8+1 : sub*8+8] AS sv FROM qv, range(0, 8) r(sub)) e
       |    JOIN pqcents c ON e.sub = c.sub) z
       |  WHERE rn = 1),
       |probes AS (SELECT vec_id AS probe_id, q AS pe FROM qv WHERE $probePred),
       |pl AS (
       |  SELECT probe_id, list_id FROM (
       |    SELECT p.probe_id, c.cent_id AS list_id,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY 2*${qdotIntSql("p.pe", "c.cv")} - c.nrm DESC, c.cent_id) AS pr
       |    FROM probes p CROSS JOIN cents c) b
       |  WHERE pr <= ${Similarity.defaultNprobe}),
       |adc AS (
       |  SELECT ps.probe_id, ps.sub, c.code, ${pqDistSql("ps.sv", "c.cv")} AS d
       |  FROM (SELECT probe_id, sub, pe[sub*8+1 : sub*8+8] AS sv FROM probes, range(0, 8) r(sub)) ps
       |  JOIN pqcents c ON ps.sub = c.sub),
       |cand AS (
       |  SELECT pl.probe_id, a.vec_id, sum(adc.d) AS ad
       |  FROM pl
       |  JOIN assign a ON a.list_id = pl.list_id
       |  JOIN codes co ON co.vec_id = a.vec_id
       |  JOIN adc ON adc.probe_id = pl.probe_id AND adc.sub = co.sub AND adc.code = co.code
       |  WHERE a.vec_id <> pl.probe_id
       |    AND ($candPred)
       |  GROUP BY pl.probe_id, a.vec_id),
       |short AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |           row_number() OVER (PARTITION BY probe_id ORDER BY ad, vec_id) AS sr
       |    FROM cand) s
       |  WHERE sr <= ${Similarity.defaultRefine}),
       |scored AS (
       |  SELECT sh.probe_id, sh.vec_id, ${qdotIntSql("p.pe", "e.q")} AS qdot
       |  FROM short sh
       |  JOIN probes p ON p.probe_id = sh.probe_id
       |  JOIN qv e ON e.vec_id = sh.vec_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, qdot,
       |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
       |  FROM scored)
       |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
       |ORDER BY probe_id, rn""".stripMargin

  // DuckDB replay of the deterministic greedy BPE trainer
  // (ext.Bpe.trainMerges): one CTE pair per merge round — pair counts
  // over the in-vocab segmentations, the (count DESC, lhs, rhs) argmax,
  // and the left-scan merge application as a list_reduce — unrolled
  // `Bpe.defaultMerges` times. MATERIALIZED is load-bearing: each
  // round's CTE is referenced twice downstream and DuckDB inlines CTEs
  // by default, which would square the tree per round. Ends with
  // `w<rounds>` = (word, freq, in_vocab, pieces) over every distinct
  // corpus word, and `b<k>` = round k's chosen pair.
  private def bpeChainSql: String = {
    val rounds = ext.Bpe.defaultMerges
    val head =
      s"""wf AS (
         |  SELECT w AS word, count(*) AS freq FROM (
         |    SELECT unnest($tokSql) AS w FROM documents) tws
         |  GROUP BY w),
         |w0 AS MATERIALIZED (
         |  SELECT word, freq,
         |         row_number() OVER (ORDER BY freq DESC, word) <= ${ext.Bpe.defaultVocabWords} AS in_vocab,
         |         [substring(word, CAST(j AS INT), 1) FOR j IN range(1, length(word) + 1)] AS pieces
         |  FROM wf)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s"""pc$k AS (
         |  SELECT p[1] AS l, p[2] AS r, sum(freq) AS c FROM (
         |    SELECT freq, unnest([[pieces[j], pieces[j+1]] FOR j IN range(1, len(pieces))]) AS p
         |    FROM w${k - 1} WHERE in_vocab) x$k
         |  GROUP BY l, r),
         |b$k AS MATERIALIZED (SELECT l, r, l || r AS m FROM pc$k ORDER BY c DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT word, freq, in_vocab,
         |         list_reduce(
         |           list_prepend([], list_transform(pieces, x -> [x])),
         |           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND x[1] = b.r
         |                            THEN list_append(acc[:len(acc)-1], b.m)
         |                            ELSE list_concat(acc, x) END) AS pieces
         |  FROM w${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    (head +: roundCtes).mkString(",\n")
  }

  val sql: Map[String, String] = Map(
    // BPE merge table rebuilt from scratch: the unrolled training chain,
    // each round's chosen pair stamped with its rank
    "bpe_merges" -> {
      val rounds = ext.Bpe.defaultMerges
      s"""WITH $bpeChainSql,
         |mm AS (
         |${(1 to rounds).map(k => s"  SELECT CAST(${k - 1} AS BIGINT) AS merge_rank, l AS lhs, r AS rhs FROM b$k").mkString("\n  UNION ALL\n")})
         |SELECT * FROM mm ORDER BY merge_rank""".stripMargin
    },
    // BPE token counts rebuilt from scratch: the same trained merge
    // table applied to every distinct word (the chain's final
    // segmentation), occurrences joined back by word
    "text_tokens_bpe" ->
      s"""WITH $bpeChainSql,
         |dw AS (SELECT doc_id, unnest($tokSql) AS word FROM documents)
         |SELECT doc_id, count(*) AS n_tokens, CAST(sum(len(p.pieces)) AS BIGINT) AS n_pieces
         |FROM dw JOIN w${ext.Bpe.defaultMerges} p USING (word)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    // per-source fertility/compression off the same replayed BPE
    // chain; integer per-mille with truncating //
    "bpe_coverage" ->
      s"""WITH $bpeChainSql,
         |dw AS (SELECT source, unnest($tokSql) AS word FROM documents)
         |SELECT source, count(*) AS n_words,
         |       CAST(sum(len(p.pieces)) AS BIGINT) AS n_pieces,
         |       CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |       CAST((1000 * sum(len(p.pieces))) // count(*) AS BIGINT) AS pieces_per_word_milli,
         |       CAST((1000 * sum(length(word))) // sum(len(p.pieces)) AS BIGINT) AS chars_per_piece_milli
         |FROM dw JOIN w${ext.Bpe.defaultMerges} p USING (word)
         |GROUP BY source
         |ORDER BY source""".stripMargin,
    // BPE chunking rebuilt from scratch: the in-order piece stream per
    // doc (ordinality-keyed join + ordered flatten), then the same
    // 32-slice chunking as corpus_chunks, boundaries in PIECE space
    "corpus_chunks_bpe" ->
      s"""WITH $bpeChainSql,
         |toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |dw AS (
         |  SELECT doc_id, i, tk[i] AS word
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM toks) x),
         |dp AS (
         |  SELECT doc_id, flatten(list(p.pieces ORDER BY i)) AS ps
         |  FROM dw JOIN w${ext.Bpe.defaultMerges} p USING (word)
         |  GROUP BY doc_id),
         |c AS (
         |  SELECT doc_id, ps, unnest(range(0, ((len(ps) - 1) // 32) + 1)) AS chunk_id
         |  FROM dp WHERE len(ps) >= 1),
         |s AS (
         |  SELECT doc_id, chunk_id, ps[chunk_id*32+1 : chunk_id*32+32] AS ck FROM c)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |       CAST(len(ck) AS BIGINT) AS n_pieces,
         |       md5(coalesce(array_to_string(ck, ' '), '')) AS chunk_md5
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "dedup_exact" ->
      """SELECT count(*) AS n_total, count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')))) AS n_unique
        |FROM documents""".stripMargin,
    "dedup_neardup_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin,
    // exact Jaccard self-join: the oracle IS the definition — O(n²)
    // ground truth at the same threshold; the Spark side must reproduce
    // it exactly or the prefix filter dropped a true pair
    "dedup_jaccard_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    // duplication provenance: the exact-Jaccard pair truth labeled by
    // source on both ends, unordered source pair, counted
    "dedup_pairs_by_source" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6),
         |lab AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b
         |  FROM prs p
         |  JOIN documents da ON da.doc_id = p.id_a
         |  JOIN documents db ON db.doc_id = p.id_b)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM lab GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,
    // near-dup clusters: connected components of the exact-Jaccard pair
    // graph, component id = min doc id; DuckDB recomputes reachability
    // from scratch with a recursive CTE
    "dedup_clusters" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach
         |GROUP BY id
         |ORDER BY doc_id""".stripMargin,
    // incremental fold-in vs from-scratch truth: the oracle is the
    // dedup_clusters recursive CTE over the FULL corpus — the engine
    // must reproduce it from old labels + batch-proportional work
    "dedup_clusters_update" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach
         |GROUP BY id
         |ORDER BY doc_id""".stripMargin,
    // soft dedup rebuilt from scratch: same recursive-CTE reachability,
    // then cluster sizes and the integer permille weight (`//` is
    // DuckDB's truncating integer division, Spark's `div`)
    "dedup_soft_weights" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lbl AS (
         |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sz AS (
         |  SELECT cluster_id, count(*) AS n FROM lbl GROUP BY cluster_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(n, 1) AS BIGINT) AS cluster_size,
         |       CAST(1000 // coalesce(n, 1) AS BIGINT) AS weight_permille
         |FROM documents d
         |LEFT JOIN lbl ON d.doc_id = lbl.id
         |LEFT JOIN sz USING (cluster_id)
         |ORDER BY d.doc_id""".stripMargin,
    // quality-keep canonicalization rebuilt from scratch: same
    // recursive-CTE reachability, same integer micro score as
    // corpus_quality_filter, keeper via a (q_micro DESC, doc_id ASC)
    // window — the engine's lexicographic struct-max tie-break
    "dedup_canonical_best" ->
      s"""WITH RECURSIVE f AS (SELECT doc_id, $tokSql AS tk, text FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM f WHERE len(tk) >= 3),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lbl AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(tk) AS BIGINT) AS nt,
         |         CAST(len(list_filter(tk, x -> list_contains([$stopwordsSql], x))) AS BIGINT) AS nsw,
         |         CAST(length(text) AS BIGINT) AS nch,
         |         CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS BIGINT) AS npunct
         |  FROM f),
         |q AS (
         |  SELECT doc_id,
         |         least(nt, 100)*5000
         |         + (CASE WHEN nt = 0 THEN 0 ELSE (nsw*300000)//nt END)
         |         + 200000
         |         - (CASE WHEN nch = 0 THEN 0 ELSE (npunct*200000)//nch END) AS q_micro
         |  FROM m),
         |keep AS (
         |  SELECT cluster_id, doc_id AS canonical_id FROM (
         |    SELECT l.cluster_id, q.doc_id,
         |           row_number() OVER (PARTITION BY l.cluster_id
         |                              ORDER BY q.q_micro DESC, q.doc_id ASC) AS rn
         |    FROM lbl l JOIN q ON l.doc_id = q.doc_id) r
         |  WHERE rn = 1)
         |SELECT d.doc_id,
         |       CAST(coalesce(k.canonical_id, d.doc_id) AS BIGINT) AS canonical_id
         |FROM documents d
         |LEFT JOIN lbl ON d.doc_id = lbl.doc_id
         |LEFT JOIN keep k USING (cluster_id)
         |ORDER BY d.doc_id""".stripMargin,
    // canonicalization: every document mapped to the surviving
    // representative of its near-dup cluster (min id, keep-first), or
    // itself when it has no near-dup — the full dedup pipeline an
    // LLM-data user runs daily, in one query
    "dedup_canonical" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lbl AS (
         |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY id)
         |SELECT d.doc_id, CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS canonical_id
         |FROM documents d LEFT JOIN lbl l USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // dedup observability: cluster-size histogram over the
    // canonicalized corpus (singletons = size-1 clusters)
    "dedup_stats" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lbl AS (
         |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY id),
         |canon AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cid
         |  FROM documents d LEFT JOIN lbl l USING (doc_id)),
         |szs AS (SELECT cid, CAST(count(*) AS BIGINT) AS sz FROM canon GROUP BY cid)
         |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM szs GROUP BY sz
         |ORDER BY sz""".stripMargin,
    "ann_topk" ->
      s"""WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, vec_id, ${qdotSql("pe", "embedding")} AS qdot
         |  FROM probes, embeddings WHERE vec_id <> probe_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, qdot,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
         |ORDER BY probe_id, rn""".stripMargin,
    // SQ8 replay: exact per-dimension int64 bounds, 256-level floor
    // codes, bucket-midpoint decode, asymmetric approximate dot,
    // refine shortlist, exact re-rank — every division has a
    // non-negative numerator, so `div` and `//` agree
    "ann_sq8_topk" ->
      s"""WITH qv AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |dims AS (
         |  SELECT i AS pos, min(q[i]) AS mn, max(q[i]) AS mx
         |  FROM qv, range(1, 65) r(i)
         |  GROUP BY i),
         |bnd AS (SELECT list(mn ORDER BY pos) AS mnl, list(mx ORDER BY pos) AS mxl FROM dims),
         |recon AS (
         |  SELECT vec_id,
         |         list_transform(range(1, 65), i ->
         |           mnl[i] + ((2 * (((q[i] - mnl[i]) * 256) // (mxl[i] - mnl[i] + 1)) + 1)
         |                     * (mxl[i] - mnl[i] + 1)) // 512) AS rv
         |  FROM qv, bnd),
         |probes AS (SELECT vec_id AS probe_id, q AS pe FROM qv WHERE vec_id < 10),
         |approx AS (
         |  SELECT p.probe_id, r.vec_id, ${qdotIntSql("p.pe", "r.rv")} AS sq8
         |  FROM probes p CROSS JOIN recon r
         |  WHERE r.vec_id <> p.probe_id),
         |short AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY sq8 DESC, vec_id) AS sr
         |    FROM approx) s
         |  WHERE sr <= ${Similarity.defaultRefine}),
         |scored AS (
         |  SELECT sh.probe_id, sh.vec_id, ${qdotIntSql("p.pe", "e.q")} AS qdot
         |  FROM short sh JOIN probes p ON p.probe_id = sh.probe_id
         |  JOIN qv e ON e.vec_id = sh.vec_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, qdot,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
         |ORDER BY probe_id, rn""".stripMargin,
    // IVF+SQ8 replay: the shared Lloyd-training/assignment CTE chain
    // routes probes, then the SQ8 midpoint-decode scoring runs only
    // inside the probed lists — same bounds/codes arithmetic as the
    // flat ann_sq8_topk oracle
    "ann_ivf_sq8_topk" ->
      s"""WITH ${ivfAssignSqlWith("64")},
         |dims AS (
         |  SELECT i AS pos, min(q[i]) AS mn, max(q[i]) AS mx
         |  FROM qv, range(1, 65) r(i)
         |  GROUP BY i),
         |bnd AS (SELECT list(mn ORDER BY pos) AS mnl, list(mx ORDER BY pos) AS mxl FROM dims),
         |recon AS (
         |  SELECT vec_id,
         |         list_transform(range(1, 65), i ->
         |           mnl[i] + ((2 * (((q[i] - mnl[i]) * 256) // (mxl[i] - mnl[i] + 1)) + 1)
         |                     * (mxl[i] - mnl[i] + 1)) // 512) AS rv
         |  FROM qv, bnd),
         |probes AS (SELECT vec_id AS probe_id, q AS pe FROM qv WHERE vec_id < 10),
         |pl AS (
         |  SELECT probe_id, list_id FROM (
         |    SELECT p.probe_id, c.cent_id AS list_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY 2*${qdotIntSql("p.pe", "c.cv")} - c.nrm DESC, c.cent_id) AS pr
         |    FROM probes p CROSS JOIN cents c) b
         |  WHERE pr <= ${Similarity.defaultNprobe}),
         |approx AS (
         |  SELECT pl.probe_id, a.vec_id, ${qdotIntSql("p.pe", "r.rv")} AS sq8
         |  FROM pl
         |  JOIN assign a ON a.list_id = pl.list_id
         |  JOIN recon r ON r.vec_id = a.vec_id
         |  JOIN probes p ON p.probe_id = pl.probe_id
         |  WHERE a.vec_id <> pl.probe_id),
         |short AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY sq8 DESC, vec_id) AS sr
         |    FROM approx) s
         |  WHERE sr <= ${Similarity.defaultRefine}),
         |scored AS (
         |  SELECT sh.probe_id, sh.vec_id, ${qdotIntSql("p.pe", "e.q")} AS qdot
         |  FROM short sh JOIN probes p ON p.probe_id = sh.probe_id
         |  JOIN qv e ON e.vec_id = sh.vec_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, qdot,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
         |ORDER BY probe_id, rn""".stripMargin,
    "emb_neardup_pairs" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${qdotSql("a.embedding", "b.embedding")} AS qdot
         |FROM embeddings a, embeddings b
         |WHERE a.vec_id < b.vec_id
         |  AND ${qdotSql("a.embedding", "b.embedding")} >= 450000
         |ORDER BY id_a, id_b""".stripMargin,
    // hard negatives = ann_topk's exact ranking restricted to the
    // sub-near-dup band (qdot < 450000) BEFORE ranking
    "emb_hard_negatives" ->
      s"""WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, vec_id, ${qdotSql("pe", "embedding")} AS qdot
         |  FROM probes, embeddings WHERE vec_id <> probe_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, qdot,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored WHERE qdot < 450000)
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
         |ORDER BY probe_id, rn""".stripMargin,
    // IVF-flat ANN: fixed-budget coarse quantizer (the 64 corpus rows
    // with the smallest md5-derived id hash — constant centroid count
    // at any corpus size), inverted-list probe, exact re-score — all
    // int64 arithmetic with id tie-breaks, so DuckDB rebuilds the
    // identical index from scratch
    // the Lloyd training replays bit-for-bit: quantized int64 vectors,
    // id-tie-broken EUCLIDEAN argmin assignment (argmax 2·dot − |c|²)
    // of the 4096-smallest-hash sample, per-coordinate
    // truncating-integer-division mean (Spark `div` == DuckDB `//`),
    // empty list keeps its seed
    "ann_ivf_topk" ->
      s"""WITH $ivfAssignSql,
         |probes AS (SELECT vec_id AS probe_id, q AS pe FROM qv WHERE vec_id < 10),
         |pl AS (
         |  SELECT probe_id, list_id FROM (
         |    SELECT p.probe_id, c.cent_id AS list_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY 2*${qdotIntSql("p.pe", "c.cv")} - c.nrm DESC, c.cent_id) AS pr
         |    FROM probes p CROSS JOIN cents c) b
         |  WHERE pr <= 4),
         |scored AS (
         |  SELECT pl.probe_id, a.vec_id, ${qdotIntSql("p.pe", "e.q")} AS qdot
         |  FROM pl
         |  JOIN assign a ON a.list_id = pl.list_id
         |  JOIN qv e ON e.vec_id = a.vec_id
         |  JOIN probes p ON p.probe_id = pl.probe_id
         |  WHERE a.vec_id <> pl.probe_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, qdot,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
         |ORDER BY probe_id, rn""".stripMargin,
    // training-triple replay: brute scores for the <50 anchor sample,
    // top-1 above the near-dup band as positive, top-3 below as hard
    // negatives, anchors without a positive dropped
    "emb_training_triples" ->
      s"""WITH qv AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |probes AS (SELECT vec_id AS probe_id, q AS pe FROM qv WHERE vec_id < 50),
         |sc AS (
         |  SELECT p.probe_id, e.vec_id, ${qdotIntSql("p.pe", "e.q")} AS qdot
         |  FROM probes p, qv e WHERE e.vec_id <> p.probe_id),
         |pos AS (
         |  SELECT probe_id, vec_id AS pos_id, qdot AS pos_qdot FROM (
         |    SELECT probe_id, vec_id, qdot,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rn
         |    FROM sc WHERE qdot >= 450000) p WHERE rn = 1),
         |neg AS (
         |  SELECT probe_id, vec_id AS neg_id, qdot AS neg_qdot,
         |         CAST(rn AS BIGINT) AS neg_rank FROM (
         |    SELECT probe_id, vec_id, qdot,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rn
         |    FROM sc WHERE qdot < 450000) n WHERE rn <= 3)
         |SELECT p.probe_id AS anchor_id, p.pos_id, p.pos_qdot,
         |       n.neg_id, n.neg_qdot, n.neg_rank
         |FROM pos p JOIN neg n USING (probe_id)
         |ORDER BY anchor_id, neg_rank""".stripMargin,
    // recall@10 replay: the brute exact ranking AND the IVF serving
    // path rebuilt in one WITH off the shared training CTEs, then a
    // per-probe intersection count — the index-quality gate as a
    // relation
    "emb_recall_eval" ->
      s"""WITH $ivfAssignSql,
         |probes AS (SELECT vec_id AS probe_id, q AS pe FROM qv WHERE vec_id < 10),
         |bsc AS (
         |  SELECT p.probe_id, e.vec_id, ${qdotIntSql("p.pe", "e.q")} AS qdot
         |  FROM probes p, qv e WHERE e.vec_id <> p.probe_id),
         |bt AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rn
         |    FROM bsc) b WHERE rn <= 10),
         |pl AS (
         |  SELECT probe_id, list_id FROM (
         |    SELECT p.probe_id, c.cent_id AS list_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY 2*${qdotIntSql("p.pe", "c.cv")} - c.nrm DESC, c.cent_id) AS pr
         |    FROM probes p CROSS JOIN cents c) b
         |  WHERE pr <= 4),
         |isc AS (
         |  SELECT pl.probe_id, a.vec_id, ${qdotIntSql("p.pe", "e.q")} AS qdot
         |  FROM pl
         |  JOIN assign a ON a.list_id = pl.list_id
         |  JOIN qv e ON e.vec_id = a.vec_id
         |  JOIN probes p ON p.probe_id = pl.probe_id
         |  WHERE a.vec_id <> pl.probe_id),
         |it AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rn
         |    FROM isc) i WHERE rn <= 10),
         |o AS (
         |  SELECT bt.probe_id, count(it.vec_id) AS n_hit
         |  FROM bt LEFT JOIN it ON it.probe_id = bt.probe_id AND it.vec_id = bt.vec_id
         |  GROUP BY bt.probe_id)
         |SELECT probe_id, CAST(n_hit AS BIGINT) AS n_hit,
         |       CAST((n_hit * 1000) // 10 AS BIGINT) AS recall_milli
         |FROM o ORDER BY probe_id""".stripMargin,
    // OOD screen replay: pinned training (shared ivf CTEs), per-vector
    // max prototype affinity, ascending bottom-50 with id-broken ranks
    "emb_ood_screen" ->
      s"""WITH $ivfAssignSql,
         |best AS (
         |  SELECT e.vec_id, max(2*${qdotIntSql("e.q", "c.cv")} - c.nrm) AS best_cd
         |  FROM qv e CROSS JOIN cents c GROUP BY e.vec_id),
         |r AS (
         |  SELECT vec_id, CAST(best_cd AS BIGINT) AS best_cd,
         |         CAST(row_number() OVER (ORDER BY best_cd, vec_id) AS BIGINT) AS rn
         |  FROM best)
         |SELECT vec_id, best_cd, rn FROM r WHERE rn <= 50
         |ORDER BY rn""".stripMargin,
    "ann_mmr_topk" -> mmrOracleSql(k = 5, m = 16, lam = 700),
    // filtered search replay: the SAME index (training, assignment,
    // probe-list selection all on the full corpus), with the metadata
    // predicate joined in as a candidate PRE-filter before re-score
    "ann_ivf_filtered" ->
      s"""WITH $ivfAssignSql,
         |probes AS (SELECT vec_id AS probe_id, q AS pe FROM qv WHERE vec_id < 10),
         |pl AS (
         |  SELECT probe_id, list_id FROM (
         |    SELECT p.probe_id, c.cent_id AS list_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY 2*${qdotIntSql("p.pe", "c.cv")} - c.nrm DESC, c.cent_id) AS pr
         |    FROM probes p CROSS JOIN cents c) b
         |  WHERE pr <= 4),
         |flt AS (SELECT vec_id FROM embeddings WHERE label % 2 = 0),
         |scored AS (
         |  SELECT pl.probe_id, a.vec_id, ${qdotIntSql("p.pe", "e.q")} AS qdot
         |  FROM pl
         |  JOIN assign a ON a.list_id = pl.list_id
         |  JOIN flt f ON f.vec_id = a.vec_id
         |  JOIN qv e ON e.vec_id = a.vec_id
         |  JOIN probes p ON p.probe_id = pl.probe_id
         |  WHERE a.vec_id <> pl.probe_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, qdot,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
         |ORDER BY probe_id, rn""".stripMargin,
    // all-points kNN graph over the same replayed IVF index: probes =
    // every vector, nprobe nearest lists each, exact re-score within
    // the list, k=5 id-broken ranks
    "emb_knn_graph" ->
      s"""WITH $ivfAssignSqlDerivedK,
         |$knnRankedSql
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 5
         |ORDER BY probe_id, rn""".stripMargin,
    // margin-based bitext mining replay: the trained index + the
    // CROSS-SIDE-filtered kNN ranks (candPred = id parity differs),
    // per-probe milli-avg neighborhood statistic with one truncating
    // division, mutual-pair join, and the integer margin — every kept
    // pair replays bit-for-bit
    "emb_bitext_mine" ->
      s"""WITH $ivfAssignSqlDerivedK,
         |${knnRankedSqlWith("a.vec_id % 2 <> pl.probe_id % 2")},
         |ce AS (SELECT probe_id, vec_id, qdot FROM ranked WHERE rn <= 5),
         |st AS (
         |  SELECT probe_id,
         |         CAST(CAST(sum(qdot) AS BIGINT) * 1000 // count(*) AS BIGINT) AS avg_milli
         |  FROM ce GROUP BY probe_id),
         |fwd AS (SELECT probe_id AS id_a, vec_id AS id_b, qdot FROM ce WHERE probe_id % 2 = 0),
         |rev AS (SELECT probe_id AS id_b, vec_id AS id_a FROM ce WHERE probe_id % 2 = 1),
         |mut AS (SELECT f.id_a, f.id_b, f.qdot FROM fwd f JOIN rev r USING (id_a, id_b)),
         |sc AS (
         |  SELECT m.id_a, m.id_b, m.qdot,
         |         CAST((m.qdot * 2000000) // (sa.avg_milli + sb.avg_milli) AS BIGINT) AS margin_milli
         |  FROM mut m
         |  JOIN st sa ON sa.probe_id = m.id_a
         |  JOIN st sb ON sb.probe_id = m.id_b
         |  WHERE m.qdot >= 0 AND sa.avg_milli + sb.avg_milli > 0)
         |SELECT id_a, id_b, qdot, margin_milli FROM sc
         |WHERE margin_milli >= 1000
         |ORDER BY id_a, id_b""".stripMargin,
    // per-list prototype selection over the same replayed IVF index:
    // affinity of each vector to ITS list's centroid, rank-m cut with
    // id-broken ties
    "emb_diverse_sample" ->
      s"""WITH $ivfAssignSql,
         |aff AS (
         |  SELECT a.vec_id, a.list_id, 2*${qdotIntSql("e.q", "c.cv")} - c.nrm AS cd
         |  FROM assign a
         |  JOIN qv e ON e.vec_id = a.vec_id
         |  JOIN cents c ON c.cent_id = a.list_id),
         |r AS (
         |  SELECT vec_id, list_id, cd,
         |         CAST(row_number() OVER (PARTITION BY list_id ORDER BY cd DESC, vec_id) AS BIGINT) AS rn
         |  FROM aff)
         |SELECT list_id, vec_id, CAST(cd AS BIGINT) AS cd, rn FROM r WHERE rn <= 4
         |ORDER BY list_id, rn""".stripMargin,
    // PageRank over those kNN edges: the oracle rebuilds the trained
    // index, the edge list, AND the 5 unrolled integer iterations —
    // the full derived-graph-centrality pipeline from raw vectors
    "graph_pagerank" ->
      Graph.pageRankOracleSql(
        s"""WITH $ivfAssignSqlDerivedK,
           |$knnRankedSql,
           |gedges AS (SELECT probe_id AS src, vec_id AS dst FROM ranked WHERE rn <= 5),
           |gnodes AS (SELECT vec_id AS id FROM qv)""".stripMargin,
        "vec_id"),
    // community detection over the same derived kNN graph: the oracle
    // rebuilds the trained index, the edge list, the symmetrization,
    // and the 4 unrolled argmax rounds — min label among max-count
    // labels, the exact struct-max winner
    "graph_communities" ->
      Graph.lpaOracleSql(
        s"""WITH $ivfAssignSqlDerivedK,
           |$knnRankedSql,
           |gedges AS (SELECT probe_id AS src, vec_id AS dst FROM ranked WHERE rn <= 5),
           |gnodes AS (SELECT vec_id AS id FROM qv)""".stripMargin,
        "vec_id"),
    // BFS hop distance over the same derived kNN graph: the oracle
    // rebuilds the index + edges, then unrolls the 3 frontier
    // expansions from the %97 seed set
    "graph_bfs" ->
      Graph.bfsOracleSql(
        s"""WITH $ivfAssignSqlDerivedK,
           |$knnRankedSql,
           |gedges AS (SELECT probe_id AS src, vec_id AS dst FROM ranked WHERE rn <= 5),
           |gnodes AS (SELECT vec_id AS id FROM qv)""".stripMargin,
        "vec_id", "id % 97 = 0"),
    // seeded-teleport PageRank over the same derived kNN graph: the
    // oracle rebuilds the index, the edges, the %97 seed flags, and
    // the 5 unrolled seed-gated integer rounds
    "graph_trustrank" ->
      Graph.trustRankOracleSql(
        s"""WITH $ivfAssignSqlDerivedK,
           |$knnRankedSql,
           |gedges AS (SELECT probe_id AS src, vec_id AS dst FROM ranked WHERE rn <= 5),
           |gnodes AS (SELECT vec_id AS id FROM qv)""".stripMargin,
        "vec_id", "id % 97 = 0"),
    // common-neighbor link prediction over the same derived kNN graph:
    // symmetrize, wedge-count via the shared-neighbor self-join,
    // non-edges only, integer Jaccard permille, top-100
    "graph_linkpred" ->
      Graph.linkPredictOracleSql(
        s"""WITH $ivfAssignSqlDerivedK,
           |$knnRankedSql,
           |gedges AS (SELECT probe_id AS src, vec_id AS dst FROM ranked WHERE rn <= 5)""".stripMargin),
    // deletion-neighborhood fuzzy join: DuckDB regenerates the exact
    // variant sets, candidate join, and levenshtein verify
    "join_fuzzy_blocked" ->
      graft.ops.FuzzyJoin.editDist1OracleSql("supplier", "s_suppkey", "s_name"),
    // k-core peel replay: symmetrize/dedup, then one degree/keep/
    // restrict CTE triple per fixed round — the monotone-shrink
    // contract makes the unrolled chain exact
    "graph_kcore" ->
      Graph.kCoreOracleSql(
        s"""WITH $ivfAssignSqlDerivedK,
           |$knnRankedSql,
           |gedges AS (SELECT probe_id AS src, vec_id AS dst FROM ranked WHERE rn <= 5)""".stripMargin,
        k = 6, rounds = Graph.defaultKCoreRounds, idColOut = "vec_id"),
    // per-node triangles over the same derived kNN graph: the oracle
    // rebuilds the index + edges, then replays the degree orientation,
    // wedge join, and closing-edge EXISTS
    "graph_triangles" ->
      Graph.triangleOracleSql(
        s"""WITH $ivfAssignSqlDerivedK,
           |$knnRankedSql,
           |gedges AS (SELECT probe_id AS src, vec_id AS dst FROM ranked WHERE rn <= 5),
           |gnodes AS (SELECT vec_id AS id FROM qv)""".stripMargin,
        "vec_id"),
    // hybrid retrieval rebuilt from scratch: the shared integer-BM25
    // CTEs, the dense leg's quantized dot, the identical integer RRF
    "search_hybrid_rrf" ->
      Search.hybridOracleSql(tokSql, qdotSql(_, _)),
    // full hash oracle for the LSH ANN scale path: the hyperplane family
    // is engine-independent (md5-derived small-int weights, integer dot
    // sign — see functions/RhpBuckets.planeWeight) and the geometry is
    // derived from count(*) exactly as Similarity.rhpGeometry derives
    // it, so DuckDB recomputes the exact buckets, candidate set, and
    // ranking from scratch
    "ann_lsh_topk" ->
      s"""WITH $rhpGeoSql,
         |qv AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |dots AS (
         |  SELECT vec_id, t, p, sum(q[i + 1] * w) AS dot
         |  FROM qv CROSS JOIN planes
         |  GROUP BY vec_id, t, p),
         |bkt AS (
         |  SELECT vec_id, t,
         |         CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bkt
         |  FROM dots GROUP BY vec_id, t),
         |cand AS (
         |  SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id
         |  FROM bkt pb JOIN bkt cb ON pb.t = cb.t AND pb.bkt = cb.bkt
         |  WHERE pb.vec_id < 10 AND cb.vec_id <> pb.vec_id),
         |scored AS (
         |  SELECT c.probe_id, c.vec_id, ${qdotSql("p.embedding", "e.embedding")} AS qdot
         |  FROM cand c
         |  JOIN embeddings p ON p.vec_id = c.probe_id
         |  JOIN embeddings e ON e.vec_id = c.vec_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, qdot,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
         |ORDER BY probe_id, rn""".stripMargin,
    // multiprobe RHP-LSH rebuilt from scratch: same plane family over
    // the fixed-table geometry, probe buckets = home + every Hamming-1
    // flip (xor of one plane bit), candidate join, exact re-score
    "ann_lsh_mp_topk" ->
      s"""WITH $rhpGeoMpSql,
         |qv AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |dots AS (
         |  SELECT vec_id, t, p, sum(q[i + 1] * w) AS dot
         |  FROM qv CROSS JOIN planes
         |  GROUP BY vec_id, t, p),
         |bkt AS (
         |  SELECT vec_id, t,
         |         CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bkt
         |  FROM dots GROUP BY vec_id, t),
         |pbkt AS (
         |  SELECT b.vec_id, b.t,
         |         CASE WHEN f = 0 THEN b.bkt
         |              ELSE xor(b.bkt, CAST(1 AS BIGINT) << (f - 1)) END AS bkt
         |  FROM bkt b, geo, range(0, ${ext.Similarity.rhpMaxPlanes + 1}) r(f)
         |  WHERE b.vec_id < 10 AND f <= np),
         |cand AS (
         |  SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id
         |  FROM pbkt pb JOIN bkt cb ON pb.t = cb.t AND pb.bkt = cb.bkt
         |  WHERE cb.vec_id <> pb.vec_id),
         |scored AS (
         |  SELECT c.probe_id, c.vec_id, ${qdotSql("p.embedding", "e.embedding")} AS qdot
         |  FROM cand c
         |  JOIN embeddings p ON p.vec_id = c.probe_id
         |  JOIN embeddings e ON e.vec_id = c.vec_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, qdot,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
         |ORDER BY probe_id, rn""".stripMargin,
    // residual IVF-PQ (true IVFADC) rebuilt from scratch: the shared
    // coarse chain, residuals as exact int64 differences, the PQ chain
    // retargeted at the residual relation, per-(probe, list) ADC
    // tables, shortlist, exact re-rank — every step id-broken
    "ann_ivfpq_res_topk" ->
      s"""WITH $ivfAssignSql,
         |rqv AS (
         |  SELECT e.vec_id,
         |         list_transform(list_zip(e.q, c.cv), p -> CAST(p[1] AS BIGINT) - CAST(p[2] AS BIGINT)) AS q,
         |         e.h
         |  FROM qv e JOIN assign a ON a.vec_id = e.vec_id JOIN cents c ON c.cent_id = a.list_id),
         |${pqCentsSql("rqv")},
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT e.vec_id, e.sub, c.code,
         |           row_number() OVER (PARTITION BY e.vec_id, e.sub
         |             ORDER BY ${pqDistSql("e.sv", "c.cv")}, c.code) AS rn
         |    FROM (SELECT vec_id, sub, q[sub*8+1 : sub*8+8] AS sv FROM rqv, range(0, 8) r(sub)) e
         |    JOIN pqcents c ON e.sub = c.sub) z
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS probe_id, q AS pe FROM qv WHERE vec_id < 10),
         |pl AS (
         |  SELECT probe_id, list_id FROM (
         |    SELECT p.probe_id, c.cent_id AS list_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY 2*${qdotIntSql("p.pe", "c.cv")} - c.nrm DESC, c.cent_id) AS pr
         |    FROM probes p CROSS JOIN cents c) b
         |  WHERE pr <= ${Similarity.defaultNprobe}),
         |prs AS (
         |  SELECT pl.probe_id, pl.list_id,
         |         list_transform(list_zip(p.pe, lc.cv), x -> CAST(x[1] AS BIGINT) - CAST(x[2] AS BIGINT)) AS q
         |  FROM pl JOIN probes p ON p.probe_id = pl.probe_id
         |  JOIN cents lc ON lc.cent_id = pl.list_id),
         |padc AS (
         |  SELECT ps.probe_id, ps.list_id, ps.sub, c.code, ${pqDistSql("ps.sv", "c.cv")} AS d
         |  FROM (SELECT probe_id, list_id, sub, q[sub*8+1 : sub*8+8] AS sv
         |        FROM prs, range(0, 8) r(sub)) ps
         |  JOIN pqcents c ON ps.sub = c.sub),
         |cand AS (
         |  SELECT pl.probe_id, a.vec_id, sum(padc.d) AS ad
         |  FROM pl
         |  JOIN assign a ON a.list_id = pl.list_id
         |  JOIN codes co ON co.vec_id = a.vec_id
         |  JOIN padc ON padc.probe_id = pl.probe_id AND padc.list_id = pl.list_id
         |           AND padc.sub = co.sub AND padc.code = co.code
         |  WHERE a.vec_id <> pl.probe_id
         |  GROUP BY pl.probe_id, a.vec_id),
         |short AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY ad, vec_id) AS sr
         |    FROM cand) s
         |  WHERE sr <= ${Similarity.defaultRefine}),
         |scored AS (
         |  SELECT sh.probe_id, sh.vec_id, ${qdotIntSql("p.pe", "e.q")} AS qdot
         |  FROM short sh
         |  JOIN probes p ON p.probe_id = sh.probe_id
         |  JOIN qv e ON e.vec_id = sh.vec_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, qdot,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT probe_id, vec_id, qdot, rn FROM ranked WHERE rn <= 10
         |ORDER BY probe_id, rn""".stripMargin,
    // streaming twin of the canonical word count: same tokenization,
    // continuous execution, complete-mode memory sink
    "stream_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), ' ')) AS word
        |      FROM documents) tok
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY word""".stripMargin,
    // deterministic train/validation/test assignment: hash-range split
    // on an engine-independent md5 id hash — the reproducible sampling
    // op every training pipeline needs (same doc lands in the same
    // split in any engine, at any scale, with no shuffle at all)
    // split-by-canonical replay: the dedup_clusters reachability CTEs
    // give the cluster label; singletons fall back to their own id;
    // the split law is split_assign's md5 range over the CANON id
    "split_leakage_safe" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |cl AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id),
         |canon AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS canon
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
         |SELECT doc_id, canon,
         |  CASE WHEN CAST(concat('0x', substring(md5(CAST(canon AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST(concat('0x', substring(md5(CAST(canon AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM canon
         |ORDER BY doc_id""".stripMargin,
    "split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // the flagship LLM-data pipeline end-to-end: near-dup
    // canonicalization (LSH + connected components, keep min-id) →
    // language filter → quality filter — "materialize the training
    // corpus" as one query
    "corpus_select" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lbl AS (
         |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY id),
         |canon AS (
         |  SELECT d.doc_id, d.text FROM documents d LEFT JOIN lbl l USING (doc_id)
         |  WHERE l.cluster_id IS NULL OR l.cluster_id = d.doc_id),
         |f AS (SELECT doc_id, $tokSql AS tk, text FROM canon),
         |s AS (
         |  SELECT doc_id,
         |    len(list_filter(tk, x -> list_contains(['der','die','das','und','nicht','ist'], x))) AS s_de,
         |    len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is'], x))) AS s_en,
         |    len(list_filter(tk, x -> list_contains(['el','la','los','que','y','es'], x))) AS s_es,
         |    len(list_filter(tk, x -> list_contains(['le','la','les','et','est','que'], x))) AS s_fr
         |  FROM f),
         |q AS (
         |  SELECT doc_id,
         |    least(len(tk) / 100.0, 1.0) * 0.5
         |    + (CASE WHEN len(tk) = 0 THEN 0.0 ELSE len(list_filter(tk, x -> list_contains(['the','a','an','of','to','and','in','is','it','for','on','with'], x)))*1.0 / len(tk) END) * 0.3
         |    + (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[[:punct:]]'))*1.0 / length(text) END) * 0.2 AS qscore
         |  FROM f)
         |SELECT f.doc_id, CAST(len(f.tk) AS BIGINT) AS n_tokens, q.qscore
         |FROM f JOIN s USING (doc_id) JOIN q USING (doc_id)
         |WHERE (CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) AND s_de > 0 THEN 'de'
         |            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) AND s_en > 0 THEN 'en'
         |            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) AND s_es > 0 THEN 'es'
         |            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) AND s_fr > 0 THEN 'fr'
         |            ELSE 'und' END) = 'en'
         |  AND q.qscore >= 0.5
         |ORDER BY f.doc_id""".stripMargin,
    // KMV distinct-count sketch over the corpus's 3-gram shingle space:
    // hashes are 44-bit (11 md5 hex chars) so (k-1)*2^44 stays in int64
    // and the estimate is exact integral division — DuckDB rebuilds the
    // identical sketch from scratch (order-limit over distinct hashes;
    // its k-size doubles as the exact count while the sketch isn't full)
    // redaction rebuilt from scratch: same dialect-neutral patterns
    // (classes + bounded quantifiers only) with RE2 'g' replacement
    "text_redact" ->
      """SELECT doc_id,
        |  md5(regexp_replace(
        |        regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |        '[0-9][0-9 -]{5,}[0-9]', '<NUMBER>', 'g')) AS redacted_md5,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9][0-9 -]{5,}[0-9]')) AS BIGINT) AS n_numbers
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // per-bucket centroids rebuilt from scratch: same ×1000 rounding,
    // same truncating integer mean, coordinates reassembled by position
    "emb_centroids" ->
      """WITH q AS (
        |  SELECT vec_id % 8 AS bucket, i - 1 AS pos,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qx
        |  FROM embeddings, range(1, 65) r(i))
        |SELECT bucket, CAST(pos AS BIGINT) AS pos,
        |       CAST(sum(qx) // count(*) AS BIGINT) AS qc
        |FROM q GROUP BY bucket, pos
        |ORDER BY bucket, pos""".stripMargin,
    // PQ codebook rebuilt from scratch: same seed ranks, same per-
    // subspace Lloyd round, same truncating means and id-broken argmins
    "emb_pq_codes" ->
      s"""WITH qv AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q,
         |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM embeddings),
         |${pqCentsSql()},
         |esub AS (SELECT vec_id, sub, q[sub*8+1 : sub*8+8] AS sv FROM qv, range(0, 8) r(sub))
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, code, qerr FROM (
         |  SELECT e.vec_id, e.sub, c.code, ${pqDistSql("e.sv", "c.cv")} AS qerr,
         |         row_number() OVER (PARTITION BY e.vec_id, e.sub
         |           ORDER BY ${pqDistSql("e.sv", "c.cv")}, c.code) AS rn
         |  FROM esub e JOIN pqcents c ON e.sub = c.sub) z
         |WHERE rn = 1
         |ORDER BY vec_id, sub""".stripMargin,
    // IVF-PQ search rebuilt from scratch: coarse-quantizer training +
    // assignment (shared ivf CTEs), PQ codebook training + encode
    // (shared pq CTEs), the ADC table, the (adc, vec_id)-ordered
    // `defaultRefine`-deep shortlist, and the exact re-rank — every argmin
    // and rank id-broken, so the full pipeline replays bit-for-bit
    "ann_ivfpq_topk" -> ivfPqSql("vec_id < 10"),
    // the SAME pipeline with a different probe batch: the engine side
    // answers it from a PERSISTED index (train once, parquet round
    // trip, probe many) — the oracle retrains because it must stand
    // alone, and the all-int64 index round-trips exactly, so the
    // replay still matches bit-for-bit
    "ann_index_probe" -> ivfPqSql("vec_id >= 10 AND vec_id < 20"),
    // streaming ingest screen: SAME persisted-index truth as
    // ann_index_probe (pinned training replay over the full corpus),
    // the arrival batch as probes — the engine side answers it with a
    // zero-shuffle streaming plan over the broadcast serving view
    "stream_ann_screen" -> ivfPqSql("vec_id >= 30 AND vec_id < 40"),
    // incremental update: quantizers trained on the 80% slice only,
    // assignment + PQ encode over the WHOLE corpus (the engine's
    // append path), probes = a third batch
    "ann_index_update" ->
      ivfPqSql("vec_id >= 20 AND vec_id < 30", "vec_id % 5 <> 0"),
    // purge: quantizers stay trained on the FULL corpus (pinned — the
    // index was built before the delete request), candidates restricted
    // to the retained ids, probes from the retained slice — a purged id
    // surviving any inverted list or code row would hash-mismatch
    "privacy_purge_ann" ->
      ivfPqSql("vec_id < 10 AND vec_id % 37 <> 3",
        candPred = "a.vec_id % 37 <> 3"),
    // the streaming twin drains TWO delete batches; per-trigger purges
    // compose under the pinned quantizers, so the replay restricts
    // candidates to the corpus minus their union
    "stream_ann_purge" ->
      ivfPqSql("vec_id < 10 AND vec_id % 37 <> 3 AND vec_id % 37 <> 5",
        candPred = "a.vec_id % 37 <> 3 AND a.vec_id % 37 <> 5"),
    // SemDeDup rebuilt from scratch: identical quantizer training +
    // assignment (shared CTE), then within-list pairs above the
    // threshold and the keep-first anti-join
    // streaming twin: identical report from stream-folded sums
    "stream_drift" -> embDriftSql,
    // per-label centroid cosine vs the corpus centroid — exact integer
    // replay of the one-pass drift monitor: same truncating-div means
    // as the Lloyd recentering CTEs, floored correctly-rounded sqrt
    "emb_drift" -> embDriftSql,
    "emb_affinity" -> embAffinitySql,
    "emb_semdedup" ->
      s"""WITH $ivfAssignSql,
         |pairs AS (
         |  SELECT a2.vec_id AS id_b
         |  FROM assign a1
         |  JOIN assign a2 ON a1.list_id = a2.list_id AND a1.vec_id < a2.vec_id
         |  JOIN qv e1 ON e1.vec_id = a1.vec_id
         |  JOIN qv e2 ON e2.vec_id = a2.vec_id
         |  WHERE ${qdotIntSql("e1.q", "e2.q")} >= 450000)
         |SELECT a.vec_id, a.list_id FROM assign a
         |WHERE a.vec_id NOT IN (SELECT id_b FROM pairs)
         |ORDER BY a.vec_id""".stripMargin,
    // contamination screen rebuilt from scratch: distinct word-5-grams
    // per doc as 44-bit md5 hashes, benchmark slice = doc_id ≡ 0 mod 7.
    // Dedup happens POST-hash (DISTINCT doc_id, h) exactly like the
    // engine (ShingleMd5Hashes dedups the 44-bit hashes, not the gram
    // strings) — two grams colliding in 44 bits must count once in both
    // engines or the bit-for-bit contract breaks.
    "decontaminate" -> deconScreenSql,
    // per-benchmark attribution: the same distinct-gram screen with
    // the bench side keyed by its synthetic eval-set label — a gram
    // in several benchmarks credits each (provenance, not dedup)
    "decontaminate_attrib" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest([array_to_string(tk[i:i+4], ' ') FOR i IN range(1, len(tk) - 3)]) AS g
         |  FROM toks WHERE len(tk) >= 5),
         |h AS (
         |  SELECT DISTINCT doc_id, CAST(concat('0x', substring(md5(g), 1, 11)) AS BIGINT) AS h FROM sh),
         |bench AS (
         |  SELECT DISTINCT 'b' || CAST(doc_id % 3 AS VARCHAR) AS bench, h
         |  FROM h WHERE doc_id % 7 = 0)
         |SELECT h.doc_id, b.bench, count(*) AS n_hits
         |FROM h JOIN bench b USING (h)
         |WHERE h.doc_id % 7 <> 0
         |GROUP BY h.doc_id, b.bench
         |ORDER BY doc_id, bench""".stripMargin,
    // the streaming screen is row-identical to the batch screen on the
    // same input by construction (shared gram extraction) — one oracle
    "stream_decontaminate" -> deconScreenSql,
    // decon surgery rebuilt from scratch: same 60-bit positional gram
    // hashes as corpus_strip_spans, hot set = the DISTINCT benchmark
    // grams instead of corpus-duplicated ones, same cover-filter rewrite
    "decontaminate_strip" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |bg AS (
         |  SELECT DISTINCT CAST(concat('0x', substring(md5(array_to_string(tk[i:i+4], ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM (SELECT tk, unnest(range(1, len(tk) - 3)) AS i
         |        FROM toks WHERE doc_id % 7 = 0 AND len(tk) >= 5) bi),
         |g AS (
         |  SELECT doc_id, CAST(i AS INT) AS i,
         |         CAST(concat('0x', substring(md5(array_to_string(tk[i:i+4], ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
         |        FROM toks WHERE doc_id % 7 <> 0 AND len(tk) >= 5) gi),
         |st AS (SELECT doc_id, list(i ORDER BY i) AS starts FROM g JOIN bg USING (h) GROUP BY doc_id),
         |k AS (
         |  SELECT t.doc_id, t.tk, coalesce(s.starts, []) AS starts
         |  FROM (SELECT * FROM toks WHERE doc_id % 7 <> 0) t LEFT JOIN st s USING (doc_id)),
         |kept AS (
         |  SELECT doc_id, len(tk) AS n_tokens,
         |         [tk[j] FOR j IN range(1, len(tk) + 1) IF len(list_filter(starts, s -> j >= s AND j < s + 5)) = 0] AS kt
         |  FROM k)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(n_tokens - len(kt) AS BIGINT) AS n_removed,
         |       md5(coalesce(array_to_string(kt, ' '), '')) AS stripped_md5
         |FROM kept
         |ORDER BY doc_id""".stripMargin,
    // embedding-space decon rebuilt from scratch: integer qdot vs the
    // %7 bench slice, argmax via a (qd DESC, bench_id ASC) window —
    // exactly the engine's lexicographic struct-max tie-break
    "decontaminate_semantic" ->
      s"""WITH hits AS (
         |  SELECT c.vec_id AS vec_id, b.vec_id AS bench_id,
         |         ${qdotSql("c.embedding", "b.embedding")} AS qd
         |  FROM embeddings c JOIN embeddings b
         |    ON c.vec_id % 7 <> 0 AND b.vec_id % 7 = 0
         |  WHERE ${qdotSql("c.embedding", "b.embedding")} >= 450000)
         |SELECT vec_id, qd AS max_qdot, bench_id FROM (
         |  SELECT vec_id, bench_id, qd,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY qd DESC, bench_id ASC) AS rn
         |  FROM hits) h
         |WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    // media content dedup rebuilt from scratch: the synthetic payload
    // is the text's bytes, so DuckDB hashes the text directly
    "multimodal_dedup" ->
      """SELECT min(doc_id) AS keeper, md5(text) AS payload_md5, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY keeper""".stripMargin,
    // byte-gram simhash rebuilt from scratch: the synthetic payload is
    // the text's UTF-8 bytes and the corpus is ASCII, so DuckDB's
    // 4-CHAR substrings hash the same bytes the engine's 4-BYTE
    // payload slices do
    "multimodal_neardup" ->
      """WITH m AS (SELECT doc_id AS media_id, text FROM documents),
        |g AS (
        |  SELECT media_id, CAST(concat('0x', substring(md5(substring(text, CAST(i AS INT), 4)), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT media_id, text, unnest(range(1, length(text) - 2)) AS i
        |        FROM m WHERE length(text) >= 4) gi),
        |bits AS (
        |  SELECT media_id, bb.b AS b,
        |         sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS score
        |  FROM g, (SELECT unnest(range(0,60)) AS b) bb
        |  GROUP BY media_id, bb.b),
        |sh AS (SELECT media_id, CAST(sum(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sh
        |       FROM bits GROUP BY media_id)
        |SELECT a.media_id AS id_a, b.media_id AS id_b, CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "corpus_source_cap" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) r
        |WHERE rn <= 10
        |ORDER BY source, doc_id""".stripMargin,
    // chunking rebuilt from scratch: per-doc index range unnested,
    // 1-based inclusive list slices, chunk text compared as md5
    "corpus_chunks" ->
      s"""WITH f AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, tk, unnest(range(0, ((len(tk) - 1) // 32) + 1)) AS chunk_id
         |  FROM f WHERE len(tk) >= 1),
         |s AS (
         |  SELECT doc_id, chunk_id, tk[chunk_id*32+1 : chunk_id*32+32] AS ck FROM c)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |       CAST(len(ck) AS BIGINT) AS n_tok,
         |       md5(array_to_string(ck, ' ')) AS chunk_md5
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    // mixture rebalancer rebuilt from scratch: identical integer rate
    // arithmetic and md5-permille keep decision
    // budget-fill replay: √n temperature caps, 12-bit hash-bucket
    // histogram, longest prefix of buckets under the cap per source
    "corpus_budget_fill" ->
      """WITH sized AS (
        |  SELECT source AS grp,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |         CAST(length(text) AS BIGINT) AS sz
        |  FROM documents),
        |counts AS (SELECT grp, count(*) AS n_grp,
        |                  CAST(floor(sqrt(count(*) * 1000000)) AS BIGINT) AS w
        |           FROM sized GROUP BY grp),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sum_w FROM counts),
        |caps AS (SELECT grp, CAST((200000 * w) // sum_w AS BIGINT) AS cap_chars
        |         FROM counts, tot),
        |hist AS (SELECT grp, h // 281474976710656 AS b,
        |                CAST(sum(sz) AS BIGINT) AS bc, count(*) AS bn
        |         FROM sized GROUP BY grp, b),
        |cum AS (SELECT grp, b, bc, bn,
        |               CAST(sum(bc) OVER (PARTITION BY grp ORDER BY b) AS BIGINT) AS cum
        |        FROM hist),
        |kept AS (SELECT c.grp, c.b, c.bc, c.bn
        |         FROM cum c JOIN caps ON caps.grp = c.grp
        |         WHERE c.cum <= caps.cap_chars),
        |agg AS (SELECT grp, CAST(max(b) AS BIGINT) AS cutoff_bucket,
        |               CAST(sum(bn) AS BIGINT) AS n_kept,
        |               CAST(sum(bc) AS BIGINT) AS chars_kept
        |        FROM kept GROUP BY grp)
        |SELECT caps.grp AS source, caps.cap_chars,
        |       CAST(coalesce(agg.cutoff_bucket, -1) AS BIGINT) AS cutoff_bucket,
        |       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
        |       CAST(coalesce(agg.chars_kept, 0) AS BIGINT) AS chars_kept
        |FROM caps LEFT JOIN agg ON agg.grp = caps.grp
        |ORDER BY source""".stripMargin,
    "sample_balanced" ->
      """WITH stats AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
        |tot AS (SELECT count(*) AS n, count(DISTINCT source) AS n_src FROM documents),
        |rates AS (
        |  SELECT source, least(1000, (n * 400) // (n_src * n_s)) AS w FROM stats, tot)
        |SELECT doc_id, source FROM documents JOIN rates USING (source)
        |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < w
        |ORDER BY doc_id""".stripMargin,
    // per-language KMV rebuilt from scratch: per-lang distinct hashes,
    // 256 smallest per lang via a partitioned row_number, identical
    // estimator arithmetic
    "sketch_distinct_by_lang" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT lang, unnest($shingleSql) AS g FROM toks WHERE len(tk) >= 3),
         |h AS (
         |  SELECT DISTINCT lang, CAST(concat('0x', substring(md5(g), 1, 11)) AS BIGINT) AS h FROM sh),
         |r AS (
         |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h),
         |agg AS (
         |  SELECT lang, CAST(max(h) AS BIGINT) AS kth_min, count(*) AS k_sz
         |  FROM r WHERE rn <= 256 GROUP BY lang)
         |SELECT lang, kth_min,
         |       CAST(CASE WHEN k_sz < 256 THEN k_sz
         |                 ELSE (255 * 17592186044416) // kth_min END AS BIGINT) AS est
         |FROM agg
         |ORDER BY lang""".stripMargin,
    // KMV overlap matrix rebuilt from scratch: same per-source k-min
    // lists (row_number replay), same merged-union k-min, same
    // inclusion-exclusion in exact integer arithmetic
    "sketch_source_overlap" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT source, unnest($shingleSql) AS g FROM toks WHERE len(tk) >= 3),
         |h AS (
         |  SELECT DISTINCT source, CAST(concat('0x', substring(md5(g), 1, 11)) AS BIGINT) AS h FROM sh),
         |r AS (
         |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
         |sk AS (SELECT source, h FROM r WHERE rn <= 256),
         |ka AS (
         |  SELECT source, count(*) AS sz, CAST(max(h) AS BIGINT) AS kth FROM sk GROUP BY source),
         |srcs AS (SELECT DISTINCT source FROM documents),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b
         |  FROM srcs a JOIN srcs b ON a.source < b.source),
         |uh AS (
         |  SELECT DISTINCT p.src_a, p.src_b, s.h
         |  FROM pairs p JOIN sk s ON s.source IN (p.src_a, p.src_b)),
         |ru AS (
         |  SELECT src_a, src_b, h,
         |         row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
         |  FROM uh),
         |ku AS (
         |  SELECT src_a, src_b, count(*) AS sz, CAST(max(h) AS BIGINT) AS kth
         |  FROM ru WHERE rn <= 256 GROUP BY src_a, src_b),
         |e AS (
         |  SELECT p.src_a, p.src_b,
         |         CAST(CASE WHEN a.sz < 256 THEN a.sz ELSE (255 * 17592186044416) // a.kth END AS BIGINT) AS est_a,
         |         CAST(CASE WHEN b.sz < 256 THEN b.sz ELSE (255 * 17592186044416) // b.kth END AS BIGINT) AS est_b,
         |         CAST(CASE WHEN u.sz < 256 THEN u.sz ELSE (255 * 17592186044416) // u.kth END AS BIGINT) AS est_union
         |  FROM pairs p
         |  JOIN ka a ON a.source = p.src_a
         |  JOIN ka b ON b.source = p.src_b
         |  JOIN ku u ON u.src_a = p.src_a AND u.src_b = p.src_b)
         |SELECT src_a, src_b, est_a, est_b, est_union,
         |       CAST(greatest(est_a + est_b - est_union, 0) AS BIGINT) AS est_inter,
         |       CAST(CASE WHEN est_union = 0 THEN 0
         |                 ELSE (greatest(est_a + est_b - est_union, 0) * 1000) // est_union END AS BIGINT) AS jaccard_milli
         |FROM e
         |ORDER BY src_a, src_b""".stripMargin,
    "sketch_distinct_shingles" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT unnest($shingleSql) AS g FROM toks WHERE len(tk) >= 3),
         |h AS (
         |  SELECT DISTINCT CAST(concat('0x', substring(md5(g), 1, 11)) AS BIGINT) AS h FROM sh),
         |k AS (SELECT h FROM h ORDER BY h LIMIT 256),
         |agg AS (SELECT CAST(max(h) AS BIGINT) AS kth_min, count(*) AS k_sz FROM k)
         |SELECT agg.kth_min,
         |       CAST(CASE WHEN agg.k_sz < 256 THEN agg.k_sz
         |                 ELSE (255 * 17592186044416) // agg.kth_min END AS BIGINT) AS est
         |FROM agg""".stripMargin,
    "stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |       c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,
    // the staged sentinels push the engine's watermark ~decades past
    // the data, so EVERY unmatched purchase emits and the oracle is
    // the unconditional batch left join
    "stream_join_outer" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |       c.event_id AS click_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY purchase_id, coalesce(click_id, -1)""".stripMargin,
    "stream_enrich" ->
      """SELECT event_id, event_type, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,
    // grouped histogram quantiles rebuilt from scratch: per-group
    // bounds, per-group 1024 bins, per-group cumulative crossing
    "quantiles_by_group" ->
      """WITH mm AS (
        |  SELECT l_returnflag AS grp, min(l_extendedprice) AS lo,
        |         max(l_extendedprice) AS hi, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT mm.grp,
        |         CASE WHEN mm.hi = mm.lo THEN 0
        |              ELSE least(floor((l_extendedprice - mm.lo) / ((mm.hi - mm.lo) / 1024)), 1023) END AS bin
        |  FROM lineitem JOIN mm ON l_returnflag = mm.grp),
        |h AS (SELECT grp, bin, count(*) AS c FROM b GROUP BY grp, bin),
        |cum AS (SELECT grp, bin, sum(c) OVER (PARTITION BY grp ORDER BY bin) AS cum FROM h)
        |SELECT cum.grp, CAST(t.q AS DOUBLE) AS q,
        |       mm.lo + min(cum.bin) * ((mm.hi - mm.lo) / 1024) AS est
        |FROM (VALUES (0.5), (0.9), (0.99)) t(q), cum
        |JOIN mm ON cum.grp = mm.grp
        |WHERE cum.cum >= ceil(t.q * mm.n)
        |GROUP BY cum.grp, t.q, mm.lo, mm.hi
        |ORDER BY cum.grp, q""".stripMargin,
    // histogram quantiles rebuilt from scratch: same 4096 equal-width
    // bins, same IEEE double arithmetic, lower-edge estimate at the
    // cumulative crossing
    "quantiles_hist" ->
      """WITH mm AS (
        |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi, count(*) AS n
        |  FROM lineitem),
        |b AS (
        |  SELECT least(floor((l_extendedprice - mm.lo) / ((mm.hi - mm.lo) / 4096)), 4095) AS bin
        |  FROM lineitem, mm),
        |h AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
        |cum AS (SELECT bin, sum(c) OVER (ORDER BY bin) AS cum FROM h)
        |SELECT CAST(t.q AS DOUBLE) AS q,
        |       mm.lo + min(cum.bin) * ((mm.hi - mm.lo) / 4096) AS est
        |FROM (VALUES (0.5), (0.9), (0.99)) t(q), cum, mm
        |WHERE cum.cum >= ceil(t.q * mm.n)
        |GROUP BY t.q, mm.lo, mm.hi
        |ORDER BY q""".stripMargin,
    // the value at sorted position ceil(q·n) is unique even under
    // ties, so the exact-quantile pick is deterministic in any engine
    "quantiles_exact" ->
      """WITH r AS (
        |  SELECT l_extendedprice AS v,
        |         row_number() OVER (ORDER BY l_extendedprice) AS rnk,
        |         count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST(rnk AS BIGINT) AS rnk, v
        |FROM r
        |WHERE rnk IN (CAST(ceil(0.5*n) AS BIGINT), CAST(ceil(0.9*n) AS BIGINT), CAST(ceil(0.99*n) AS BIGINT))
        |ORDER BY rnk""".stripMargin,
    // duplicated 8-token windows rebuilt from scratch: every (not
    // distinct) gram per doc as the same 60-bit md5-derived long the
    // engine shuffles, corpus occurrence counts, per-doc dup fraction
    // in integer per-mille
    "text_dup_ngrams" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |g0 AS (
         |  SELECT doc_id, unnest([array_to_string(tk[i:i+7], ' ') FOR i IN range(1, len(tk) - 6)]) AS g
         |  FROM toks WHERE len(tk) >= 8),
         |g AS (
         |  SELECT doc_id, CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS h FROM g0),
         |c AS (SELECT h, count(*) AS n_occ FROM g GROUP BY h)
         |SELECT doc_id, count(*) AS n_grams,
         |       CAST(sum(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       CAST((sum(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS dup_permille
         |FROM g JOIN c USING (h)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    // first-occurrence novelty replay: distinct (doc, gram-hash),
    // min-owner per gram, per-doc novel share in integer permille
    "text_novelty" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |g0 AS (
         |  SELECT doc_id, unnest([array_to_string(tk[i:i+7], ' ') FOR i IN range(1, len(tk) - 6)]) AS g
         |  FROM toks WHERE len(tk) >= 8),
         |g AS (
         |  SELECT DISTINCT doc_id, CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS h FROM g0),
         |fo AS (SELECT h, min(doc_id) AS fst FROM g GROUP BY h)
         |SELECT doc_id, count(*) AS n_grams,
         |       CAST(sum(CASE WHEN fst = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       CAST((sum(CASE WHEN fst = doc_id THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS novelty_permille
         |FROM g JOIN fo USING (h)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    // duplicate-span removal rebuilt from scratch: same 1-based window
    // starts, same 60-bit gram hashes, corpus-wide ≥2 counts, and the
    // same keep rule (token j survives iff no duplicated window starts
    // in (j−8, j]) — the rewritten text compared as md5
    "corpus_strip_spans" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i AS INT) AS i,
         |         CAST(concat('0x', substring(md5(array_to_string(tk[i:i+7], ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
         |        FROM toks WHERE len(tk) >= 8) gi),
         |c AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
         |st AS (SELECT doc_id, list(i ORDER BY i) AS starts FROM g JOIN c USING (h) GROUP BY doc_id),
         |k AS (
         |  SELECT t.doc_id, t.tk, coalesce(s.starts, []) AS starts
         |  FROM toks t LEFT JOIN st s USING (doc_id)),
         |kept AS (
         |  SELECT doc_id, len(tk) AS n_tokens,
         |         [tk[j] FOR j IN range(1, len(tk) + 1) IF len(list_filter(starts, s -> j >= s AND j < s + 8)) = 0] AS kt
         |  FROM k)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(n_tokens - len(kt) AS BIGINT) AS n_removed,
         |       md5(coalesce(array_to_string(kt, ' '), '')) AS stripped_md5
         |FROM kept
         |ORDER BY doc_id""".stripMargin,
    // per-source boilerplate: 4-token windows in >= max(2, ceil(5% of
    // the source's docs)) DISTINCT docs of that source; rewrite = the
    // same positional cover filter as corpus_strip_spans (both sides
    // 0/1-base-invariant: start and token index shift together)
    "corpus_strip_boilerplate" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokSql AS tk FROM documents),
         |srcn AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |g AS (
         |  SELECT doc_id, source, CAST(i AS INT) AS i,
         |         CAST(concat('0x', substring(md5(array_to_string(tk[i:i+3], ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, source, tk, unnest(range(1, len(tk) - 2)) AS i
         |        FROM toks WHERE len(tk) >= 4) gi),
         |hot AS (
         |  SELECT gc.source, gc.h
         |  FROM (SELECT source, h, count(DISTINCT doc_id) AS nd FROM g GROUP BY source, h) gc
         |  JOIN srcn USING (source)
         |  WHERE nd >= greatest(2, (5 * n_docs + 99) // 100)),
         |st AS (SELECT doc_id, list(i ORDER BY i) AS starts
         |       FROM g JOIN hot ON g.source = hot.source AND g.h = hot.h
         |       GROUP BY doc_id),
         |k AS (
         |  SELECT t.doc_id, t.tk, coalesce(s.starts, []) AS starts
         |  FROM toks t LEFT JOIN st s USING (doc_id)),
         |kept AS (
         |  SELECT doc_id, len(tk) AS n_tokens,
         |         [tk[j] FOR j IN range(1, len(tk) + 1) IF len(list_filter(starts, s -> j >= s AND j < s + 4)) = 0] AS kt
         |  FROM k)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(n_tokens - len(kt) AS BIGINT) AS n_removed,
         |       md5(coalesce(array_to_string(kt, ' '), '')) AS stripped_md5
         |FROM kept
         |ORDER BY doc_id""".stripMargin,
    // keep-first span dedup rebuilt from scratch: same grams and keep
    // rule as the strip oracle, but the canonical occurrence — the
    // plain min of doc_id·2^20 + start (the oracle's 1-based starts
    // shift every pack by exactly +1 vs the engine's 0-based, a
    // uniform monotone shift, so the argmin occurrence is identical)
    // — is exempt: removal starts are every OTHER occurrence of a
    // ≥2-count hash
    "corpus_dedup_spans" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i AS INT) AS i,
         |         CAST(concat('0x', substring(md5(array_to_string(tk[i:i+7], ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
         |        FROM toks WHERE len(tk) >= 8) gi),
         |f AS (SELECT h, min(doc_id * 1048576 + i) AS fo
         |      FROM g GROUP BY h HAVING count(*) >= 2),
         |st AS (SELECT doc_id, list(i ORDER BY i) AS starts
         |       FROM g JOIN f USING (h)
         |       WHERE doc_id * 1048576 + i <> f.fo
         |       GROUP BY doc_id),
         |k AS (
         |  SELECT t.doc_id, t.tk, coalesce(s.starts, []) AS starts
         |  FROM toks t LEFT JOIN st s USING (doc_id)),
         |kept AS (
         |  SELECT doc_id, len(tk) AS n_tokens,
         |         [tk[j] FOR j IN range(1, len(tk) + 1) IF len(list_filter(starts, s -> j >= s AND j < s + 8)) = 0] AS kt
         |  FROM k)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(n_tokens - len(kt) AS BIGINT) AS n_removed,
         |       md5(coalesce(array_to_string(kt, ' '), '')) AS deduped_md5
         |FROM kept
         |ORDER BY doc_id""".stripMargin,
    // Gopher repetition rules rebuilt from scratch: same per-doc token
    // and bigram counts, same (count DESC, token) argmaxes, same
    // integer per-mille floor division. The final CASTs are load-bearing:
    // DuckDB's sum(BIGINT) is HUGEINT, and HUGEINT-derived divisions
    // surface as float64 in pandas — values equal, dtype not, which
    // fails a dtype-sensitive hash compare (the round-5 red row).
    "text_repetition" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |wc AS (
         |  SELECT doc_id, w, count(*) AS c
         |  FROM (SELECT doc_id, unnest(tk) AS w FROM toks WHERE len(tk) >= 1) x
         |  GROUP BY doc_id, w),
         |ws AS (
         |  SELECT doc_id, sum(c) AS n_tokens, sum(c * length(w)) AS n_chars,
         |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_tokens
         |  FROM wc GROUP BY doc_id),
         |tw AS (
         |  SELECT doc_id, c * length(w) AS top_word_chars FROM (
         |    SELECT doc_id, w, c,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w) AS rn
         |    FROM wc) r WHERE rn = 1),
         |bgc AS (
         |  SELECT doc_id, w1, w2, count(*) AS c FROM (
         |    SELECT doc_id,
         |           unnest([tk[i] FOR i IN range(1, len(tk))]) AS w1,
         |           unnest([tk[i+1] FOR i IN range(1, len(tk))]) AS w2
         |    FROM toks WHERE len(tk) >= 2) b
         |  GROUP BY doc_id, w1, w2),
         |tb AS (
         |  SELECT doc_id, c * (length(w1) + length(w2)) AS top_bigram_chars FROM (
         |    SELECT doc_id, w1, w2, c,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w1, w2) AS rn
         |    FROM bgc) r WHERE rn = 1)
         |SELECT ws.doc_id,
         |       CAST((1000 * tw.top_word_chars) // ws.n_chars AS BIGINT) AS top_word_permille,
         |       CAST((1000 * coalesce(tb.top_bigram_chars, 0)) // ws.n_chars AS BIGINT) AS top_bigram_permille,
         |       CAST((1000 * ws.dup_tokens) // ws.n_tokens AS BIGINT) AS dup_word_permille
         |FROM ws JOIN tw USING (doc_id) LEFT JOIN tb USING (doc_id)
         |ORDER BY ws.doc_id""".stripMargin,
    // per-stratum sample rebuilt from scratch: same md5 hash ranking,
    // row_number per language
    "sample_per_key" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        |  FROM h)
        |SELECT lang, doc_id FROM r WHERE rn <= 10
        |ORDER BY lang, doc_id""".stripMargin,
    // containment rebuilt from scratch: exact |A∩B|/|A| over all
    // ordered pairs — the truth the prefix filter only finds faster
    "dedup_containment" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, $shingleSql AS ws FROM toks WHERE len(tk) >= 3)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       len(list_intersect(a.ws, b.ws))*1.0 / len(a.ws) AS containment
         |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
         |WHERE len(list_intersect(a.ws, b.ws))*1.0 / len(a.ws) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,
    // incremental screening rebuilt from scratch: exact Jaccard between
    // every new-batch doc and every existing doc (the O(n·m) truth the
    // banded index only approximates candidates for)
    "dedup_incremental" -> incrementalScreenSql,
    // the streaming twin screens the SAME batch against the SAME corpus
    // through the same pinned-geometry index — the oracle is the same
    // exact cross-corpus truth
    "stream_neardup" -> incrementalScreenSql,
    // stratified sample rebuilt from scratch: langid CASE + md5 hash
    // per-mille against per-language thresholds (en 20%, de/es/fr 50%,
    // und 5%)
    "sample_stratified" ->
      s"""WITH f AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |s AS (
         |  SELECT doc_id,
         |    len(list_filter(tk, x -> list_contains(['der','die','das','und','nicht','ist'], x))) AS s_de,
         |    len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is'], x))) AS s_en,
         |    len(list_filter(tk, x -> list_contains(['el','la','los','que','y','es'], x))) AS s_es,
         |    len(list_filter(tk, x -> list_contains(['le','la','les','et','est','que'], x))) AS s_fr
         |  FROM f),
         |lang AS (
         |  SELECT doc_id,
         |    CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) AND s_de > 0 THEN 'de'
         |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) AND s_en > 0 THEN 'en'
         |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) AND s_es > 0 THEN 'es'
         |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) AND s_fr > 0 THEN 'fr'
         |         ELSE 'und' END AS lang
         |  FROM s)
         |SELECT doc_id, lang
         |FROM lang
         |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
         |      < CASE lang WHEN 'en' THEN 200 WHEN 'de' THEN 500
         |                  WHEN 'es' THEN 500 WHEN 'fr' THEN 500 ELSE 50 END
         |ORDER BY doc_id""".stripMargin,
    // bigram LM rebuilt from scratch: positional double-unnest zips the
    // two slice lists, counts are plain GROUP BYs, and // is DuckDB's
    // floor division — same integer scaling as the engine
    "text_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |         unnest([tk[i] FOR i IN range(1, len(tk))]) AS w1,
         |         unnest([tk[i+1] FOR i IN range(1, len(tk))]) AS w2
         |  FROM toks WHERE len(tk) >= 2),
         |c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY w1),
         |scored AS (
         |  SELECT bg.doc_id, (c2.n2 * 1000000) // c1.n1 AS s
         |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
         |SELECT doc_id, count(*) AS n_bigrams,
         |       CAST(sum(s) // count(*) AS BIGINT) AS lm_score
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // collocations rebuilt from scratch: same bigram stream, the
    // marginals re-aggregated off the pair counts, HUGEINT products
    // with DuckDB's // floor matching Spark's DECIMAL(38,0) div
    "text_collocations" ->
      s"""WITH toks AS (SELECT $tokSql AS tk FROM documents),
         |bg AS (
         |  SELECT unnest([tk[i] FOR i IN range(1, len(tk))]) AS w1,
         |         unnest([tk[i+1] FOR i IN range(1, len(tk))]) AS w2
         |  FROM toks WHERE len(tk) >= 2),
         |c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2),
         |pre AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY w1),
         |suf AS (SELECT w2, sum(n2) AS n2b FROM c2 GROUP BY w2),
         |tot AS (SELECT sum(n2) AS nb FROM c2),
         |scored AS (
         |  SELECT c2.w1, c2.w2, c2.n2 AS n_pair,
         |    CAST((CAST(c2.n2 AS HUGEINT) * nb * 1000000)
         |         // (CAST(pre.n1 AS HUGEINT) * suf.n2b) AS BIGINT) AS lift_ppm
         |  FROM c2 JOIN pre USING (w1) JOIN suf USING (w2) CROSS JOIN tot
         |  WHERE c2.n2 >= 10),
         |top AS (
         |  SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, w1, w2) AS rn
         |  FROM scored)
         |SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, lift_ppm,
         |       CAST(rn AS BIGINT) AS rn
         |FROM top WHERE rn <= 30
         |ORDER BY rn""".stripMargin,
    // DSIR selection rebuilt from scratch: same single-pass bigram
    // stats (target count as a conditional sum), same add-one integer
    // micro-ratio, same (score DESC, id) top-100 cut
    "corpus_dsir_select" ->
      s"""WITH toks AS (SELECT doc_id, lang = 'en' AS tgt, $tokSql AS tk FROM documents),
         |bg AS (
         |  SELECT doc_id, tgt,
         |         unnest([tk[i] FOR i IN range(1, len(tk))]) AS w1,
         |         unnest([tk[i+1] FOR i IN range(1, len(tk))]) AS w2
         |  FROM toks WHERE len(tk) >= 2),
         |st AS (
         |  SELECT w1, w2, count(*) AS n_all,
         |         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_tgt
         |  FROM bg GROUP BY w1, w2),
         |sc AS (
         |  SELECT bg.doc_id, ((st.n_tgt + 1) * 1000000) // (st.n_all + 1) AS r
         |  FROM bg JOIN st USING (w1, w2)),
         |d AS (
         |  SELECT doc_id, count(*) AS n_bigrams,
         |         CAST(sum(r) // count(*) AS BIGINT) AS dsir_score
         |  FROM sc GROUP BY doc_id),
         |rk AS (
         |  SELECT doc_id, n_bigrams, dsir_score,
         |         row_number() OVER (ORDER BY dsir_score DESC, doc_id) AS rn
         |  FROM d)
         |SELECT doc_id, n_bigrams, dsir_score FROM rk WHERE rn <= 100
         |ORDER BY doc_id""".stripMargin,
    // CCNet bucketing rebuilt from scratch: same bigram-LM chain, same
    // per-language distinct-score histogram, same strictly-higher
    // integer thresholds
    "corpus_ccnet_buckets" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |         unnest([tk[i] FOR i IN range(1, len(tk))]) AS w1,
         |         unnest([tk[i+1] FOR i IN range(1, len(tk))]) AS w2
         |  FROM toks WHERE len(tk) >= 2),
         |c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY w1),
         |sc AS (
         |  SELECT bg.doc_id, (c2.n2 * 1000000) // c1.n1 AS s
         |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
         |lm AS (
         |  SELECT doc_id, CAST(sum(s) // count(*) AS BIGINT) AS lm_score
         |  FROM sc GROUP BY doc_id),
         |sl AS (
         |  SELECT d.doc_id, d.lang, lm.lm_score
         |  FROM lm JOIN documents d USING (doc_id)),
         |hist AS (SELECT lang, lm_score, count(*) AS c FROM sl GROUP BY lang, lm_score),
         |cum AS (
         |  SELECT lang, lm_score,
         |         coalesce(sum(c) OVER (PARTITION BY lang ORDER BY lm_score DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS higher,
         |         sum(c) OVER (PARTITION BY lang) AS n
         |  FROM hist),
         |b AS (
         |  SELECT lang, lm_score,
         |         CAST(CASE WHEN higher*3 < n THEN 1
         |                   WHEN higher*3 < n*2 THEN 2
         |                   ELSE 3 END AS INTEGER) AS bucket
         |  FROM cum)
         |SELECT sl.doc_id, sl.lang, sl.lm_score, b.bucket
         |FROM sl JOIN b USING (lang, lm_score)
         |ORDER BY sl.doc_id""".stripMargin,
    "sort_global_rank" ->
      """SELECT o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |FROM orders
        |ORDER BY rnk""".stripMargin,
    // token-budget selection rebuilt from scratch: same qscore
    // arithmetic, same (qscore DESC, doc_id) order, same exclusive
    // running sum and < budget cut
    "corpus_budget_select" ->
      s"""WITH f AS (SELECT doc_id, $tokSql AS tk, text FROM documents),
         |q AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    least(len(tk) / 100.0, 1.0) * 0.5
         |    + (CASE WHEN len(tk) = 0 THEN 0.0 ELSE len(list_filter(tk, x -> list_contains(['the','a','an','of','to','and','in','is','it','for','on','with'], x)))*1.0 / len(tk) END) * 0.3
         |    + (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[[:punct:]]'))*1.0 / length(text) END) * 0.2 AS qscore
         |  FROM f),
         |c AS (
         |  SELECT doc_id, n_tokens, qscore,
         |         CAST(coalesce(sum(n_tokens) OVER (
         |           ORDER BY qscore DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM q)
         |SELECT doc_id, n_tokens, qscore, cum_before
         |FROM c WHERE cum_before < 10000
         |ORDER BY doc_id""".stripMargin,
    // deterministic training-order shuffle rebuilt from scratch: rank
    // over the same md5 hash order
    "corpus_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |             doc_id) AS BIGINT) AS shuffle_pos
        |FROM documents
        |ORDER BY shuffle_pos""".stripMargin,
    // round-robin interleave rebuilt from scratch: per-source md5-order
    // ranks, lexicographic source index, position = rank·K + index
    "corpus_interleave" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 AS sr
        |  FROM h),
        |si AS (
        |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx
        |  FROM (SELECT DISTINCT source FROM documents) d),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM (SELECT DISTINCT source FROM documents) d2)
        |SELECT r.doc_id, r.source, CAST(sr AS BIGINT) AS src_rank,
        |       CAST(sr * ns + sidx AS BIGINT) AS interleave_pos
        |FROM r JOIN si USING (source), k
        |ORDER BY interleave_pos""".stripMargin,
    // concat-and-split packing rebuilt from scratch: same per-doc BPE
    // piece counts (shared training chain), exclusive running sum over
    // doc order, same integer pack arithmetic
    "corpus_pack" ->
      s"""WITH $bpeChainSql,
         |dw AS (SELECT doc_id, unnest($tokSql) AS word FROM documents),
         |pc AS (
         |  SELECT doc_id, CAST(sum(len(p.pieces)) AS BIGINT) AS n_pieces
         |  FROM dw JOIN w${ext.Bpe.defaultMerges} p USING (word)
         |  GROUP BY doc_id),
         |c AS (
         |  SELECT doc_id, n_pieces,
         |         CAST(coalesce(sum(n_pieces) OVER (
         |           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
         |  FROM pc)
         |SELECT doc_id, n_pieces, start,
         |       start // 256 AS pack_id,
         |       start % 256 AS pack_offset,
         |       ((start + n_pieces - 1) // 256) - (start // 256) + 1 AS n_packs
         |FROM c
         |ORDER BY doc_id""".stripMargin,
    // the bloom prefilter has no false negatives, so the engine result
    // is byte-identical to the plain join — the oracle IS the plain
    // join; the bitmap only changes WHERE rows are dropped (before the
    // probe-side shuffle instead of inside the join)
    "bloom_join" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Count-Min counters rebuilt from scratch: position = 4-hex-char
    // md5 slice mod w per row d, counter = plain GROUP BY count, term
    // estimate = min over d of its counters (0 when untouched)
    "sketch_cms_terms" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |words AS (SELECT unnest(tk) AS word FROM toks),
         |cnt AS (
         |  SELECT d, CAST(concat('0x', substring(md5(word), CAST(1 + 4*d AS INT), 4)) AS BIGINT) % 1024 AS p, count(*) AS c
         |  FROM words, range(0, 4) r(d)
         |  GROUP BY d, p),
         |terms(term) AS (VALUES ${graft.ops.Sketches.trackedTerms.map("('" + _ + "')").mkString(", ")}),
         |tp AS (
         |  SELECT term, d, CAST(concat('0x', substring(md5(term), CAST(1 + 4*d AS INT), 4)) AS BIGINT) % 1024 AS p
         |  FROM terms, range(0, 4) r(d))
         |SELECT tp.term, CAST(min(coalesce(cnt.c, 0)) AS BIGINT) AS est
         |FROM tp LEFT JOIN cnt ON cnt.d = tp.d AND cnt.p = tp.p
         |GROUP BY tp.term
         |ORDER BY tp.term""".stripMargin,
    // exact heavy hitters: the engine's MG-candidate pass is only a
    // pruning device — the OUTPUT contract is the plain all-integer
    // threshold (1000·cnt ≥ n·φ), which DuckDB states directly
    "sketch_heavy_hitters" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |words AS (SELECT unnest(tk) AS word FROM toks),
         |nt AS (SELECT count(*) AS n FROM words)
         |SELECT word, count(*) AS cnt
         |FROM words, nt
         |GROUP BY word, nt.n
         |HAVING 1000 * count(*) >= nt.n * 5
         |ORDER BY word""".stripMargin,
    // per-language exact heavy hitters: same plain-HAVING contract,
    // thresholded against each language's own token total; the langid
    // fragment is generated from the engine's marker lists
    "sketch_heavy_hitters_by_lang" ->
      s"""WITH f AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |s AS (SELECT tk, $langScoreSql FROM f),
         |lw AS (SELECT $langCaseSql AS lang, unnest(tk) AS word FROM s),
         |nt AS (SELECT lang, count(*) AS n FROM lw GROUP BY lang)
         |SELECT lw.lang, lw.word, count(*) AS cnt
         |FROM lw JOIN nt USING (lang)
         |GROUP BY lw.lang, lw.word, nt.n
         |HAVING 1000 * count(*) >= nt.n * 10
         |ORDER BY lang, word""".stripMargin,
    // LSH-bucketed embedding near-dup: DuckDB rebuilds the hyperplane
    // buckets (same md5-derived family AND the same count-derived
    // geometry as ann_lsh_topk), the candidate set, and the exact
    // verification from scratch
    "emb_neardup_lsh" ->
      s"""WITH $rhpGeoSql,
         |qv AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |dots AS (
         |  SELECT vec_id, t, p, sum(q[i + 1] * w) AS dot
         |  FROM qv CROSS JOIN planes
         |  GROUP BY vec_id, t, p),
         |bkt AS (
         |  SELECT vec_id, t,
         |         CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bkt
         |  FROM dots GROUP BY vec_id, t),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bkt a JOIN bkt b ON a.t = b.t AND a.bkt = b.bkt
         |  WHERE a.vec_id < b.vec_id)
         |SELECT c.id_a, c.id_b, ${qdotSql("ea.embedding", "eb.embedding")} AS qdot
         |FROM cand c
         |JOIN embeddings ea ON ea.vec_id = c.id_a
         |JOIN embeddings eb ON eb.vec_id = c.id_b
         |WHERE ${qdotSql("ea.embedding", "eb.embedding")} >= 450000
         |ORDER BY id_a, id_b""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // winnowing rebuilt from scratch: same 40-bit md5 gram hashes,
    // same h·2^20+(2^20−1−pos) packing (so list_min IS the min-hash/
    // rightmost-pos argmin), same per-window selection and distinct.
    // Geometry constants interpolated from TextAnalysis so the packing
    // cannot silently desync.
    "text_winnow" ->
      s"""$winnowCteSql
         |SELECT doc_id,
         |       CAST($winnowMaskSql - (key % $winnowPackSql) AS BIGINT) AS pos,
         |       CAST(key // $winnowPackSql AS BIGINT) AS h
         |FROM fp0
         |ORDER BY doc_id, pos""".stripMargin,
    // winnow pair detection rebuilt from scratch: distinct per-doc
    // hashes, document-frequency cap BETWEEN 2 AND maxDf before the
    // candidate join, full (pre-cap) fingerprint counts as the
    // overlap denominator, integer permille floor division
    "dedup_winnow_pairs" ->
      s"""$winnowCteSql,
         |fp AS (SELECT DISTINCT doc_id, key // $winnowPackSql AS h FROM fp0),
         |sizes AS (SELECT doc_id, count(*) AS nfp FROM fp GROUP BY doc_id),
         |shareable AS (SELECT h FROM fp GROUP BY h HAVING count(*) BETWEEN 2 AND ${Dedup.winnowMaxDf}),
         |keyed AS (SELECT fp.h, fp.doc_id FROM fp JOIN shareable USING (h)),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
         |  FROM keyed x JOIN keyed y USING (h)
         |  WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.a, p.b, CAST(p.shared AS BIGINT) AS shared,
         |       CAST((1000 * p.shared) // least(sa.nfp, sb.nfp) AS BIGINT) AS share_permille
         |FROM pairs p
         |JOIN sizes sa ON p.a = sa.doc_id
         |JOIN sizes sb ON p.b = sb.doc_id
         |WHERE (1000 * p.shared) // least(sa.nfp, sb.nfp) >= ${Dedup.winnowMinSharePermille}
         |ORDER BY a, b""".stripMargin,
    // rolling fingerprint: same recurrence rebuilt in DuckDB via
    // list_reduce over code points (== bytes on this ASCII corpus)
    "text_rollhash" ->
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, length(text) + 1),
        |                          i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
        |         (acc, x) -> (acc * 131 + x) % 2147483647) AS rh
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // byte-histogram stats recomputed the slow way: explode to one row
    // per character ('.' never matches a newline; the corpus has none,
    // and chars == bytes on this ASCII corpus — the rollhash contract)
    "text_entropy" ->
      """WITH cnt AS (
        |  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS c FROM documents) ch
        |  GROUP BY doc_id, c),
        |agg AS (
        |  SELECT doc_id, sum(k*k) AS ss, sum(k) AS n, CAST(count(*) AS BIGINT) AS nd
        |  FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(a.nd, 0) AS BIGINT) AS n_distinct,
        |       CAST(coalesce((a.ss * 1000000) // (a.n * a.n), 0) AS BIGINT) AS collision_micro
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // per-source top-300‰ gate on the integer micro quality score:
    // identical truncating-int arithmetic, identical tie-closed keep
    // rule over the distinct-score cumulative histogram
    "corpus_quality_filter" ->
      s"""WITH f AS (SELECT doc_id, source, $tokSql AS tk, text FROM documents),
         |m AS (
         |  SELECT doc_id, source,
         |         CAST(len(tk) AS BIGINT) AS nt,
         |         CAST(len(list_filter(tk, x -> list_contains([$stopwordsSql], x))) AS BIGINT) AS nsw,
         |         CAST(length(text) AS BIGINT) AS nch,
         |         CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS BIGINT) AS npunct
         |  FROM f),
         |s AS (
         |  SELECT doc_id, source,
         |         least(nt, 100)*5000
         |         + (CASE WHEN nt = 0 THEN 0 ELSE (nsw*300000)//nt END)
         |         + 200000
         |         - (CASE WHEN nch = 0 THEN 0 ELSE (npunct*200000)//nch END) AS q_micro
         |  FROM m),
         |h AS (SELECT source, q_micro, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
         |g AS (
         |  SELECT source, q_micro,
         |         coalesce(sum(c) OVER (PARTITION BY source ORDER BY q_micro DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS higher,
         |         sum(c) OVER (PARTITION BY source) AS n
         |  FROM h)
         |SELECT s.doc_id, s.source, CAST(s.q_micro AS BIGINT) AS q_micro
         |FROM s JOIN g ON s.source = g.source AND s.q_micro = g.q_micro
         |WHERE g.higher * 1000 < g.n * 300
         |ORDER BY s.doc_id""".stripMargin,
    // per-source percentile normalization: the identical micro-score
    // CTEs, then strictly-below permille off the distinct-score
    // cumulative histogram
    "text_quality_pctl" ->
      s"""WITH f AS (SELECT doc_id, source, $tokSql AS tk, text FROM documents),
         |m AS (
         |  SELECT doc_id, source,
         |         CAST(len(tk) AS BIGINT) AS nt,
         |         CAST(len(list_filter(tk, x -> list_contains([$stopwordsSql], x))) AS BIGINT) AS nsw,
         |         CAST(length(text) AS BIGINT) AS nch,
         |         CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS BIGINT) AS npunct
         |  FROM f),
         |s AS (
         |  SELECT doc_id, source,
         |         least(nt, 100)*5000
         |         + (CASE WHEN nt = 0 THEN 0 ELSE (nsw*300000)//nt END)
         |         + 200000
         |         - (CASE WHEN nch = 0 THEN 0 ELSE (npunct*200000)//nch END) AS q_micro
         |  FROM m),
         |h AS (SELECT source, q_micro, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
         |g AS (
         |  SELECT source, q_micro,
         |         coalesce(sum(c) OVER (PARTITION BY source ORDER BY q_micro
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         |         sum(c) OVER (PARTITION BY source) AS n
         |  FROM h)
         |SELECT s.doc_id, s.source, CAST(s.q_micro AS BIGINT) AS q_micro,
         |       CAST((g.below * 1000) // greatest(g.n - 1, 1) AS BIGINT) AS pctl_permille
         |FROM s JOIN g ON s.source = g.source AND s.q_micro = g.q_micro
         |ORDER BY s.doc_id""".stripMargin,
    // batch twin of the streaming dedup state: per-fingerprint min id +
    // group size
    "stream_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keeper, CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents
        |GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')))
        |ORDER BY keeper""".stripMargin,
    "dedup_keepfirst" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id,
        |         row_number() OVER (
        |           PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')))
        |           ORDER BY doc_id) AS rn
        |  FROM documents) d
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    // the multimodal pipeline end-to-end: synthetic media built from the
    // documents table, batched codec feature extraction (mapPartitions),
    // features re-expanded to exact per-bin byte counts. The stub codec's
    // 16-bin byte histogram is recomputable in SQL because the corpus is
    // ASCII (byte == code point); a real codec would get rows+schema only
    "multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |         text
        |  FROM documents),
        |bytes AS (
        |  SELECT media_id,
        |         unnest(list_transform(range(1, length(text) + 1),
        |                               i -> ascii(substring(text, CAST(i AS INT), 1)) // 16)) AS bin
        |  FROM m),
        |counts AS (
        |  SELECT media_id, bin, count(*) AS cnt FROM bytes GROUP BY media_id, bin),
        |grid AS (
        |  SELECT media_id, kind, CAST(r.b AS INT) AS bin FROM m, range(0, 16) r(b))
        |SELECT g.media_id, g.kind, g.bin, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        |FROM grid g LEFT JOIN counts c ON c.media_id = g.media_id AND c.bin = g.bin
        |ORDER BY g.media_id, g.bin""".stripMargin,
    // frame sampling: every stride-th 32-byte window of each video
    // payload; frames are compared by md5 (identical bytes → identical
    // digest, and the ASCII corpus makes DuckDB's string slicing equal
    // Spark's byte slicing)
    "multimodal_frames" ->
      """WITH v AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  WHERE ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] = 'video'
        |    AND length(text) >= 32),
        |fr AS (
        |  SELECT media_id, text,
        |         unnest(range(0, (length(text) - 32) // 64 + 1)) AS i
        |  FROM v)
        |SELECT media_id, CAST(i AS INT) AS frame_no,
        |       md5(substring(text, CAST(i * 64 + 1 AS INT), 32)) AS frame_md5
        |FROM fr
        |ORDER BY media_id, frame_no""".stripMargin,
    // thumbnail: 64 bytes sampled at i*len/64 — rebuilt in DuckDB by
    // concatenating the same sampled characters
    "multimodal_thumbs" ->
      """WITH im AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  WHERE ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] = 'image')
        |SELECT media_id,
        |       md5(array_to_string(list_transform(range(0, 64),
        |         i -> substring(text, CAST((i * length(text)) // 64 + 1 AS INT), 1)), '')) AS thumb_md5
        |FROM im
        |ORDER BY media_id""".stripMargin,
    // two-phase salted aggregation (hot-key immunity): same answer as
    // the direct groupBy because the aggregate is commutative+associative
    "skew_salted_agg" ->
      """SELECT l_returnflag,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_q,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // streaming sessionization (flatMapGroupsWithState, event-time
    // timeouts) against the batch sessionizer's SQL: Append mode only
    // emits sessions already closed — by a later event or by the
    // watermark passing the gap timeout — so BOTH sides keep exactly
    // the sessions whose end is ≥ watermark-delay + gap (+2 s margin)
    // before the global max event time; that emission is deterministic
    "stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
        |         OR lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, sec,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id,
        |         CAST(min(sec) AS BIGINT) AS start_s,
        |         CAST(max(sec) AS BIGINT) AS end_s,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM sessions GROUP BY user_id, session_id),
        |cut AS (SELECT max(sec) - 7202 AS cut FROM e)
        |SELECT user_id, start_s, end_s, n_events
        |FROM agg, cut
        |WHERE end_s + 1800 <= cut
        |ORDER BY user_id, start_s""".stripMargin,
    // the streaming twin of q12_events_hourly: same windows, same sums,
    // continuous execution — so the oracle is the batch SQL verbatim
    // sliding windows rebuilt batch-side: each event unioned into its
    // two covering 2-hour windows (starts at trunc(ts) and trunc(ts)−1h)
    "stream_events_sliding" ->
      """WITH w AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
        |  UNION ALL
        |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type, value FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM w
        |GROUP BY ws, event_type
        |ORDER BY window_start, event_type""".stripMargin,
    // streaming windowed KMV rebuilt from scratch: per-hour distinct
    // user hashes, k smallest, same integer estimator
    "events_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
        |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
        |ORDER BY stage""".stripMargin,
    "events_retention" ->
      """WITH f AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS c FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |j AS (
        |  SELECT f.c, date_diff('day', f.c, a.d) AS o
        |  FROM f JOIN a ON f.user_id = a.user_id
        |  WHERE date_diff('day', f.c, a.d) BETWEEN 0 AND 7)
        |SELECT strftime(c, '%Y-%m-%d') AS cohort_day, CAST(o AS BIGINT) AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM j GROUP BY c, o
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // one-pass ANALYZE replay: per column the oracle recomputes exact
    // min/max/nulls and the KMV rank-k estimate from distinct md5
    // slices — the same estimator arithmetic as the distinct sketches
    "stats_analyze" -> statsAnalyzeSql,
    // TV-drift replay: union bounds, shared integer bucketing, per-side
    // floor-permille shares, half the absolute-difference sum
    "stats_drift_tv" -> {
      val colRel = statsCols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS BIGINT) AS v, l_orderkey % 2 AS side FROM lineitem WHERE $c IS NOT NULL")
        .mkString("\n|           UNION ALL ")
      s"""WITH vals AS (
         |  $colRel),
         |bd AS (SELECT col_name, min(v) AS mn, max(v) AS mx FROM vals GROUP BY col_name),
         |bk AS (
         |  SELECT v.col_name, v.side,
         |         CASE WHEN bd.mx = bd.mn THEN 0
         |              ELSE ((v.v - bd.mn) * 1000) // (bd.mx - bd.mn + 1) END AS bucket
         |  FROM vals v JOIN bd USING (col_name)),
         |ha AS (SELECT col_name, bucket, count(*) AS ca FROM bk WHERE side = 0 GROUP BY 1, 2),
         |hb AS (SELECT col_name, bucket, count(*) AS cb FROM bk WHERE side = 1 GROUP BY 1, 2),
         |na AS (SELECT col_name, sum(ca) AS n_a FROM ha GROUP BY 1),
         |nb AS (SELECT col_name, sum(cb) AS n_b FROM hb GROUP BY 1),
         |j AS (
         |  SELECT col_name, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
         |  FROM ha FULL OUTER JOIN hb USING (col_name, bucket))
         |SELECT j.col_name, CAST(max(na.n_a) AS BIGINT) AS n_a,
         |       CAST(max(nb.n_b) AS BIGINT) AS n_b,
         |       CAST(sum(abs((j.ca * 1000) // na.n_a - (j.cb * 1000) // nb.n_b)) // 2 AS BIGINT) AS tv_permille
         |FROM j JOIN na USING (col_name) JOIN nb USING (col_name)
         |GROUP BY j.col_name
         |ORDER BY col_name""".stripMargin
    },
    // exact scaled-integer sufficient statistics per column pair; the
    // same round(×100) → DECIMAL(18,0) products → DECIMAL(38,0) sums
    "stats_corr" ->
      """WITH x AS (
        |  SELECT CAST(round(l_quantity*100) AS DECIMAL(18,0)) AS q,
        |         CAST(round(l_extendedprice*100) AS DECIMAL(18,0)) AS e,
        |         CAST(round(l_discount*100) AS DECIMAL(18,0)) AS d,
        |         CAST(round(l_tax*100) AS DECIMAL(18,0)) AS t
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
        |a AS (
        |  SELECT count(*) AS n,
        |         sum(q) AS s_q, sum(e) AS s_e, sum(d) AS s_d, sum(t) AS s_t,
        |         sum(q*q) AS ss_q, sum(e*e) AS ss_e, sum(d*d) AS ss_d, sum(t*t) AS ss_t,
        |         sum(q*e) AS sp_qe, sum(q*d) AS sp_qd, sum(q*t) AS sp_qt,
        |         sum(e*d) AS sp_ed, sum(e*t) AS sp_et, sum(d*t) AS sp_dt
        |  FROM x)
        |SELECT col_a, col_b, n,
        |       CAST(CAST(sum_a AS DECIMAL(38,0)) AS VARCHAR) AS sum_a,
        |       CAST(CAST(sum_b AS DECIMAL(38,0)) AS VARCHAR) AS sum_b,
        |       CAST(CAST(sum_aa AS DECIMAL(38,0)) AS VARCHAR) AS sum_aa,
        |       CAST(CAST(sum_bb AS DECIMAL(38,0)) AS VARCHAR) AS sum_bb,
        |       CAST(CAST(sum_ab AS DECIMAL(38,0)) AS VARCHAR) AS sum_ab
        |FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n, s_q AS sum_a, s_e AS sum_b, ss_q AS sum_aa, ss_e AS sum_bb, sp_qe AS sum_ab FROM a
        |  UNION ALL SELECT 'l_quantity', 'l_discount', n, s_q, s_d, ss_q, ss_d, sp_qd FROM a
        |  UNION ALL SELECT 'l_quantity', 'l_tax', n, s_q, s_t, ss_q, ss_t, sp_qt FROM a
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', n, s_e, s_d, ss_e, ss_d, sp_ed FROM a
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', n, s_e, s_t, ss_e, ss_t, sp_et FROM a
        |  UNION ALL SELECT 'l_discount', 'l_tax', n, s_d, s_t, ss_d, ss_t, sp_dt FROM a) u
        |ORDER BY col_a, col_b""".stripMargin,
    // per-side n + KMV-ndv replay, the System-R product/max formula,
    // and the true join count for contrast — one row
    "stats_join_estimate" ->
      """WITH a AS (
        |  SELECT count(*) AS n_a,
        |         (WITH h AS (SELECT DISTINCT CAST(concat('0x', substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 11)) AS BIGINT) AS h
        |                     FROM lineitem WHERE l_orderkey IS NOT NULL),
        |               r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h)
        |          SELECT CAST(CASE WHEN count(*) < 256 THEN count(*)
        |                           ELSE (255 * 17592186044416) // max(h) END AS BIGINT)
        |          FROM r WHERE rn <= 256) AS ndv_a
        |  FROM lineitem WHERE l_orderkey IS NOT NULL),
        |b AS (
        |  SELECT count(*) AS n_b,
        |         (WITH h AS (SELECT DISTINCT CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 11)) AS BIGINT) AS h
        |                     FROM orders WHERE o_orderkey IS NOT NULL),
        |               r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h)
        |          SELECT CAST(CASE WHEN count(*) < 256 THEN count(*)
        |                           ELSE (255 * 17592186044416) // max(h) END AS BIGINT)
        |          FROM r WHERE rn <= 256) AS ndv_b
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        |t AS (SELECT count(*) AS true_rows
        |      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       ndv_a, ndv_b,
        |       CAST(CASE WHEN greatest(ndv_a, ndv_b) = 0 THEN 0
        |                 ELSE (n_a * n_b) // greatest(ndv_a, ndv_b) END AS BIGINT) AS est_rows,
        |       CAST(true_rows AS BIGINT) AS true_rows
        |FROM a, b, t""".stripMargin,
    // the merged-state report is BIT-identical to the one-shot ANALYZE
    // (exact sketch-level merge), so the incremental path shares the
    // full-table oracle verbatim — and so does the stream-maintained
    // state (the KMV UDAF folds micro-batches exactly as it folds
    // partitions)
    "stats_analyze_incremental" -> statsAnalyzeSql,
    "stream_analyze" -> statsAnalyzeSql,
    // constraint report replay: per rule one conditional-sum (or
    // count-minus-distinct) scalar, identical violation semantics
    // incl. null-predicate-counts-as-violation
    "stats_constraints" ->
      """SELECT 'doc_id_not_null' AS rule,
        |       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM documents
        |UNION ALL SELECT 'n_chars_consistent',
        |       CAST(sum(CASE WHEN n_chars IS NULL OR n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |UNION ALL SELECT 'lang_in_domain',
        |       CAST(sum(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |UNION ALL SELECT 'text_min_100_chars',
        |       CAST(sum(CASE WHEN text IS NULL OR length(text) < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |UNION ALL SELECT 'doc_id_unique',
        |       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
        |FROM documents
        |UNION ALL SELECT 'lang_source_unique',
        |       CAST(count(*) - count(DISTINCT (lang, source)) AS BIGINT)
        |FROM documents
        |UNION ALL SELECT 'doc_id_determines_lang',
        |       CAST(count(DISTINCT (doc_id, lang)) - count(DISTINCT doc_id) AS BIGINT)
        |FROM documents
        |UNION ALL SELECT 'lang_determines_source',
        |       CAST(count(DISTINCT (lang, source)) - count(DISTINCT lang) AS BIGINT)
        |FROM documents
        |ORDER BY rule""".stripMargin,
    // same injection, same regexes (RE2 and Java agree on this
    // subset), 'g'-flagged replaces ≙ Spark's replace-all default
    "privacy_redact_pii" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0
        |              THEN text || ' contact user' || doc_id || '@example.com from 10.' || (doc_id % 256) || '.0.1'
        |              ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |       CAST(len(regexp_extract_all(text, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip,
        |       md5(regexp_replace(regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g')) AS redacted_md5
        |FROM inj
        |ORDER BY doc_id""".stripMargin,
    // k-anonymity/l-diversity replay: one grouped count +
    // count-distinct per equivalence class, boolean gates inline
    "privacy_k_anon" ->
      """SELECT c_mktsegment, c_nationkey,
        |       count(*) AS n_rows,
        |       CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sensitive,
        |       count(*) >= 10 AS k_anonymous,
        |       count(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) >= 2 AS l_diverse
        |FROM customer
        |GROUP BY c_mktsegment, c_nationkey
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    // DP release replay: grouped counts + the seeded geometric noise —
    // md5 slices, exact integer clog2 via bin() length, two-sided
    // difference. Determinism is the oracle contract; see the operator
    // scaladoc for the production fresh-randomness swap
    "privacy_dp_counts" ->
      """WITH g AS (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS n,
        |         md5(concat_ws('|', 'graft-dp-v1',
        |               concat(CAST(length(c_mktsegment) AS VARCHAR), ':',
        |                      c_mktsegment),
        |               concat(CAST(length(CAST(c_nationkey AS VARCHAR)) AS VARCHAR),
        |                      ':', CAST(c_nationkey AS VARCHAR)))) AS hx
        |  FROM customer GROUP BY c_mktsegment, c_nationkey),
        |m AS (
        |  SELECT c_mktsegment, c_nationkey, n,
        |         CAST(concat('0x', substring(hx, 1, 8)) AS BIGINT) AS u1,
        |         CAST(concat('0x', substring(hx, 9, 8)) AS BIGINT) AS u2
        |  FROM g)
        |SELECT c_mktsegment, c_nationkey,
        |       CAST(n + (CASE WHEN u2 <= 0 THEN 0 ELSE length(bin(u2)) END)
        |              - (CASE WHEN u1 <= 0 THEN 0 ELSE length(bin(u1)) END) AS BIGINT) AS dp_count
        |FROM m
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    // suppression replay: the semi-join against the passing classes
    "privacy_suppress" ->
      """WITH ok AS (
        |  SELECT c_mktsegment, c_nationkey
        |  FROM customer
        |  GROUP BY c_mktsegment, c_nationkey
        |  HAVING count(*) >= 10
        |     AND count(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) >= 2)
        |SELECT c.c_custkey, c.c_mktsegment, c.c_nationkey
        |FROM customer c JOIN ok USING (c_mktsegment, c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    // the streaming gate carries the row rules only (exact uniqueness
    // is corpus-wide — a batch/compaction check, not ingest-time)
    "stream_constraints" ->
      """SELECT 'doc_id_not_null' AS rule,
        |       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM documents
        |UNION ALL SELECT 'n_chars_consistent',
        |       CAST(sum(CASE WHEN n_chars IS NULL OR n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |UNION ALL SELECT 'lang_in_domain',
        |       CAST(sum(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |UNION ALL SELECT 'text_min_100_chars',
        |       CAST(sum(CASE WHEN text IS NULL OR length(text) < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |ORDER BY rule""".stripMargin,
    // half-life trending replay: hourly counts, integer shift decay
    // from the corpus's last bucket, global top-20
    "events_decayed_topk" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS b, user_id, count(*) AS n
        |  FROM events GROUP BY b, user_id),
        |r AS (SELECT date_trunc('hour', max(ts)) AS ref FROM events),
        |s AS (
        |  SELECT user_id,
        |         CAST(sum(n >> CAST(LEAST(date_diff('hour', b, ref) // 24, 62) AS INTEGER)) AS BIGINT) AS score
        |  FROM c, r GROUP BY user_id),
        |t AS (
        |  SELECT user_id, score,
        |         CAST(row_number() OVER (ORDER BY score DESC, user_id) AS BIGINT) AS rn
        |  FROM s)
        |SELECT user_id, score, rn FROM t WHERE rn <= 20
        |ORDER BY rn""".stripMargin,
    "events_gapfill" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS b, event_type, count(*) AS n
        |  FROM events GROUP BY b, event_type),
        |sp AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('hour', min(ts)) FROM events),
        |    (SELECT date_trunc('hour', max(ts)) FROM events),
        |    INTERVAL 1 HOUR)) AS b),
        |k AS (SELECT DISTINCT event_type FROM events)
        |SELECT strftime(sp.b, '%Y-%m-%d %H:%M:%S') AS hour_ts, k.event_type,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM sp CROSS JOIN k
        |LEFT JOIN c ON c.b = sp.b AND c.event_type = k.event_type
        |ORDER BY hour_ts, k.event_type""".stripMargin,
    // trailing-24h anomaly flags over the dense grid: the gap-fill
    // CTEs plus one trailing window, the identical integer threshold
    "events_anomaly" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS b, event_type, count(*) AS n
        |  FROM events GROUP BY b, event_type),
        |sp AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('hour', min(ts)) FROM events),
        |    (SELECT date_trunc('hour', max(ts)) FROM events),
        |    INTERVAL 1 HOUR)) AS b),
        |k AS (SELECT DISTINCT event_type FROM events),
        |dense AS (
        |  SELECT sp.b, k.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |  FROM sp CROSS JOIN k
        |  LEFT JOIN c ON c.b = sp.b AND c.event_type = k.event_type),
        |w AS (
        |  SELECT b, event_type, n,
        |         coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY b
        |           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS base_n,
        |         count(*) OVER (PARTITION BY event_type ORDER BY b
        |           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS base_rows
        |  FROM dense)
        |SELECT strftime(b, '%Y-%m-%d %H:%M:%S') AS hour_ts, event_type, n,
        |       CAST(base_n AS BIGINT) AS base_n,
        |       CAST(CASE WHEN base_rows = 24 AND n * 100 * 24 > 300 * base_n
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_anom
        |FROM w ORDER BY hour_ts, event_type""".stripMargin,
    // per-key OLS replay over the dense grid: the gap-fill CTEs, hour
    // offsets from the spine min, HUGEINT sufficient statistics and
    // the identical single floor division
    "events_trend" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS b, event_type, count(*) AS n
        |  FROM events GROUP BY b, event_type),
        |sp AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('hour', min(ts)) FROM events),
        |    (SELECT date_trunc('hour', max(ts)) FROM events),
        |    INTERVAL 1 HOUR)) AS b),
        |k AS (SELECT DISTINCT event_type FROM events),
        |dense AS (
        |  SELECT sp.b, k.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |  FROM sp CROSS JOIN k
        |  LEFT JOIN c ON c.b = sp.b AND c.event_type = k.event_type),
        |xy AS (
        |  SELECT event_type,
        |         CAST(date_diff('hour', (SELECT min(b) FROM sp), b) AS HUGEINT) AS x,
        |         CAST(n AS HUGEINT) AS y
        |  FROM dense),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS nb,
        |         sum(x) AS sx, sum(y) AS sy,
        |         sum(x*x) AS sxx, sum(x*y) AS sxy
        |  FROM xy GROUP BY event_type)
        |SELECT event_type, CAST(nb AS BIGINT) AS n_buckets,
        |       CAST(CASE WHEN nb * sxx - sx * sx = 0 THEN NULL
        |            ELSE ((nb * sxy - sx * sy) * 1000000)
        |                 // (nb * sxx - sx * sx) END AS BIGINT) AS slope_micro,
        |       CAST((sy * 1000) // nb AS BIGINT) AS mean_milli
        |FROM st ORDER BY event_type""".stripMargin,
    // session walk transitions: the sessionize CTEs, then each row
    // contributes (prev|_start → cur) and the session tail adds
    // (cur → _end) — same gap law, same (sec, event_id) order
    "events_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
        |         OR lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, event_id, event_type, sec,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged),
        |linked AS (
        |  SELECT event_type AS cur,
        |    lag(event_type) OVER (PARTITION BY user_id, session_id
        |                          ORDER BY sec, event_id) AS prev,
        |    lead(event_type) OVER (PARTITION BY user_id, session_id
        |                           ORDER BY sec, event_id) AS nxt
        |  FROM sessions),
        |trans AS (
        |  SELECT coalesce(prev, '_start') AS src_type, cur AS dst_type
        |  FROM linked
        |  UNION ALL
        |  SELECT cur, '_end' FROM linked WHERE nxt IS NULL)
        |SELECT src_type, dst_type, count(*) AS n
        |FROM trans GROUP BY src_type, dst_type
        |ORDER BY src_type, dst_type""".stripMargin,
    // disorder replay: per-key running max over arrival order, lag
    // bit-length buckets, ≤64-row rollup
    "events_disorder" ->
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(concat('0x', substring(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS arrival,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |lagd AS (
        |  SELECT greatest(coalesce(max(sec) OVER (PARTITION BY user_id ORDER BY arrival, sec
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - sec, 0), 0) AS lag_sec
        |  FROM e),
        |bk AS (
        |  SELECT CASE WHEN lag_sec = 0 THEN -1
        |              ELSE length(bin(lag_sec)) - 1 END AS bucket, lag_sec
        |  FROM lagd)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
        |       CAST(max(lag_sec) AS BIGINT) AS max_lag_sec
        |FROM bk GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    // concurrency replay: the q29 sessionize CTEs, half-open endpoint
    // rows, ONE global running sum over the total endpoint order, and
    // the per-hour peak as max(greatest(after, before)) — before =
    // after - d reads the level a bucket inherited when it only falls
    "events_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
        |         OR lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, sec,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, sid, min(sec) AS t0, max(sec) + 1 AS t1
        |  FROM sessions GROUP BY user_id, sid),
        |pts AS (
        |  SELECT user_id, sid, t0 AS t, CAST(1 AS BIGINT) AS d FROM sess
        |  UNION ALL
        |  SELECT user_id, sid, t1, CAST(-1 AS BIGINT) FROM sess),
        |run AS (
        |  SELECT t, d,
        |    sum(d) OVER (ORDER BY t, d, user_id, sid ROWS UNBOUNDED PRECEDING) AS s
        |  FROM pts)
        |SELECT strftime(make_timestamp(((t // 3600) * 3600) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |       CAST(max(greatest(s, s - d)) AS BIGINT) AS max_conc,
        |       CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
        |       CAST(sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends
        |FROM run GROUP BY hour_ts
        |ORDER BY hour_ts""".stripMargin,
    // pattern replay: same per-user encoded sequence (string_agg over
    // the identical total order), same regex — Java and RE2 agree on
    // the restricted alphabet patternFunnels enforces
    "events_pattern" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
        |              WHEN 'error' THEN 'e' ELSE '#' END AS ch
        |  FROM events),
        |seqs AS (
        |  SELECT user_id, string_agg(ch, '' ORDER BY sec, event_id) AS seq,
        |         count(*) AS n_events
        |  FROM e GROUP BY user_id)
        |SELECT user_id,
        |       CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_matches,
        |       CAST(n_events AS BIGINT) AS n_events
        |FROM seqs
        |WHERE len(regexp_extract_all(seq, 'vc*p')) > 0
        |ORDER BY user_id""".stripMargin,
    // RFM replay: per-user triple, broadcast bounds, min-max kilo-
    // buckets, three strictly-below histogram windows, integer
    // population quintiles, segment rollup
    "events_rfm" ->
      """WITH per AS (
        |  SELECT user_id, max(CAST(floor(epoch(ts)) AS BIGINT)) AS r_sec,
        |         count(*) AS fq,
        |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
        |  FROM events GROUP BY user_id),
        |b AS (SELECT min(r_sec) AS rmin, max(r_sec) AS rmax,
        |             min(fq) AS fmin, max(fq) AS fmax,
        |             min(m_cents) AS mmin, max(m_cents) AS mmax,
        |             count(*) AS nu FROM per),
        |bk AS (SELECT user_id, m_cents,
        |         ((r_sec - rmin) * 1000) // (rmax - rmin + 1) AS br,
        |         ((fq - fmin) * 1000) // (fmax - fmin + 1) AS bf,
        |         ((m_cents - mmin) * 1000) // (mmax - mmin + 1) AS bm
        |       FROM per, b),
        |hr AS (SELECT br, count(*) AS c FROM bk GROUP BY br),
        |qr AS (SELECT br, (coalesce(sum(c) OVER (ORDER BY br
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5)
        |         // (SELECT nu FROM b) AS q FROM hr),
        |hf AS (SELECT bf, count(*) AS c FROM bk GROUP BY bf),
        |qf AS (SELECT bf, (coalesce(sum(c) OVER (ORDER BY bf
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5)
        |         // (SELECT nu FROM b) AS q FROM hf),
        |hm AS (SELECT bm, count(*) AS c FROM bk GROUP BY bm),
        |qm AS (SELECT bm, (coalesce(sum(c) OVER (ORDER BY bm
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5)
        |         // (SELECT nu FROM b) AS q FROM hm),
        |seg AS (
        |  SELECT bk.user_id, qr.q * 100 + qf.q * 10 + qm.q AS segment, bk.m_cents
        |  FROM bk JOIN qr USING (br) JOIN qf USING (bf) JOIN qm USING (bm))
        |SELECT CAST(segment AS BIGINT) AS segment,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(m_cents) AS BIGINT) AS total_cents
        |FROM seg GROUP BY segment
        |ORDER BY segment""".stripMargin,
    // first-touch attribution replay: the sessionize CTEs, each
    // session's first event type by the same (sec, event_id) order,
    // conversions rolled up by that entry type
    "events_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
        |         OR lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, event_id, event_type, sec,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged),
        |ft AS (
        |  SELECT user_id, event_type,
        |    first_value(event_type) OVER (PARTITION BY user_id, session_id
        |      ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch
        |  FROM sessions)
        |SELECT first_touch AS first_touch_type,
        |       CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM ft WHERE event_type = 'purchase'
        |GROUP BY first_touch
        |ORDER BY first_touch_type""".stripMargin,
    "stream_topk_users" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS hr, user_id, count(*) AS n
        |  FROM events GROUP BY hr, user_id),
        |r AS (
        |  SELECT hr, user_id, n,
        |         CAST(row_number() OVER (PARTITION BY hr ORDER BY n DESC, user_id) AS BIGINT) AS rn
        |  FROM c)
        |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts, user_id,
        |       CAST(n AS BIGINT) AS n, rn
        |FROM r WHERE rn <= 3
        |ORDER BY hour_ts, rn""".stripMargin,
    "skew_salted_join" ->
      """WITH ut AS (SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(ut.user_total) AS BIGINT) AS sum_user_total
        |FROM events e JOIN ut USING (user_id)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "stream_distinct_sketch" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr,
        |         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 11)) AS BIGINT) AS h
        |  FROM events),
        |d AS (SELECT DISTINCT hr, h FROM h),
        |r AS (SELECT hr, h, row_number() OVER (PARTITION BY hr ORDER BY h) AS rn FROM d),
        |agg AS (
        |  SELECT hr, CAST(max(h) AS BIGINT) AS kth_min, count(*) AS sz
        |  FROM r WHERE rn <= 256 GROUP BY hr)
        |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts, kth_min,
        |       CAST(CASE WHEN sz < 256 THEN sz
        |                 ELSE (255 * 17592186044416) // kth_min END AS BIGINT) AS est
        |FROM agg
        |ORDER BY hour_ts""".stripMargin,
    "stream_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts, event_type,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY hour_ts, event_type
        |ORDER BY hour_ts, event_type""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len($tokSql) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9_]+|[^a-z0-9_\\s]')) AS BIGINT) AS n_pieces
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH f AS (
         |  SELECT doc_id, $tokSql AS tk, text FROM documents)
         |SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE len(list_filter(tk, x -> list_contains(['the','a','an','of','to','and','in','is','it','for','on','with'], x)))*1.0 / len(tk) END AS stop_ratio,
         |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE list_sum(list_transform(tk, x -> length(x)))*1.0 / len(tk) END AS mean_tok_len
         |FROM f
         |ORDER BY doc_id""".stripMargin,
    // composite quality score: every term is deterministic IEEE double
    // arithmetic on integer counts, so the sum is bit-identical across
    // engines (same operands, same association order)
    "text_qscore" ->
      s"""WITH f AS (SELECT doc_id, $tokSql AS tk, text FROM documents)
         |SELECT doc_id,
         |  least(len(tk) / 100.0, 1.0) * 0.5
         |  + (CASE WHEN len(tk) = 0 THEN 0.0 ELSE len(list_filter(tk, x -> list_contains(['the','a','an','of','to','and','in','is','it','for','on','with'], x)))*1.0 / len(tk) END) * 0.3
         |  + (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[[:punct:]]'))*1.0 / length(text) END) * 0.2 AS qscore
         |FROM f
         |ORDER BY doc_id""".stripMargin,
    // Pareto-frontier replay: the same qscore expression micro-quantized
    // to a BIGINT level, per-level max length, the strict running-max
    // window over levels (higher-x levels only), and the level join-back
    "docs_pareto" ->
      s"""WITH f AS (SELECT doc_id, $tokSql AS tk, text, n_chars FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    CAST(round((least(len(tk) / 100.0, 1.0) * 0.5
         |      + (CASE WHEN len(tk) = 0 THEN 0.0 ELSE len(list_filter(tk, x -> list_contains(['the','a','an','of','to','and','in','is','it','for','on','with'], x)))*1.0 / len(tk) END) * 0.3
         |      + (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[[:punct:]]'))*1.0 / length(text) END) * 0.2) * 1000000) AS BIGINT) AS qscore_micro,
         |    CAST(n_chars AS BIGINT) AS n_chars
         |  FROM f),
         |lv AS (SELECT qscore_micro, max(n_chars) AS maxy FROM q GROUP BY qscore_micro),
         |pr AS (
         |  SELECT qscore_micro, maxy,
         |         max(maxy) OVER (ORDER BY qscore_micro DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
         |  FROM lv),
         |keep AS (SELECT qscore_micro, maxy FROM pr WHERE hi IS NULL OR maxy > hi)
         |SELECT q.doc_id, q.qscore_micro, q.n_chars
         |FROM q JOIN keep k ON k.qscore_micro = q.qscore_micro AND q.n_chars = k.maxy
         |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH f AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |s AS (SELECT doc_id, $langScoreSql FROM f)
         |SELECT doc_id, $langCaseSql AS pred_lang
         |FROM s
         |ORDER BY doc_id""".stripMargin,
    // classifier-QA confusion matrix: labeled lang × the same langid
    // prediction, ≤ |langs|² cells
    "text_langid_confusion" ->
      s"""WITH f AS (SELECT doc_id, lang, $tokSql AS tk FROM documents),
         |s AS (SELECT doc_id, lang, $langScoreSql FROM f),
         |p AS (SELECT lang, $langCaseSql AS pred_lang FROM s)
         |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY lang, pred_lang
         |ORDER BY lang, pred_lang""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH f AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |wh AS (SELECT doc_id, unnest(tk) AS w FROM f),
         |h AS (SELECT doc_id, CAST(concat('0x', substring(md5(w),1,15)) AS BIGINT) AS h FROM wh),
         |bits AS (
         |  SELECT doc_id, bb.b AS b,
         |         sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS score
         |  FROM h, (SELECT unnest(range(0,60)) AS b) bb
         |  GROUP BY doc_id, bb.b),
         |sh AS (SELECT doc_id, CAST(sum(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sh
         |       FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // locality-order replay: the same simhash recompute, token-less
    // docs coalesced to fingerprint 0, dense row_number over (sh, id)
    "corpus_order_locality" ->
      s"""WITH f AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |wh AS (SELECT doc_id, unnest(tk) AS w FROM f),
         |h AS (SELECT doc_id, CAST(concat('0x', substring(md5(w),1,15)) AS BIGINT) AS h FROM wh),
         |bits AS (
         |  SELECT doc_id, bb.b AS b,
         |         sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS score
         |  FROM h, (SELECT unnest(range(0,60)) AS b) bb
         |  GROUP BY doc_id, bb.b),
         |sh0 AS (SELECT doc_id, CAST(sum(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sh
         |        FROM bits GROUP BY doc_id),
         |sh AS (SELECT d.doc_id, coalesce(s.sh, 0) AS sh
         |       FROM documents d LEFT JOIN sh0 s USING (doc_id))
         |SELECT doc_id, sh,
         |       CAST(row_number() OVER (ORDER BY sh, doc_id) AS BIGINT) AS ord
         |FROM sh ORDER BY doc_id""".stripMargin,
    "text_tfidf_top3" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(string_split(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), ' '), x -> x <> ''))) AS word
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, w AS word, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), ' '), x -> x <> '')) AS w
        |    FROM documents) raw
        |  GROUP BY doc_id, w),
        |df AS (SELECT word, count(*) AS df FROM words GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word,
        |         CAST(floor(tf.tf * 1000000.0 / df.df) AS BIGINT) AS score
        |  FROM tf JOIN df USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, word, score,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS BIGINT) AS rn
        |  FROM scored)
        |SELECT doc_id, word, score, rn FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,
    // BM25-shaped retrieval rebuilt from scratch: same bin()-derived
    // integer idf, same per-mille saturation/length-norm floor
    // arithmetic, same (score DESC, id) cut — generated from the same
    // constants as the engine so the two can never silently desync
    "search_bm25" ->
      Search.bm25OracleSql(tokSql, Search.defaultTerms, Search.defaultK),
    // N queries in one corpus pass: VALUES query relation, term-
    // restricted postings, per-(qid, doc) score agg — same integer
    // idf/saturation arithmetic as the single-query replay
    "search_batch_bm25" ->
      Search.batchBm25OracleSql(tokSql, Search.defaultBatch, Search.defaultK),
    // retrieval-quality gate: the batch ranking + conjunctive-
    // containment relevance + integer reciprocal rank
    "search_eval_mrr" ->
      Search.mrrOracleSql(tokSql, Search.defaultBatch, Search.defaultK),
    // phrase occurrences rebuilt from scratch: consecutive-window
    // string equality over the same tokenizer's gram stream
    "search_phrase" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |g AS (
         |  SELECT doc_id, list_aggr(tk[i : i + 2], 'string_agg', ' ') AS gram
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
         |        FROM toks WHERE len(tk) >= 3) s),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_hits FROM g
         |  WHERE gram = '${Search.defaultPhrase.mkString(" ")}'
         |  GROUP BY doc_id)
         |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits
         |FROM hits
         |ORDER BY n_hits DESC, doc_id LIMIT ${Search.defaultK}""".stripMargin,
    // the persisted-index serving path must equal the scan path
    // bit-for-bit, so it shares the scan form's oracle — the artifact
    // round trip is what the query adds
    "search_index_bm25" ->
      Search.bm25OracleSql(tokSql, Search.defaultTerms, Search.defaultK),
    // incremental update must reconstruct the full-corpus index
    // exactly — same oracle again
    "search_index_update" ->
      Search.bm25OracleSql(tokSql, Search.defaultTerms, Search.defaultK),
    // purge must equal a rebuild on the RETAINED corpus: the oracle is
    // the scan replay over that slice — deleted docs out of the
    // ranking AND out of every corpus statistic (df, N, Σdl), so a
    // stale idf or length norm hash-mismatches even when the deleted
    // docs weren't in the top-k
    "privacy_purge_text" ->
      Search.bm25OracleSql(tokSql, Search.defaultTerms, Search.defaultK,
        fromSql = "(SELECT * FROM documents WHERE doc_id % 37 <> 3)"),
    // the streaming twin drains TWO delete batches; per-batch purges
    // compose (independent per-document subtractions), so the oracle
    // is the rebuild replay on the corpus minus their union
    "stream_index_purge" ->
      Search.bm25OracleSql(tokSql, Search.defaultTerms, Search.defaultK,
        fromSql =
          "(SELECT * FROM documents WHERE doc_id % 37 <> 3 AND doc_id % 37 <> 5)"),
    // temperature mixture rebuilt from scratch: per-source counts,
    // scaled-integer sqrt weights, floor-division rates, md5 threshold
    "corpus_mix_temperature" ->
      Sampling.temperatureMixtureOracleSql("source", Sampling.defaultMixBudget),
    // the capstone chain, stage CTEs composed verbatim from the
    // individual oracles: holdout → langid+quality → keep-first dedup
    // → 5-gram decon → temperature mixture → split law → prefix-sum
    // packing → shard law — every stage's integer/double arithmetic
    // identical to its standalone query's oracle
    "corpus_pipeline" ->
      s"""WITH f AS (
         |  SELECT doc_id, source, $tokSql AS tk, text
         |  FROM documents WHERE doc_id % 7 <> 0),
         |s AS (SELECT doc_id, source, tk, text, $langScoreSql FROM f),
         |lq AS (
         |  SELECT doc_id, source, tk, text,
         |         CAST(len(tk) AS BIGINT) AS n_tokens,
         |         $langCaseSql AS lang,
         |         least(len(tk) / 100.0, 1.0) * 0.5
         |         + (CASE WHEN len(tk) = 0 THEN 0.0 ELSE len(list_filter(tk, x -> list_contains([$stopwordsSql], x)))*1.0 / len(tk) END) * 0.3
         |         + (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[[:punct:]]'))*1.0 / length(text) END) * 0.2 AS qscore
         |  FROM s),
         |kept AS (
         |  SELECT doc_id, source, tk, text, n_tokens FROM lq
         |  WHERE lang = 'en' AND qscore >= 0.5),
         |dd AS (
         |  SELECT doc_id, source, tk, n_tokens FROM (
         |    SELECT doc_id, source, tk, n_tokens,
         |           row_number() OVER (
         |             PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g')))
         |             ORDER BY doc_id) AS rn
         |    FROM kept) z
         |  WHERE rn = 1),
         |bh AS (
         |  SELECT DISTINCT CAST(concat('0x', substring(md5(g), 1, 11)) AS BIGINT) AS h
         |  FROM (
         |    SELECT unnest([array_to_string(tk[i:i+4], ' ') FOR i IN range(1, len(tk) - 3)]) AS g
         |    FROM (SELECT $tokSql AS tk FROM documents WHERE doc_id % 7 = 0) bt
         |    WHERE len(tk) >= 5) bg),
         |dirty AS (
         |  SELECT DISTINCT cg.doc_id
         |  FROM (
         |    SELECT doc_id, CAST(concat('0x', substring(md5(g), 1, 11)) AS BIGINT) AS h
         |    FROM (
         |      SELECT doc_id, unnest([array_to_string(tk[i:i+4], ' ') FOR i IN range(1, len(tk) - 3)]) AS g
         |      FROM dd WHERE len(tk) >= 5) cgrams) cg
         |  JOIN bh USING (h)),
         |clean AS (
         |  SELECT doc_id, source, n_tokens FROM dd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         |counts AS (
         |  SELECT source, count(*) AS n_grp,
         |         CAST(floor(sqrt(count(*) * 1000000)) AS BIGINT) AS w
         |  FROM clean GROUP BY source),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sum_w FROM counts),
         |rates AS (
         |  SELECT source,
         |         least(1000, CAST((1000 * ${Sampling.defaultPipelineBudget} * w) // (sum_w * n_grp) AS BIGINT)) AS rate
         |  FROM counts, tot),
         |hashed AS (
         |  SELECT c.doc_id, c.source, c.n_tokens, r.rate,
         |         CAST(concat('0x', substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
         |  FROM clean c JOIN rates r USING (source)),
         |train AS (
         |  SELECT doc_id, source, n_tokens FROM hashed
         |  WHERE hh % 1000 < rate AND hh % 100 < 80),
         |ps AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(coalesce(sum(n_tokens) OVER (
         |           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
         |  FROM train)
         |SELECT doc_id, source, n_tokens,
         |       start // 256 AS pack_id,
         |       start % 256 AS pack_offset,
         |       (start // 256) % 16 AS shard
         |FROM ps
         |ORDER BY doc_id""".stripMargin,
    // priority sample rebuilt from scratch: same md5 uniform, same
    // integer floor division, same (priority, id) order
    "sample_weighted" ->
      Sampling.prioritySampleOracleSql("n_chars", Sampling.defaultPriorityK),
    // epoch schedule rebuilt from scratch: per-source token sums,
    // sqrt-temperature allocation, capped milli-epoch repeat factors
    "corpus_epochs" ->
      Sampling.epochScheduleOracleSql("source", "n_chars", Sampling.defaultEpochBudget),
    // DoReMi-step replay: per-domain mean loss, corpus-mean excess,
    // clamped multiplicative update, permille renormalization — the
    // shipped eta=5000 makes the +/-500 clamp BIND on both tails at
    // the gate SF (excess range [-148, 132])
    "corpus_mix_reweight" ->
      Sampling.mixtureReweightOracleSql("source",
        "CASE WHEN n_chars < 400 THEN 1000 ELSE 0 END", etaPermille = 5000L)
  )

  /** `corpus_pipeline`'s stage chain through the hash split — exposed
    * for the plan-guard spec (PipelineSpec audits the raw uncached DAG
    * for its exchange budget). Stages: benchmark holdout → tokenize-
    * once langid + quality gate (broadcast-policy pushdown barrier) →
    * exact keep-first dedup (bounded-heap TopKPerKey) → 5-gram
    * decontamination (bench hashes broadcast, survivors anti-join) →
    * √n temperature mixture (O(sources) rates broadcast back) → md5
    * hash split (map-only). `cache` = cache the deduped survivors, the
    * one relation every downstream consumer (decon screen, mixture
    * sizing, packing passes) re-reads. */
  private[graft] def pipelineTrain(
      s: SparkSession, dir: String, cache: Boolean): DataFrame =
    pipelineTrainDocs(s, t(s, dir, "documents"), cache)

  /** [[pipelineTrain]] over an explicit documents relation (BenchScale
    * feeds the ×f-inflated corpus through here). `nearDupGeometry`
    * switches the dedup stage from exact keep-first to MinHash-LSH
    * near-dup keep-first — exact-verified pairs → component labels →
    * drop every member above its cluster's min doc_id: `Some((0, 0))`
    * uses the count-derived adaptive geometry, `Some((numPerms,
    * bands))` PINS the production geometry (the per-epoch override on
    * `Dedup.nearDupPairs`), so the capstone can model the production
    * cost profile instead of the constant-recall adaptive schedule. */
  private[graft] def pipelineTrainDocs(
      s: SparkSession, docs: DataFrame, cache: Boolean,
      nearDupGeometry: Option[(Int, Int)] = None,
      policyRows: Seq[(String, Double)] = Seq(("en", 0.5)),
      budget: Long = Sampling.defaultPipelineBudget): DataFrame = {
    import s.implicits._
    val bench = docs.where(col("doc_id") % 7 === 0)
    val corpus = docs.where(col("doc_id") % 7 =!= 0)
    val policy = policyRows.toDF("lang", "min_qscore")
    val kept = corpus
      .select(col("doc_id"), col("source"), col("text"),
        TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("source"), col("text"),
        TextAnalysis.langIdFromTokens(col("tk")).as("lang"),
        size(col("tk")).cast("long").as("n_tokens"),
        TextAnalysis.qualityScoreFromTokens(col("text"), col("tk")).as("qscore"))
      .join(broadcast(policy), Seq("lang"))
      .where(col("qscore") >= col("min_qscore"))
      .select("doc_id", "source", "text", "n_tokens")
    // lifecycle: Verify/Bench clear the session cache per query (the
    // dupNgramStats multi-consumer rule). Two cache points: the deduped
    // survivors (re-read by the decon screen, the mixture sizing agg,
    // and the packing passes) and the decontaminated corpus (re-read by
    // the mixture's rate/apply sides) — in a persisted deployment these
    // are exactly the two relations a pipeline would materialize
    // between macro-stages.
    val scope = new graft.util.CacheScope
    def c(df: DataFrame): DataFrame = if (cache) scope.cache(df) else df
    val deduped = c(nearDupGeometry match {
      case None => Dedup.exactKeepFirst(kept, "text", "doc_id")
      case Some((p, b)) =>
        // cache the gated corpus: the near-dup stage reads it three
        // ways (shingle projection, adaptive sizing count, survivor
        // anti-join) and each uncached read re-executes the whole
        // tokenize+langid+quality chain — measured as ~2× the stage
        // cost at 1× when the adaptive schedule's count paid it
        val keptC = c(kept)
        val pairs = Dedup.nearDupPairs(keptC, "doc_id", "text",
          shingleN = 3, numPerms = p, bands = b, threshold = 0.6,
          scope = scope)
        val drop = Dedup.connectedComponents(pairs, "id_a", "id_b")
          .where(col("id") =!= col("cluster_id"))
          .select(col("id").as("doc_id"))
        keptC.join(drop, Seq("doc_id"), "left_anti")
    })
    val dirty = TextAnalysis.contaminationScreen(
        deduped, bench, "doc_id", "text", n = 5)
      .select("doc_id")
    val clean = c(deduped
      .join(broadcast(dirty), Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "n_tokens"))
    Sampling.temperatureMixture(clean, "doc_id", "source", budget, scope)
      .where(pmod(Sampling.md5Hash(col("doc_id")), lit(100L)) < 80)
      .select("doc_id", "source", "n_tokens")
  }

  /** [[pipelineTrain]] + 256-token sequence packing (distributed
    * prefix sum in doc order) + the round-robin shard law. */
  private[graft] def pipelinePacked(
      s: SparkSession, dir: String, cache: Boolean): DataFrame =
    pipelinePackedDocs(s, t(s, dir, "documents"), cache)

  private[graft] def pipelinePackedDocs(
      s: SparkSession, docs: DataFrame, cache: Boolean,
      nearDupGeometry: Option[(Int, Int)] = None,
      policyRows: Seq[(String, Double)] = Seq(("en", 0.5)),
      budget: Long = Sampling.defaultPipelineBudget): DataFrame =
    graft.ops.GlobalSort.globalPrefixSum(
        pipelineTrainDocs(s, docs, cache, nearDupGeometry, policyRows, budget),
        Seq(col("doc_id").asc), "n_tokens",
        parts = s.conf.get("spark.sql.shuffle.partitions").toInt,
        cumCol = "start")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr("start div 256").as("pack_id"),
        expr("start % 256").as("pack_offset"))
      .withColumn("shard", pmod(col("pack_id"), lit(16L)))

  val plans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_merges" -> { (s, dir) =>
      // the trained merge table as a relation: training is one
      // wordcount agg + a bounded TakeOrdered (driver state =
      // vocabulary metadata, the bloom-bitmap budget), the greedy loop
      // runs on that table in microseconds
      import s.implicits._
      ext.Bpe.trainMerges(t(s, dir, "documents"), "text")
        .zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("merge_rank", "lhs", "rhs")
        .orderBy("merge_rank")
    },
    "text_tokens_bpe" -> { (s, dir) =>
      // corpus-trained BPE piece counts: the real-tokenizer upgrade of
      // text_tokens' regex heuristic — segmentation runs once per
      // DISTINCT word, occurrences pay one vocabulary-keyed hash join
      val docs = t(s, dir, "documents")
      ext.Bpe.tokenCounts(docs, "doc_id", "text",
          ext.Bpe.trainMerges(docs, "text"))
        .orderBy("doc_id")
    },
    "bpe_coverage" -> { (s, dir) =>
      // per-source tokenizer efficiency: fertility (pieces/word) and
      // compression (chars/piece) of the trained merge table — the
      // report that flags a domain the vocabulary under-serves; same
      // distinct-word segmentation, one per-source agg on top
      val docs = t(s, dir, "documents")
      ext.Bpe.coverageBySource(docs, "text", "source",
          ext.Bpe.trainMerges(docs, "text"))
        .orderBy("source")
    },
    "corpus_chunks_bpe" -> { (s, dir) =>
      // context windows measured in trained BPE pieces (the budget a
      // model actually has), not whitespace tokens: per-distinct-word
      // segmentation, one ordered doc-keyed reassembly, map-only
      // chunk slicing
      val docs = t(s, dir, "documents")
      ext.Bpe.pieceChunks(docs, "doc_id", "text",
          ext.Bpe.trainMerges(docs, "text"))
        .orderBy("doc_id", "chunk_id")
    },
    "dedup_exact" -> { (s, dir) =>
      // exact dedup = hash-groupBy on a stable fingerprint; the summary
      // row keeps the oracle O(n)
      t(s, dir, "documents")
        .agg(
          count(lit(1)).as("n_total"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique"))
    },
    "dedup_neardup_pairs" -> { (s, dir) =>
      Dedup.nearDupPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, threshold = 0.6)
        .orderBy("id_a", "id_b")
    },
    "dedup_pairs_by_source" -> { (s, dir) =>
      // duplication provenance: near-dup pair counts per unordered
      // source pair — mirror-site detection and the within- vs
      // cross-source split; two id-keyed label joins over the ≤|pairs|
      // sliver on top of the shared LSH→verify pipeline, output
      // bounded by |sources|²
      val docs = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.6)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")), "id_b")
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },
    "dedup_clusters" -> { (s, dir) =>
      // MinHash-LSH pairs (exact-verified) → component labels: the full
      // "find duplicates, group them, keep one per group" pipeline
      val pairs = Dedup.nearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.6)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    "dedup_soft_weights" -> { (s, dir) =>
      // soft dedup: cluster-mass-preserving integer sampling weights
      // over the shared LSH→CC pipeline — a k-way duplicated doc
      // samples at 1000/k permille instead of being dropped, so the
      // deduplicated token distribution is preserved in expectation
      // (the data-constrained-training alternative to dedup_canonical)
      Dedup.softDedupWeights(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "dedup_clusters_update" -> { (s, dir) =>
      // incremental cluster maintenance: the 20%-batch / 80%-corpus
      // split of dedup_incremental, but folding the screened pairs all
      // the way into the LABELING — batch self-pairs + cross pairs run
      // CC over a reduced super-node graph (batch ids + touched old
      // component labels), then a sliver-sized remap join updates the
      // old labels; per-ingest cost tracks the batch, never the
      // corpus. The oracle is from-scratch CC over the UNION — the
      // equality IS the algebraic claim
      val docs = t(s, dir, "documents")
      val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      val old = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val oldLabels = Dedup.connectedComponents(
        Dedup.nearDupPairs(old, "doc_id", "text", shingleN = 3, threshold = 0.6),
        "id_a", "id_b")
      Dedup.updateClusters(batch, old, oldLabels, "doc_id", "text")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    "dedup_canonical_best" -> { (s, dir) =>
      // quality-aware canonicalization: each cluster keeps its BEST
      // copy by the integer micro quality score (ties → min id), not
      // the arbitrary min-id member — scoring runs only on the
      // clustered sliver via a semi-join
      Dedup.canonicalBestQuality(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "dedup_canonical" -> { (s, dir) =>
      // keep-first + clustering composed: LSH pairs (exact-verified) →
      // connected components → min-id representative, docs without a
      // near-dup mapping to themselves. Downstream dedup is then
      // `where(doc_id === canonical_id)`.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.6)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      docs.select("doc_id")
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"))
        .orderBy("doc_id")
    },
    "dedup_stats" -> { (s, dir) =>
      // the dedup dashboard number: cluster-size histogram over the
      // canonicalized corpus (singletons = size-1 clusters). Everything
      // heavy is the same LSH→CC pipeline; the report on top is two
      // tiny aggs — sum(sz·n) − count(sz>1 clusters) = docs dedup
      // would drop
      val docs = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.6)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      docs.select("doc_id")
        .join(clusters, Seq("doc_id"), "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cid"))
        .groupBy("cid").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    },
    "dedup_simhash_pairs" -> { (s, dir) =>
      // maxHamming=3 with 4 chunks of 15 bits: pigeonhole guarantees the
      // chunk index misses nothing, so the output is exact (and the
      // oracle recomputes simhash from scratch in SQL)
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
    "corpus_order_locality" -> { (s, dir) =>
      // compression-locality layout: dense total order by (simhash,
      // id), near-dups adjacent — one range shuffle via globalRank,
      // never an Exchange SinglePartition
      Dedup.localityOrder(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "emb_ood_screen" -> { (s, dir) =>
      // outlier triage: the 50 vectors farthest from EVERY trained
      // prototype — O(n·K) broadcast affinity pass + TakeOrdered cut
      Similarity.oodScreen(t(s, dir, "embeddings"), "vec_id", "embedding", k = 50)
        .orderBy("rn")
    },
    "emb_recall_eval" -> { (s, dir) =>
      // index-quality gate: per-probe recall@10 of the IVF serving
      // path vs the exact ranking — sampled probes, two ≤k·probes
      // relations joined
      Similarity.recallEval(t(s, dir, "embeddings"), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)
        .orderBy("probe_id")
    },
    "ann_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      Similarity
        .bruteForceTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 10)
        .select("probe_id", "vec_id", "qdot", "rn")
        .orderBy("probe_id", "rn")
    },
    "ann_sq8_topk" -> { (s, dir) =>
      // scalar-quantization ANN: per-dimension 8-bit codes against
      // corpus (min, max) bounds — the 4×-compressed serving store with
      // affine decode (no codebook); asymmetric midpoint scoring over
      // the codes, exact re-rank of the refine shortlist. Bounds = one
      // posexplode scan to an O(dim) broadcast row; encode and scoring
      // are map-only over the broadcast probes.
      val emb = t(s, dir, "embeddings")
      Similarity
        .sq8TopK(emb, "vec_id", "embedding", col("vec_id") < 10, 10)
        .select("probe_id", "vec_id", "qdot", "rn")
        .orderBy("probe_id", "rn")
    },
    "ann_ivf_sq8_topk" -> { (s, dir) =>
      // the composed big-corpus recipe (FAISS "IVF64,SQ8"): coarse
      // routing bounds the candidate set at probes·nprobe·avg_list,
      // SQ8 compresses the lists 4× with affine decode — flat sq8's
      // O(n·probes) scan becomes O(probes·nprobe·n/K) over the same
      // compressed store
      val emb = t(s, dir, "embeddings")
      Similarity
        .ivfSq8TopK(emb, "vec_id", "embedding", col("vec_id") < 10, 10)
        .select("probe_id", "vec_id", "qdot", "rn")
        .orderBy("probe_id", "rn")
    },
    "emb_neardup_pairs" -> { (s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 450000L)
        .orderBy("id_a", "id_b")
    },
    "emb_hard_negatives" -> { (s, dir) =>
      // contrastive-training negative mining: per probe, the 10 most
      // similar vectors BELOW the near-dup band (qdot < 450000 — the
      // emb_neardup_pairs threshold, so "too similar to be a negative"
      // and "flagged by the dedup screen" are the same band); cap
      // applied before the bounded-heap ranking, never a post-filter
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      Similarity
        .hardNegativesTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 10)
        .select("probe_id", "vec_id", "qdot", "rn")
        .orderBy("probe_id", "rn")
    },
    "text_fingerprint" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
    "text_winnow" -> { (s, dir) =>
      // winnowing fingerprints (MOSS): per-doc selected (pos, hash)
      // set — map-only extraction, oracle replays the packed argmin
      TextAnalysis.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "pos")
    },
    "dedup_winnow_pairs" -> { (s, dir) =>
      // position-aware near-dup: docs sharing ≥ half the smaller
      // side's winnowed fingerprints (df-capped candidate join)
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("a", "b")
    },
    "text_rollhash" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("rh"))
        .orderBy("doc_id")
    },
    "text_entropy" -> { (s, dir) =>
      // byte-histogram concentration (Rényi-2 collision micro-ratio) +
      // distinct byte count: the gibberish/junk signal, one native
      // O(len) codegen'd pass per row (no explode, nothing shuffles
      // but the two stat longs)
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.CharStats.distinctBytes(col("text")).as("n_distinct"),
          graft.functions.CharStats.collisionMicro(col("text")).as("collision_micro"))
        .orderBy("doc_id")
    },
    "corpus_quality_filter" -> { (s, dir) =>
      // per-source top-30% quality gate over the integer micro-score:
      // distinct-score histogram → broadcast (source, score) gate —
      // never a per-document sort (the ccnetBuckets discipline)
      TextAnalysis.qualityFilterBySource(
          t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("doc_id")
    },
    "text_quality_pctl" -> { (s, dir) =>
      // cross-source-comparable quality: per-source percentile rank in
      // integer permille via the distinct-score histogram — one score
      // pass, a window over the bounded histogram, a broadcast join
      // back; never a per-document rank window (one reducer per source)
      TextAnalysis.qualityPercentiles(
          t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("doc_id")
    },
    "text_tokens" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.nTokens(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.nPieces(col("text")).cast("long").as("n_pieces"))
        .orderBy("doc_id")
    },
    "text_quality" -> { (s, dir) =>
      // tokenize ONCE in its own projection (Catalyst won't collapse a
      // multiply-referenced non-cheap alias), derive all metrics from
      // the array — one regex pass instead of three
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .select(
          col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens"),
          TextAnalysis.stopwordRatioFromTokens(col("tk")).as("stop_ratio"),
          TextAnalysis.meanTokenLenFromTokens(col("tk")).as("mean_tok_len"))
        .orderBy("doc_id")
    },
    "text_qscore" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          TextAnalysis.qualityScoreFromTokens(col("text"), col("tk")).as("qscore"))
        .orderBy("doc_id")
    },
    "docs_pareto" -> { (s, dir) =>
      // quality/length Pareto frontier: the undominated docs a
      // curation budget sweep walks — x micro-quantized so the
      // level relation (and its running-max window) stays bounded
      // at ≤ 10⁶+1 rows at any corpus size
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"),
          TextOps.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          round(TextAnalysis.qualityScoreFromTokens(col("text"), col("tk"))
            * 1000000).cast("long").as("qscore_micro"),
          col("n_chars"))
      graft.ops.Skyline.frontierMax(d, "qscore_micro", "n_chars")
        .orderBy("doc_id")
    },
    "text_langid" -> { (s, dir) =>
      // same tokenize-once shape: four marker scans over one array
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .select(col("doc_id"), TextAnalysis.langIdFromTokens(col("tk")).as("pred_lang"))
        .orderBy("doc_id")
    },
    "text_langid_confusion" -> { (s, dir) =>
      // classifier QA: labeled vs predicted language — one map-only
      // prediction pass, rollup bounded by |langs|² cells
      t(s, dir, "documents")
        .select(col("lang"), TextOps.tokens(col("text")).as("tk"))
        .select(col("lang"), TextAnalysis.langIdFromTokens(col("tk")).as("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },
    "emb_training_triples" -> { (s, dir) =>
      // contrastive export: nearest above-band positive + 3 below-band
      // hard negatives per sampled anchor; anchors without a positive
      // dropped — the (anchor, pos, neg, rank) relation a retrieval
      // trainer consumes
      Similarity.trainingTriples(t(s, dir, "embeddings"), "vec_id", "embedding",
          probeFilter = col("vec_id") < 50, negatives = 3)
        .orderBy("anchor_id", "neg_rank")
    },
    "ann_lsh_topk" -> { (s, dir) =>
      // scale path: candidates only from matching random-hyperplane
      // buckets (multi-probe over 8 tables), exact re-score inside the
      // bucket — corpus scan per probe replaced by a bucket equi-join
      Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10, dim = 64)
        .orderBy("probe_id", "rn")
    },
    "ann_lsh_mp_topk" -> { (s, dir) =>
      // the 100 TB-shaped LSH: constant table count (corpus index rows
      // LINEAR in n), recall bought back probe-side by also joining
      // every Hamming-1 bucket flip — Lv et al. 2007 multiprobe
      Similarity.lshTopKMp(t(s, dir, "embeddings"), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10, dim = 64)
        .orderBy("probe_id", "rn")
    },
    "ann_ivf_topk" -> { (s, dir) =>
      // coarse quantize → inverted lists → probe nprobe lists → exact
      // re-score: the other canonical ANN scale path next to LSH
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)
        .orderBy("probe_id", "rn")
    },
    "ann_mmr_topk" -> { (s, dir) =>
      // diversity re-rank at SERVE time: brute top-16 shortlist per
      // probe, then 5 greedy MMR rounds (λ=0.7) — near-duplicate hits
      // can't crowd the page; the rerank never touches the corpus
      // beyond what the first stage paid (shortlist-scale joins only)
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      Similarity.mmrRerank(
          Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding",
            "probe_id", "pe", 16),
          emb, "vec_id", "embedding", k = 5, lambdaPermille = 700)
        .orderBy("probe_id", "rn")
    },
    "ann_ivf_filtered" -> { (s, dir) =>
      // FILTERED vector search (the vector-store metadata filter):
      // one shared index — training, assignment, probe-list selection
      // all on the full corpus — with the predicate applied as a
      // candidate PRE-filter at the re-score scan, so a selectivity-s
      // predicate cuts re-score cost to s and the result is never a
      // found top-k post-filtered below k
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10,
          candidateFilter = pmod(col("label"), lit(2)) === 0)
        .orderBy("probe_id", "rn")
    },
    "emb_knn_graph" -> { (s, dir) =>
      // every point probes every other through its nprobe IVF lists —
      // the blocked self-join that replaces the O(n²) brute kNN graph;
      // nothing broadcasts but the 64 centroids
      Similarity.knnGraphIvf(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
        .select("probe_id", "vec_id", "qdot", "rn")
        .orderBy("probe_id", "rn")
    },
    "emb_bitext_mine" -> { (s, dir) =>
      // margin-based parallel-pair mining (the CCMatrix selection
      // rule): cross-side kNN through the trained IVF lists, mutual
      // pairs kept by the integer margin vs both endpoints'
      // neighborhood averages — sides from id parity
      Similarity.mineBitext(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 5, minMarginMilli = 1000L)
        .orderBy("id_a", "id_b")
    },
    "emb_diverse_sample" -> { (s, dir) =>
      // cluster-balanced coreset: the 4 most-central vectors of every
      // trained inverted list — O(n·K) broadcast assignment + bounded
      // per-list heaps; uniform sampling would oversample dense regions
      Similarity.diversitySample(t(s, dir, "embeddings"), "vec_id", "embedding",
          perList = 4)
        .select("list_id", "vec_id", "cd", "rn")
        .orderBy("list_id", "rn")
    },
    "graph_pagerank" -> { (s, dir) =>
      // centrality over the derived similarity graph: kNN edges from
      // the trained IVF index, then 5 synchronous integer PageRank
      // rounds — each round one join keyed src + one agg keyed dst over
      // cached ids-only edges, rank relation O(nodes), lineage
      // truncated per round (the connectedComponents pattern)
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 5)
      Graph.pageRank(edges, "probe_id", "vec_id", emb, "vec_id")
        .orderBy("vec_id")
    },
    "graph_communities" -> { (s, dir) =>
      // template-family detection over the derived similarity graph:
      // kNN edges from the trained IVF index, symmetrized once, then 4
      // synchronous argmax label-propagation rounds — per round one
      // src-keyed label join + one map-side-combined (dst, lab) count
      // + one dst-keyed argmax, all linear in |edges|, labels
      // lineage-truncated per round (the pageRank discipline)
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 5)
      Graph.labelPropagation(edges, "probe_id", "vec_id", emb, "vec_id")
        .orderBy("vec_id")
    },
    "join_fuzzy_blocked" -> { (s, dir) =>
      // entity resolution without an all-pairs product: deletion-
      // neighborhood (FastSS) blocking is an exact candidate superset
      // for edit distance <= 1, so the variant-keyed hash join +
      // levenshtein verify has recall 1.0 by construction — two
      // shuffles at any table size
      graft.ops.FuzzyJoin.editDist1SelfPairs(
          t(s, dir, "supplier"), "s_suppkey", "s_name")
        .orderBy("id1", "id2")
    },
    "graph_kcore" -> { (s, dir) =>
      // dense-duplication mass: the k=6 core of the symmetrized kNN
      // graph — template farms and mirror families survive the peel,
      // organic documents shed early (at the gate SF the peel keeps
      // 273 of 4000 nodes, so the cascade is exercised, not vacuous).
      // Six synchronous peels, each one degree agg + two ids-only
      // semi-joins over a monotonically shrinking edge set
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 5)
      Graph.kCore(edges, "probe_id", "vec_id", k = 6)
        .select(col("id").as("vec_id"), col("deg"))
        .orderBy("vec_id")
    },
    "graph_triangles" -> { (s, dir) =>
      // local-density QA over the derived similarity graph: per-node
      // triangle counts via degree orientation — wedges only from
      // out-neighbors (bounded O(|E|^1.5) worst case), closing edges
      // checked with one edge-keyed semi join, corners one hash agg
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 5)
      Graph.triangleCounts(edges, "probe_id", "vec_id", emb, "vec_id")
        .orderBy("vec_id")
    },
    "graph_bfs" -> { (s, dir) =>
      // trust propagation over the derived similarity graph: hop
      // distance from a deterministic seed set (depth 0) via 3
      // synchronous frontier expansions over the symmetrized kNN
      // edges — per round one src-keyed join + distinct + anti-join,
      // visited relation O(nodes), lineage truncated per round
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 5)
      Graph.bfsDepth(edges, "probe_id", "vec_id", emb, "vec_id",
          emb.where(pmod(col("vec_id"), lit(97)) === 0), "vec_id")
        .orderBy("vec_id")
    },
    "graph_trustrank" -> { (s, dir) =>
      // TrustRank: PageRank whose teleport mass flows only to the
      // vetted %97 seed set — link proximity to known-good data; per
      // round same cost envelope as graph_pagerank, seed count crosses
      // as a broadcast 1-row aggregate
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 5)
      Graph.trustRank(edges, "probe_id", "vec_id", emb, "vec_id",
          emb.where(pmod(col("vec_id"), lit(97)) === 0), "vec_id")
        .orderBy("vec_id")
    },
    "graph_linkpred" -> { (s, dir) =>
      // near-miss pairs of the kNN cut: common-neighbor Jaccard over
      // non-edges — wedge self-join bounded by the graph's ≤2k degree,
      // LeftAnti drops existing edges, TakeOrdered top-100
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 5)
      Graph.linkPredict(edges, "probe_id", "vec_id", k = 100)
        .orderBy("rn")
    },
    "search_index_bm25" -> { (s, dir) =>
      // the serving form of search_bm25: build + persist the inverted
      // index (postings sorted by term for row-group pruning), then
      // answer from the artifact — queries read O(their terms'
      // postings), never the corpus; results bit-identical to the scan
      // form, so both share one oracle
      val path = graft.util.Scratch.dirAutoClean("txtidx")
      Search.writeTextIndex(t(s, dir, "documents"), "doc_id", "text", path)
      Search.indexTopK(s, path, Search.defaultTerms, Search.defaultK)
        .orderBy(desc("score"), col("doc_id"))
    },
    "search_index_update" -> { (s, dir) =>
      // incremental index maintenance: index 80% of the corpus, fold
      // the 20% id-hash batch in WITHOUT re-reading the indexed corpus
      // OR the index (append-only delta directories — O(batch) per
      // fold-in), then serve from base ∪ delta — must equal the scan
      // over the FULL corpus, so it shares the scan oracle. The
      // uncompacted delta path is deliberately what the oracle checks;
      // compactTextIndex equivalence is spec-pinned.
      val docs = t(s, dir, "documents")
      val p0 = graft.util.Scratch.dirAutoClean("txtidx0")
      Search.writeTextIndex(
        docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", p0)
      Search.updateTextIndex(s, p0,
        docs.where(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
      Search.indexTopK(s, p0, Search.defaultTerms, Search.defaultK)
        .orderBy(desc("score"), col("doc_id"))
    },
    "privacy_purge_text" -> { (s, dir) =>
      // right-to-be-forgotten against the SERVING artifact: index the
      // full corpus, then purge a deterministic delete set (~2.7% of
      // ids) from the index WITHOUT re-reading the corpus — one
      // broadcast anti-join pass over postings plus O(terms) stat
      // decrements — and serve. Must equal a rebuild on the retained
      // corpus (the oracle), stats and all
      val docs = t(s, dir, "documents")
      val path = graft.util.Scratch.dirAutoClean("txtpurge")
      Search.writeTextIndex(docs, "doc_id", "text", path)
      Search.purgeTextIndex(s, path,
        docs.where(pmod(col("doc_id"), lit(37)) === 3).select("doc_id"),
        "doc_id")
      Search.indexTopK(s, path, Search.defaultTerms, Search.defaultK)
        .orderBy(desc("score"), col("doc_id"))
    },
    "stream_index_purge" -> { (s, dir) =>
      // the STREAMING right-to-be-forgotten: delete requests arrive as
      // two micro-batches, each folded into the persisted index per
      // trigger (foreachBatch -> purgeTextIndex); purges compose, so
      // the drained index must serve exactly like a rebuild on the
      // corpus minus the union of arrivals
      val docs = t(s, dir, "documents")
      val path = graft.util.Scratch.dirAutoClean("sidxpurge")
      Search.writeTextIndex(docs, "doc_id", "text", path)
      StreamOps.indexPurgeApply(
        StreamOps.stagedStream(Seq(
          docs.where(pmod(col("doc_id"), lit(37)) === 3).select("doc_id"),
          docs.where(pmod(col("doc_id"), lit(37)) === 5).select("doc_id"))),
        path, "doc_id")
      Search.indexTopK(s, path, Search.defaultTerms, Search.defaultK)
        .orderBy(desc("score"), col("doc_id"))
    },
    "search_hybrid_rrf" -> { (s, dir) =>
      // RAG-serving hybrid: BM25 lexical leg + single-probe exact dense
      // leg, reciprocal-rank fusion in integer arithmetic — each leg a
      // top-k reduction of its corpus pass, fusion joins two ≤k-row
      // relations (O(k) work regardless of corpus size)
      Search.hybridRrfTopK(t(s, dir, "documents"), "doc_id", "text",
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(desc("rrf"), col("doc_id"))
    },
    "ann_ivfpq_topk" -> { (s, dir) =>
      // the consumer of emb_pq_codes: coarse-probe the trained
      // inverted lists, score candidates by ADC over their 8-code
      // representation (no raw vectors in the candidate pass), exact
      // re-rank of the 40-deep shortlist
      Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)
        .orderBy("probe_id", "rn")
    },
    "ann_index_probe" -> { (s, dir) =>
      // the production IVFADC serving shape: train ONCE, persist the
      // four index relations (all-int64 → parquet round trip is exact),
      // serve the probe batch from the index with no training and no
      // encode pass — ivfPqTopK's per-query retrain is only for
      // stand-alone oracle replay; this query is the train-once path
      val emb = t(s, dir, "embeddings")
      val idxDir = graft.util.Scratch.dirAutoClean("ann_index")
      Similarity.writeAnnIndex(Similarity.annIndex(emb, "vec_id", "embedding"), idxDir)
      Similarity.probeIndex(Similarity.readAnnIndex(s, idxDir),
          emb, "vec_id", "embedding",
          probeFilter = col("vec_id") >= 10 && col("vec_id") < 20, k = 10)
        .orderBy("probe_id", "rn")
    },
    "stream_ann_screen" -> { (s, dir) =>
      // the embedding twin of stream_neardup: train + persist the
      // index ONCE (quantizers pinned — never retrained per batch),
      // run the arrival batch as a STREAM through the zero-shuffle
      // row-local ADC screen against the broadcast packed-codes
      // serving view, rank + exact re-rank batch-side per trigger —
      // same pinned-training oracle replay as ann_index_probe with
      // the arrival batch as probes
      val emb = t(s, dir, "embeddings")
      val idxDir = graft.util.Scratch.dirAutoClean("ann_screen")
      Similarity.writeAnnIndex(Similarity.annIndex(emb, "vec_id", "embedding"), idxDir)
      val index = Similarity.readAnnIndex(s, idxDir)
      Similarity.annServingView(index, "vec_id")
        .write.mode("overwrite").parquet(s"$idxDir/serving")
      val arrivals = StreamOps.readTable(s, dir, "embeddings")
        .where(col("vec_id") >= 30 && col("vec_id") < 40)
      val sunk = StreamOps.runToMemory(
        StreamOps.annScreen(arrivals, index, s.read.parquet(s"$idxDir/serving"),
          "vec_id", "embedding"),
        "stream_ann_screen_sink")
      Similarity.annScreenFinish(sunk,
          emb.where(col("vec_id") >= 30 && col("vec_id") < 40)
            .select(col("vec_id").as("probe_id"), col("embedding").as("pe")),
          emb, "vec_id", "embedding", k = 10)
        .orderBy("probe_id", "rn")
    },
    "ann_index_update" -> { (s, dir) =>
      // incremental ANN maintenance: train + persist the index on the
      // 80% slice, append-encode the 20% id-hash batch with the
      // PERSISTED quantizers (no retrain, existing codes untouched),
      // then serve a third probe batch from the updated artifact — the
      // oracle replays training restricted to the 80% with assignment/
      // encode over everything, so a drifted quantizer or a rewritten
      // code would hash-mismatch
      val emb = t(s, dir, "embeddings")
      val idxDir = graft.util.Scratch.dirAutoClean("ann_upd")
      Similarity.writeAnnIndex(
        Similarity.annIndex(emb.where(pmod(col("vec_id"), lit(5)) =!= 0),
          "vec_id", "embedding"), idxDir)
      Similarity.updateAnnIndex(s, idxDir,
        emb.where(pmod(col("vec_id"), lit(5)) === 0), "vec_id", "embedding")
      Similarity.probeIndex(Similarity.readAnnIndex(s, idxDir),
          emb, "vec_id", "embedding",
          probeFilter = col("vec_id") >= 20 && col("vec_id") < 30, k = 10)
        .orderBy("probe_id", "rn")
    },
    "privacy_purge_ann" -> { (s, dir) =>
      // right-to-be-forgotten for the vector store: purge the delete
      // set from the persisted index's lists and codes (one broadcast
      // anti-join pass each; quantizers pinned, never retrained), then
      // serve retained probes against the retained corpus — the oracle
      // replays full-corpus training with candidates restricted to
      // retained ids, so any surviving trace of a purged vector
      // hash-mismatches
      val emb = t(s, dir, "embeddings")
      val idxDir = graft.util.Scratch.dirAutoClean("ann_purge")
      Similarity.writeAnnIndex(Similarity.annIndex(emb, "vec_id", "embedding"), idxDir)
      Similarity.purgeAnnIndex(s, idxDir,
        emb.where(pmod(col("vec_id"), lit(37)) === 3).select("vec_id"), "vec_id")
      val retained = emb.where(pmod(col("vec_id"), lit(37)) =!= 3)
      Similarity.probeIndex(Similarity.readAnnIndex(s, idxDir),
          retained, "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)
        .orderBy("probe_id", "rn")
    },
    "stream_ann_purge" -> { (s, dir) =>
      // streaming right-to-be-forgotten for the vector store: two
      // delete batches drain through foreachBatch -> purgeAnnIndex
      // (quantizers pinned across every trigger), then retained probes
      // serve from the drained artifact — must equal one batch purge
      // of the union, which is what the restricted-candidate replay
      // checks
      val emb = t(s, dir, "embeddings")
      val idxDir = graft.util.Scratch.dirAutoClean("ann_spurge")
      Similarity.writeAnnIndex(Similarity.annIndex(emb, "vec_id", "embedding"), idxDir)
      StreamOps.annPurgeApply(
        StreamOps.stagedStream(Seq(
          emb.where(pmod(col("vec_id"), lit(37)) === 3).select("vec_id"),
          emb.where(pmod(col("vec_id"), lit(37)) === 5).select("vec_id"))),
        idxDir, "vec_id")
      val retained = emb.where(
        pmod(col("vec_id"), lit(37)) =!= 3 && pmod(col("vec_id"), lit(37)) =!= 5)
      Similarity.probeIndex(Similarity.readAnnIndex(s, idxDir),
          retained, "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)
        .orderBy("probe_id", "rn")
    },
    "ann_ivfpq_res_topk" -> { (s, dir) =>
      // true IVFADC: the PQ codebook trained on RESIDUALS against the
      // coarse centroids (exact int64 differences), per-(probe, list)
      // ADC tables — the coupled-quantizer variant ann_ivfpq_topk
      // deliberately decouples
      Similarity.ivfPqResidualTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)
        .orderBy("probe_id", "rn")
    },
    "dedup_keepfirst" -> { (s, dir) =>
      // the dedup op users actually want — one deterministic
      // representative per duplicate group — through the custom
      // top-k-per-key physical operator at k=1
      Dedup.exactKeepFirst(t(s, dir, "documents"), "text", "doc_id")
        .select("doc_id")
        .orderBy("doc_id")
    },
    "multimodal_dedup" -> { (s, dir) =>
      // exact media dedup by CONTENT hash of the opaque binary payload
      // (the first pass of every multimodal pipeline — identical bytes
      // re-crawled under different ids): hash groupBy, deterministic
      // min-id keeper, copy count; one partial-aggregated exchange of
      // (16-byte digest, id, count) — payloads never shuffle
      Multimodal.syntheticMedia(s, dir)
        .groupBy(md5(col("payload")).as("payload_md5"))
        .agg(min(col("media_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .select("keeper", "payload_md5", "n_copies")
        .orderBy("keeper")
    },
    "multimodal_neardup" -> { (s, dir) =>
      // byte-level NEAR-dup over the opaque payloads — the
      // perceptual-hash-shaped screen exact content dedup misses (one
      // flipped byte changes md5 entirely, flips few SimHash bits):
      // 4-byte-gram SimHash through the shared distinct-signature
      // chunk index + exact hamming verify
      Multimodal.payloadNearDupPairs(Multimodal.syntheticMedia(s, dir))
        .orderBy("id_a", "id_b")
    },
    "multimodal_features" -> { (s, dir) =>
      // binary payload → codec batch (one instance per partition, no
      // shuffle) → per-bin exact counts recovered from the normalized
      // histogram (count = round(f × n_bytes), exact for n < 5e6)
      val media = Multimodal.syntheticMedia(s, dir)
      val feats = Multimodal.extractFeatures(media, Multimodal.FakeCodec)
      val lens = media.select(col("media_id"), length(col("payload")).as("n_bytes"))
      feats
        .join(lens, "media_id")
        .select(col("media_id"), col("kind"), col("n_bytes"), posexplode(col("features")))
        .select(col("media_id"), col("kind"), col("pos").as("bin"),
          round(col("col") * greatest(col("n_bytes"), lit(1))).cast("long").as("cnt"))
        .orderBy("media_id", "bin")
    },
    "multimodal_frames" -> { (s, dir) =>
      // per-frame explode of video payloads: row count multiplies, no
      // shuffle, partitioning preserved
      Multimodal.sampleFrames(Multimodal.syntheticMedia(s, dir), frameBytes = 32, stride = 2)
        .select(col("media_id"), col("frame_no"), md5(col("frame")).as("frame_md5"))
        .orderBy("media_id", "frame_no")
    },
    "multimodal_thumbs" -> { (s, dir) =>
      Multimodal.thumbnails(Multimodal.syntheticMedia(s, dir), Multimodal.FakeCodec, 8, 8)
        .select(col("media_id"), md5(col("thumb")).as("thumb_md5"))
        .orderBy("media_id")
    },
    "skew_salted_agg" -> { (s, dir) =>
      // ops.Skew.saltedAgg: rows spread over salt sub-keys, partially
      // aggregated, partials re-aggregated — no reducer ever holds a
      // whole hot key; decimal sums keep the two-phase result exact
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("q"))
      graft.ops.Skew.saltedAgg(li, "l_returnflag", "q")
        .select(col("l_returnflag"),
          round(col("sum_q"), 2).cast("double").as("sum_q"), col("n"))
        .orderBy("l_returnflag")
    },
    "stream_sessionize" -> { (s, dir) =>
      // the custom state machine (flatMapGroupsWithState, event-time
      // timeout) over the bounded events stream; only the
      // deterministically-emitted sessions (closed ≥ watermark delay +
      // gap + margin before the last event) survive the cut filter —
      // the same filter the oracle applies to the batch sessions
      import s.implicits._
      val ds = StreamOps.readEvents(s, dir)
        .select(col("user_id").cast("long").as("user_id"),
          col("ts").cast("timestamp").as("ts"),
          col("event_type"), col("value").cast("double").as("value"))
        .as[StreamOps.Event]
      val out = StreamOps.runToMemory(
        StreamOps.sessionize(ds, gapSeconds = 1800).toDF(), "stream_sessionize_sink")
      val cut = Tables(s, dir, "events")
        .agg((max(unix_timestamp(col("ts"))) - 7202L).as("cut"))
      out.crossJoin(broadcast(cut))
        .where(col("end_s") + 1800L <= col("cut"))
        .select(col("user_id"), col("start_s"), col("end_s"),
          col("n_events").cast("long").as("n_events"))
        .orderBy("user_id", "start_s")
    },
    "stream_events_sliding" -> { (s, dir) =>
      // 2-hour windows sliding by 1 hour: every event contributes to
      // two overlapping windows — the moving-average shape; same
      // decimal-exact sums and bounded per-window state
      val windowed = StreamOps.slidingCounts(StreamOps.readEvents(s, dir))
      StreamOps
        .runToMemory(windowed, "stream_events_sliding_sink",
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"),
          round(col("total_value"), 2).cast("double").as("total_value"))
        .orderBy("window_start", "event_type")
    },
    "events_funnel" -> { (s, dir) =>
      // ordered view→click→purchase funnel: each step gated strictly
      // after the user's first completion of the previous one; every
      // join is user-keyed over per-user first-timestamp rows, the
      // event table never self-joins
      graft.ops.TimeSeries.funnelStages(t(s, dir, "events"),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy("stage")
    },
    "events_retention" -> { (s, dir) =>
      // first-active-day cohorts × day-offset return counts — the
      // retention matrix, |days|×|offsets| rows out of any event volume
      graft.ops.TimeSeries.retentionCohorts(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_day", "day_offset")
    },
    "stats_analyze" -> { (s, dir) =>
      // engine ANALYZE: min/max/nulls/ndv for the join-key columns of
      // the fact table in ONE aggregation pass (bounded per-column
      // state), unpivoted to the stats-table shape a CBO consumes
      graft.ops.Sketches.analyzeColumns(t(s, dir, "lineitem"), statsCols)
        .orderBy("col_name")
    },
    "stats_corr" -> { (s, dir) =>
      // one-pass pairwise correlation components over the fact
      // table's numeric columns: exact integer sufficient statistics
      // (scaled ×100, DECIMAL(38,0) sums) per column pair from a
      // single partial-aggregated pass — Pearson r derives
      // consumer-side, no float crosses the engine boundary
      graft.ops.Sketches.corrComponents(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")
    },
    "stats_join_estimate" -> { (s, dir) =>
      // CBO-style pre-execution sizing: the product/max estimator off
      // two one-pass KMV sides, with the TRUE join count beside it so
      // the artifact records estimator quality, not just the formula
      val est = graft.ops.Sketches.estimateEquiJoin(
        t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey")
      val truth = t(s, dir, "lineitem").join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("true_rows"))
      est.crossJoin(truth)
    },
    "stream_analyze" -> { (s, dir) =>
      // ANALYZE maintained AT INGEST: the min/max/null/KMV state folds
      // continuously in one Complete-mode aggregate (state = one wide
      // row, ≤k sketch longs per column); the sunk row unpivots and
      // estimates batch-side — bit-identical to the one-shot ANALYZE,
      // sharing its oracle verbatim
      val sunk = StreamOps.runToMemory(
        StreamOps.analyzeGate(
          StreamOps.readTable(s, dir, "lineitem"), statsCols),
        "stream_analyze_sink",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      StreamOps.analyzeReport(sunk, statsCols).orderBy("col_name")
    },
    "stats_analyze_incremental" -> { (s, dir) =>
      // incremental stats maintenance: the stored 80% state and the
      // arriving 20% batch's state fold through the exact sketch-level
      // merge (k smallest distinct across parts IS the union's KMV
      // sketch), so the maintained report equals the one-shot ANALYZE
      // bit-for-bit while each maintenance cycle costs O(batch) + an
      // O(cols) metadata agg — the indexed corpus is never rescanned
      val li = t(s, dir, "lineitem")
      val base = li.where(pmod(col("l_orderkey"), lit(5)) =!= 0)
      val batch = li.where(pmod(col("l_orderkey"), lit(5)) === 0)
      graft.ops.Sketches.reportFromState(
          graft.ops.Sketches.mergeAnalyzeStates(Seq(
            graft.ops.Sketches.analyzeState(base, statsCols),
            graft.ops.Sketches.analyzeState(batch, statsCols))))
        .orderBy("col_name")
    },
    "stats_drift_tv" -> { (s, dir) =>
      // scalar data-drift gate: per-column total variation distance
      // between two ingest slices over a shared bounded histogram —
      // union-bounds broadcast, one map-combined (col, bucket) count
      // per side scanned ONCE for all columns, comparison over two
      // ≤ cols·1001-row relations; integer floor-permille shares so
      // the metric replays externally (the reason it's TV, not a
      // float KL/PSI)
      val li = t(s, dir, "lineitem")
      graft.ops.Sketches.histogramDriftTv(
          li.where(pmod(col("l_orderkey"), lit(2)) === 0),
          li.where(pmod(col("l_orderkey"), lit(2)) === 1),
          statsCols)
        .orderBy("col_name")
    },
    "stats_constraints" -> { (s, dir) =>
      // declarative admission gate: every row rule a conditional sum
      // in ONE aggregation pass, uniqueness riding the same agg as
      // count(*) - count_distinct; the lang_source_unique rule is
      // deliberately violated so the report proves it counts, not
      // just flags
      val d = t(s, dir, "documents")
      graft.ops.Constraints.check(d,
          rowRules = Seq(
            "doc_id_not_null" -> col("doc_id").isNull,
            "n_chars_consistent" -> (col("n_chars") =!= length(col("text"))),
            "lang_in_domain" -> !col("lang").isin("de", "en", "es", "fr", "zh"),
            "text_min_100_chars" -> (length(col("text")) < 100)),
          uniqueKeys = Seq(
            "doc_id_unique" -> Seq("doc_id"),
            "lang_source_unique" -> Seq("lang", "source")),
          // FD rules: one that HOLDS (unique doc_id trivially
          // determines lang → 0) and one deliberately violated (langs
          // span sources), so the report proves both directions
          fdRules = Seq(
            "doc_id_determines_lang" -> ((Seq("doc_id"), Seq("lang"))),
            "lang_determines_source" -> ((Seq("lang"), Seq("source")))))
        .orderBy("rule")
    },
    "privacy_redact_pii" -> { (s, dir) =>
      // PII scrubbing (C4-style pre-training hygiene), the privacy
      // family's rewrite leg: emails and IPv4s redacted to typed
      // tokens with per-doc detection counts — map-only codegen'd
      // regex work, no shuffle, the 100 TB shape of a scrub pass.
      // The synthetic corpus is digit-free by construction, so
      // deterministic PII is injected first from doc_id (the same
      // synthesize-then-operate pattern as io_merge_upsert's CDC
      // batch); emails are redacted before IPs so the two patterns
      // can never overlap-race. Patterns restricted to the
      // Java/RE2-common subset (character classes + bounded repeats,
      // no boundary anchors) so DuckDB replays them byte-for-byte.
      val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ipPat = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      val injected = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com from 10."), pmod(col("doc_id"), lit(256)),
            lit(".0.1")))
          .otherwise(col("text")).as("text"))
      injected.select(
          col("doc_id"),
          regexp_count(col("text"), lit(emailPat)).cast("long").as("n_email"),
          regexp_count(col("text"), lit(ipPat)).cast("long").as("n_ip"),
          md5(regexp_replace(
            regexp_replace(col("text"), emailPat, "<EMAIL>"),
            ipPat, "<IP>")).as("redacted_md5"))
        .orderBy("doc_id")
    },
    "privacy_k_anon" -> { (s, dir) =>
      // re-identification audit before person-derived data joins a
      // corpus: per (segment, nation) quasi-identifier class, its size
      // (k-anonymity, k=10) and the diversity of the sensitive
      // delinquency flag within it (l-diversity, l=2 — a class whose
      // members all share the flag discloses it by membership alone).
      // ONE hash agg, O(classes) output
      val c = t(s, dir, "customer")
      graft.ops.Constraints.privacyReport(c,
          Seq("c_mktsegment", "c_nationkey"),
          when(col("c_acctbal") < 0, 1).otherwise(0), k = 10L, l = 2L)
        .orderBy("c_mktsegment", "c_nationkey")
    },
    "privacy_dp_counts" -> { (s, dir) =>
      // the third leg of the privacy family: publish the per-class
      // counts under the geometric mechanism (discrete Laplace,
      // eps = ln 2, sensitivity-1 contract) — seeded noise so the
      // release replays; one hash agg, noise math on the O(classes)
      // sliver
      graft.ops.Constraints.dpGroupCounts(t(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"))
        .orderBy("c_mktsegment", "c_nationkey")
    },
    "privacy_suppress" -> { (s, dir) =>
      // the suppression release: rows of classes passing BOTH gates,
      // via an O(classes) broadcast semi-join — the corpus pass never
      // shuffles
      val c = t(s, dir, "customer")
      graft.ops.Constraints.suppressNonAnonymous(c,
          Seq("c_mktsegment", "c_nationkey"),
          when(col("c_acctbal") < 0, 1).otherwise(0), k = 10L, l = 2L)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
        .orderBy("c_custkey")
    },
    "stream_constraints" -> { (s, dir) =>
      // the admission gate at the STREAM boundary: the same row rules
      // as stats_constraints run as a Complete-mode global aggregate
      // over the arriving corpus — gate state is one row of partial
      // sums (O(rules) longs) at any stream volume; the sunk wide row
      // unpivots batch-side, bit-identical to the batch gate on the
      // same data
      val rules = Seq(
        "doc_id_not_null" -> col("doc_id").isNull,
        "n_chars_consistent" -> (col("n_chars") =!= length(col("text"))),
        "lang_in_domain" -> !col("lang").isin("de", "en", "es", "fr", "zh"),
        "text_min_100_chars" -> (length(col("text")) < 100))
      val sunk = StreamOps.runToMemory(
        StreamOps.constraintGate(
          StreamOps.readTable(s, dir, "documents"), rules),
        "stream_constraints_sink",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      StreamOps.constraintReport(sunk, rules.map(_._1)).orderBy("rule")
    },
    "events_decayed_topk" -> { (s, dir) =>
      // trending-now ranking with exact-integer half-life decay: each
      // hourly count contributes n >> (age div 24h), so recency wins
      // without any float crossing the engine boundary; global top-20
      // plans TakeOrderedAndProject, never a global sort
      graft.ops.TimeSeries.decayedTopK(t(s, dir, "events"), "ts", "user_id",
          k = 20, halfLifeHours = 24)
        .orderBy("rn")
    },
    "events_gapfill" -> { (s, dir) =>
      // dense-resample of the hourly rollup: every (hour, type) cell
      // exists, absent ones as explicit zeros — one agg pass over the
      // data, spine and key grid broadcast
      graft.ops.TimeSeries.gapFillCounts(t(s, dir, "events"), "ts", "event_type")
        .select(
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
          col("event_type"), col("n"))
        .orderBy("hour_ts", "event_type")
    },
    "events_anomaly" -> { (s, dir) =>
      // ingest monitoring: a bucket flags iff it exceeds 300% of its
      // own trailing-24h mean with a FULL baseline — all integer, so
      // the flag replays; the window runs over the dense grid, never
      // the raw events
      graft.ops.TimeSeries.anomalyFlags(t(s, dir, "events"), "ts", "event_type")
        .select(
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
          col("event_type"), col("n"), col("base_n"), col("is_anom"))
        .orderBy("hour_ts", "event_type")
    },
    "events_trend" -> { (s, dir) =>
      // exact per-type OLS trend over the dense hourly grid: gap-fill
      // zeros included (a sparse fit biases dying series flat),
      // DECIMAL(38,0) sufficient statistics, one integral division
      graft.ops.TimeSeries.trendComponents(t(s, dir, "events"), "ts", "event_type")
        .orderBy("event_type")
    },
    "events_transitions" -> { (s, dir) =>
      // session-scoped Markov transition counts: consecutive
      // event_type pairs within each 30-min-gap session, with virtual
      // _start/_end endpoints so the walk balances — one user-window
      // pass, output bounded by (|types|+2)², never event count
      graft.ops.TimeSeries.sessionTransitions(t(s, dir, "events"))
        .orderBy("src_type", "dst_type")
    },
    "events_attribution" -> { (s, dir) =>
      // first-touch attribution: each purchase credited to its
      // session's entry event type — the session flag, id, and first
      // type all ride ONE user-window sort; output bounded by the
      // type vocabulary
      graft.ops.TimeSeries.firstTouchAttribution(t(s, dir, "events"))
        .orderBy("first_touch_type")
    },
    "events_rfm" -> { (s, dir) =>
      // RFM quintile segmentation: population quintiles from bounded
      // bucket histograms (the qualityPercentiles discipline), never
      // a global ntile window; ≤125 segment rows at any volume
      graft.ops.TimeSeries.rfmSegments(t(s, dir, "events"))
        .orderBy("segment")
    },
    "events_disorder" -> { (s, dir) =>
      // watermark-delay profiling: per-key event-time lag behind the
      // arrival-order running max, power-of-two histogram — one
      // user-window pass, ≤64 output rows. The fixture's event_id is
      // ts-ordered (zero disorder — the profile correctly reads one
      // in-order bucket on it), so the query profiles a deterministic
      // md5-scrambled arrival permutation: the shape a multi-source
      // ingest actually delivers, and the case the histogram exists
      // to measure
      graft.ops.TimeSeries.disorderProfile(
          t(s, dir, "events").withColumn("arrival",
            conv(substring(md5(col("event_id").cast("string").cast("binary")), 1, 15),
              16, 10).cast("long")),
          tieCol = "arrival")
        .orderBy("bucket")
    },
    "events_concurrency" -> { (s, dir) =>
      // peak-concurrency capacity profile: sessionize, two endpoint
      // rows per session, one DISTRIBUTED prefix sum over the global
      // endpoint order (range partition + per-partition offsets —
      // never an interval self-join, never Exchange SinglePartition),
      // per-hour peak/start/end rollup
      graft.ops.TimeSeries.concurrencyProfile(t(s, dir, "events"))
        .orderBy("hour_ts")
    },
    "events_pattern" -> { (s, dir) =>
      // MATCH_RECOGNIZE-lite: per-user event types in (time, id) order
      // encoded to a 1-char alphabet, matched against 'vc*p' — a view,
      // any clicks, then purchase, CONSECUTIVELY (the structural
      // funnel; events_funnel answers the ordinal one). One shuffle,
      // per-user linear state
      graft.ops.TimeSeries.patternFunnels(t(s, dir, "events"), "vc*p",
          Seq("view" -> "v", "click" -> "c", "purchase" -> "p",
            "signup" -> "s", "error" -> "e"))
        .orderBy("user_id")
    },
    "stream_topk_users" -> { (s, dir) =>
      // trending entities per window: the streaming stateful part is
      // the (window, user) count — one state row per open pair — and
      // the rank is the batch TopKPerKey over the drained windows, the
      // same per-trigger step a foreachBatch deployment runs
      val w = StreamOps.windowedEntityCounts(StreamOps.readEvents(s, dir), "user_id")
      val sunk = StreamOps.runToMemory(w, "stream_topk_users_sink",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      val top = graft.plans.TopKPerKey(
        sunk, Seq("window_start"), Seq(("n", false), ("user_id", true)), 3)
      top.withColumn("rn", row_number().over(
          Window.partitionBy("window_start").orderBy(desc("n"), col("user_id")))
          .cast("long"))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
          col("user_id"), col("n"), col("rn"))
        .orderBy("hour_ts", "rn")
    },
    "skew_salted_join" -> { (s, dir) =>
      // hot-key-salted fact⋈dim join: per-user totals joined back onto
      // the event fact rows with users above the hot threshold routed
      // through (key, salt) sub-joins — result multiset identical to
      // the plain join (the oracle IS the plain join), aggregated per
      // type so the dump stays bounded
      val ev = t(s, dir, "events")
      val userTotals = ev.groupBy("user_id")
        .agg(count(lit(1)).as("user_total"))
      graft.ops.Skew
        .saltedJoin(ev.select("user_id", "event_type"), userTotals,
          "user_id", saltBuckets = 8, hotThreshold = 30L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("user_total")).as("sum_user_total"))
        .orderBy("event_type")
    },
    "stream_distinct_sketch" -> { (s, dir) =>
      // distinct users per hour as a STREAMING KMV sketch: bounded
      // (≤ k longs) mergeable state per open window instead of every
      // distinct value in the state store; the md5-slice hash family
      // lets the oracle replay the exact per-window estimates
      val w = StreamOps.distinctSketchWindows(StreamOps.readEvents(s, dir))
      StreamOps
        .runToMemory(w, "stream_distinct_sketch_sink",
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
          col("kth_min"), col("est"))
        .orderBy("hour_ts")
    },
    "stream_events_hourly" -> { (s, dir) =>
      // q12 executed as a Structured Streaming query over the bounded
      // events table, drained through the memory sink; complete mode
      // emits every window including those a live run would still hold
      // open behind the watermark
      val windowed = StreamOps.windowedCounts(StreamOps.readEvents(s, dir))
      StreamOps
        .runToMemory(windowed, "stream_events_hourly_sink",
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
          col("event_type"), col("n"),
          round(col("total_value"), 2).cast("double").as("total_value"))
        .orderBy("hour_ts", "event_type")
    },
    "text_redact" -> { (s, dir) =>
      // pre-training PII scrub: e-mails and long digit runs tagged out,
      // with per-doc audit counts; output carries the redacted text's
      // md5 so the oracle checks the full scrub byte-for-byte without
      // hauling text through the compare
      val (emails, numbers) = TextAnalysis.piiCounts(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(TextAnalysis.redact(col("text")).cast("binary")).as("redacted_md5"),
          emails.cast("long").as("n_emails"),
          numbers.cast("long").as("n_numbers"))
        .orderBy("doc_id")
    },
    "emb_pq_codes" -> { (s, dir) =>
      // product quantization: 64 floats → 8 codebook ids + per-
      // subspace reconstruction error; codebook trained in the same
      // deterministic integer Lloyd scheme as the IVF quantizer
      Similarity.pqEncode(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id", "sub")
    },
    "stream_drift" -> { (s, dir) =>
      // content-drift monitoring AT INGEST: the (label, dim) component
      // sums fold continuously in one Complete-mode aggregate (state =
      // labels·64 rows); the sunk sums finish batch-side into the
      // identical all-integer report — shares emb_drift's oracle
      val sunk = StreamOps.runToMemory(
        StreamOps.driftSums(
          StreamOps.readTable(s, dir, "embeddings"), "label", "embedding"),
        "stream_drift_sink",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      StreamOps.driftReport(sunk, "label").orderBy("label")
    },
    "emb_drift" -> { (s, dir) =>
      // content-based ingest monitoring: per-label embedding centroid
      // cosine against the corpus centroid, all-integer (micro units)
      // — the distribution-shift complement of events_anomaly's
      // count-based flags; one data pass, O(labels·64) metadata aggs
      Similarity.embeddingDrift(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label")
    },
    "emb_affinity" -> { (s, dir) =>
      // corpus-composition matrix: pairwise centroid cosine between
      // every label pair — which sources mirror each other, which
      // complement; one componentSums pass, then O(|labels|·64)
      // metadata with a broadcast self-join
      Similarity.centroidAffinity(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label_a", "label_b")
    },
    "emb_semdedup" -> { (s, dir) =>
      // SemDeDup: the trained coarse quantizer confines the all-pairs
      // cosine check to one inverted list per vector (n² → Σ m²);
      // keep-first inside each cluster, kept (vec_id, list_id) out
      Similarity.semDedupKeep(t(s, dir, "embeddings"), "vec_id", "embedding",
          minQdot = 450000L)
        .orderBy("vec_id")
    },
    "decontaminate" -> { (s, dir) =>
      // benchmark-decontamination screen: corpus docs sharing any word
      // 5-gram with the held-out benchmark slice (doc_id ≡ 0 mod 7);
      // the tiny bench hash set is broadcast, so the corpus grams
      // never shuffle — only per-doc hit counts do
      val docs = t(s, dir, "documents")
      TextAnalysis.contaminationScreen(
        docs.where(col("doc_id") % 7 =!= 0),
        docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },
    "decontaminate_attrib" -> { (s, dir) =>
      // multi-benchmark provenance: the bench slice split into 3
      // synthetic eval sets; per (doc, benchmark) distinct
      // shared-5-gram counts — same broadcast discipline as
      // `decontaminate`, hit rows fan out by benchmark only for
      // contaminated docs (which eval set leaked decides the fix)
      val docs = t(s, dir, "documents")
      TextAnalysis.contaminationAttribution(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0)
            .withColumn("bench",
              concat(lit("b"), pmod(col("doc_id"), lit(3)).cast("string"))),
          "doc_id", "text", "bench")
        .orderBy("doc_id", "bench")
    },
    "decontaminate_semantic" -> { (s, dir) =>
      // embedding-space decon twin of `decontaminate`: corpus vectors
      // within near-dup qdot (≥ 450000, the emb_neardup threshold) of
      // ANY held-out benchmark vector (vec_id ≡ 0 mod 7), with the
      // best-matching bench id — catches paraphrased eval leakage the
      // 5-gram screen can't see; bench broadcasts, corpus never
      // shuffles
      Similarity.semanticDecontaminate(
        t(s, dir, "embeddings"), col("vec_id") % 7 === 0,
        "vec_id", "embedding")
        .orderBy("vec_id")
    },
    "decontaminate_strip" -> { (s, dir) =>
      // contamination surgery: rewrite corpus docs with every token
      // covered by a benchmark-shared 5-gram removed — the operational
      // completion of `decontaminate`'s screen (drop the snippet, keep
      // the doc); bench gram hashes broadcast, corpus grams never
      // shuffle
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminateStrip(
        docs.where(col("doc_id") % 7 =!= 0),
        docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },
    "corpus_source_cap" -> { (s, dir) =>
      // per-source document cap (the web-pipeline per-domain cap):
      // first 10 docs per source by doc_id through the bounded-heap
      // TopKPerKey operator — ≤ 10 rows per source per input partition
      // cross the shuffle, never a full per-source sort
      graft.plans.TopKPerKey(
        t(s, dir, "documents").select("source", "doc_id"),
        Seq("source"), Seq(("doc_id", true)), k = 10)
        .orderBy("source", "doc_id")
    },
    "corpus_chunks" -> { (s, dir) =>
      // context-window chunking: each doc split into fixed 32-token
      // training sequences — map-only (explode of a per-doc index
      // range), zero shuffles before the display sort; at 100 TB this
      // is a pure scan→write. Chunk text travels as md5 so the
      // compare stays scalar.
      val L = 32
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("doc_id"), col("tk"),
          explode(expr(s"sequence(0, (size(tk) - 1) div $L)")).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          slice(col("tk"), col("chunk_id") * lit(L) + lit(1), lit(L)).as("ck"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("ck")).cast("long").as("n_tok"),
          md5(array_join(col("ck"), " ").cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
    "corpus_budget_fill" -> { (s, dir) =>
      // "give me ~200k chars mixed by the temperature law": per-source
      // caps from √n shares, each cap filled by the hash-smallest docs
      // via a 4096-bucket histogram cut — no per-doc sort anywhere;
      // the report is the full integer law (cap, cutoff, kept mass)
      graft.ext.Sampling.budgetFill(t(s, dir, "documents"), "doc_id", "source",
          length(col("text")), budgetChars = 200000L)
        .orderBy("source")
    },
    "sample_balanced" -> { (s, dir) =>
      // self-tuning mixture rebalancer: per-source keep rates DERIVED
      // from corpus stats (a 40% doc budget spread evenly across
      // sources, capped at keep-everything) in exact integer
      // arithmetic, applied by the deterministic md5-permille hash.
      // Two tiny aggs feed a broadcast; the corpus pass is map-only —
      // the rates relation is O(sources) however big the corpus is.
      val docs = t(s, dir, "documents")
      val stats = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      val totals = docs.agg(count(lit(1)).as("n"), countDistinct("source").as("n_src"))
      val rates = stats.crossJoin(broadcast(totals))
        .select(col("source"), least(lit(1000L), expr("(n * 400) div (n_src * n_s)")).as("w"))
      val h = pmod(
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
          .cast("long"),
        lit(1000L))
      docs.join(broadcast(rates), "source")
        .where(h < col("w"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
    "emb_centroids" -> { (s, dir) =>
      // the k-means/IVF recenter primitive as a standalone query:
      // per-bucket mean embedding in quantized int64 arithmetic — one
      // (bucket, pos)-keyed hash agg with partial combine, truncating
      // integer mean (Spark `div` == DuckDB `//`), coordinates
      // reassembled in order. At 100 TB this is how every centroid /
      // per-cluster-mean job should run: no floats in the shuffle, no
      // order sensitivity.
      // output is (bucket, pos, qc) rows — the driver's compare sorts
      // scalar columns; an array-valued column would defeat it
      t(s, dir, "embeddings")
        .select(pmod(col("vec_id"), lit(8)).as("bucket"),
          posexplode(transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long"))))
        .groupBy("bucket", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .select(col("bucket"), col("pos").cast("long").as("pos"), expr("s div n").as("qc"))
        .orderBy("bucket", "pos")
    },
    "sketch_distinct_by_lang" -> { (s, dir) =>
      // the KMV sketch as a GROUPED aggregator: one bounded sketch per
      // language in a single hash aggregation — "distinct shingles per
      // stratum" over 100 TB with ≤ 256 longs per (lang, partition)
      // shuffled, vs a per-group distinct exchange of every hash
      graft.ops.Sketches.kmvDistinctBy(
          t(s, dir, "documents")
            .select(col("lang"), explode(
              graft.functions.ShingleMd5Hashes.shingleMd5(TextOps.tokens(col("text")), 3)).as("h")),
          "lang", "h", k = 256, bits = 44)
        .orderBy("lang")
    },
    "sketch_source_overlap" -> { (s, dir) =>
      // pairwise source-overlap matrix from the SAME bounded per-source
      // KMV sketches: union sketch by merge, intersection by
      // inclusion-exclusion — the corpus-overlap report an LLM-data
      // pipeline runs across its crawl sources, with the data read once
      graft.ops.Sketches.kmvOverlapPairs(
          t(s, dir, "documents")
            .select(col("source"), explode(
              graft.functions.ShingleMd5Hashes.shingleMd5(TextOps.tokens(col("text")), 3)).as("h")),
          "source", "h", k = 256, bits = 44)
        .orderBy("src_a", "src_b")
    },
    "sketch_distinct_shingles" -> { (s, dir) =>
      // one pass, bounded state: the KMV aggregator keeps <= 256 hash
      // values per partition and merges — the whole point is that NO
      // distinct shuffle runs (a countDistinct ships every distinct
      // shingle hash; this ships <= 256 longs per partition). Shingle
      // hashing is the native md5 expression (one primitive pass per
      // doc — the HOF string-shingle + explode + md5 formulation it
      // replaces was 4 s of interpreted lambdas at sf0.1, dwarfing the
      // sketch itself). Exact-vs-estimate accuracy is a SketchSpec
      // assertion, not an output column — shipping countDistinct beside
      // the sketch would make users pay the very shuffle it avoids.
      graft.ops.Sketches.kmvDistinct(
        t(s, dir, "documents")
          .select(explode(
            graft.functions.ShingleMd5Hashes.shingleMd5(TextOps.tokens(col("text")), 3)).as("h")),
        "h", k = 256, bits = 44)
    },
    "sketch_cms_terms" -> { (s, dir) =>
      // bounded-state frequency sketch: ONE pass builds d·w counters
      // per partition (element-wise merge) — term-frequency estimates
      // with no per-term groupBy shuffle anywhere; md5-slice positions
      // are engine-independent so the oracle rebuilds the identical
      // counters and the identical exact-or-over estimates
      graft.ops.Sketches.cmsTermFreq(
        t(s, dir, "documents").select(explode(TextOps.tokens(col("text"))).as("word")),
        "word", graft.ops.Sketches.trackedTerms)
    },
    "sketch_heavy_hitters" -> { (s, dir) =>
      // exact ≥ 5‰-frequency words with NO full-vocabulary shuffle:
      // one scan → bounded Misra–Gries candidates (+ total count),
      // one scan → exact counts of the broadcast candidate set only;
      // the MG superset guarantee + exact second pass make the output
      // identical to a plain groupBy/HAVING at any partitioning
      graft.ops.Sketches.heavyHittersExact(
        t(s, dir, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("word")),
        "word", phiPermille = 5)
        .orderBy("word")
    },
    "sketch_heavy_hitters_by_lang" -> { (s, dir) =>
      // per-language boilerplate words: language-ID feeds the KEYED
      // two-pass heavy hitter — pass 1's per-(partition, lang) state
      // is a bounded MG buffer, pass 2 exact-counts only the broadcast
      // lang-candidate pairs; threshold is each language's OWN total.
      // langId MUST be projected to an attribute BEFORE the explode:
      // ExtractGenerator leaves non-attribute project expressions in a
      // Project evaluated per OUTPUT row, turning the 5-language marker
      // scan into O(tokens) evaluations per doc (measured 37.9 s →
      // ~1 s at sf0.1 — the dupNgramStats projection rule again)
      val words = t(s, dir, "documents")
        .select(TextOps.tokens(col("text")).as("tk"))
        .select(TextAnalysis.langIdFromTokens(col("tk")).as("lang"), col("tk"))
        .select(col("lang"), explode(col("tk")).as("word"))
      graft.ops.Sketches.heavyHittersExactByKey(words, "lang", "word", phiPermille = 10)
        .orderBy("lang", "word")
    },
    "emb_neardup_lsh" -> { (s, dir) =>
      // the scale path for embedding near-dup (emb_neardup_pairs'
      // deliberately-quadratic contrast): candidates only from shared
      // random-hyperplane buckets — a bucket equi-join, linear-ish in
      // corpus size — then exact quantized-dot verification, so every
      // emitted pair truly clears the threshold; the md5-derived plane
      // family is engine-independent
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          minQdot = 450000L, dim = 64)
        .orderBy("id_a", "id_b")
    },
    "stream_join" -> { (s, dir) =>
      // stream-stream interval join (ad attribution): purchases matched
      // to same-user clicks within the preceding hour; watermarks +
      // the interval condition keep both state stores bounded
      val ev = StreamOps.readEvents(s, dir)
      val joined = StreamOps.attributionJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"))
      // state-store partitions 4, not the family default 8: the
      // stream-stream interval join's per-trigger cost is per-partition
      // state open/commit, and the r14 state-partition sweep measured
      // 4/8/16/32 → 4.6/5.2/9.6/21.0 s (task time 6→495 s) on the outer
      // twin — per-query sizing through runToMemory's argument
      StreamOps.runToMemory(joined, "stream_join_sink",
        shufflePartitions = 4)
        .orderBy("click_id", "purchase_id")
    },
    "stream_join_outer" -> { (s, dir) =>
      // stream-stream interval LEFT OUTER join: purchases kept even
      // without a qualifying prior click — the unconverted rows a
      // funnel analysis needs. Outer emission is watermark-driven, so
      // the staged source's trailing far-future sentinel batches push
      // the watermark past all data and give the engine a data batch
      // to emit the null-augmented rows in (deterministically, instead
      // of racing a no-data micro-batch); sentinels filter out on
      // user_id < 0. The margin is ~decades, so the oracle is the
      // plain batch LEFT JOIN with no eviction threshold at all
      val ev = StreamOps.readEventsStaged(s, dir)
      val joined = StreamOps.attributionJoinOuter(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"))
      // partitions 4: the stream_join sweep rationale (state-store
      // commits dominate the interval join's per-trigger cost)
      StreamOps.runToMemory(joined, "stream_join_outer_sink",
        shufflePartitions = 4)
        .where(col("user_id") >= 0)
        .orderBy(col("purchase_id"), coalesce(col("click_id"), lit(-1L)))
        .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
    },
    "stream_neardup" -> { (s, dir) =>
      // continuous ingest screening: the arriving 20%-of-docs stream
      // screened for near-dups against the static corpus LSH index —
      // identical pairs to the batch nearDupPairsAgainst (same pinned
      // geometry, same exact verification), oracle = the exact O(n·m)
      // cross-corpus Jaccard truth
      val docs = t(s, dir, "documents")
      val streamSide = StreamOps.readTable(s, dir, "documents")
        .where(pmod(col("doc_id"), lit(5)) === 0)
      StreamOps.runToMemory(
          StreamOps.nearDupScreen(
            streamSide, docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text"),
          "stream_neardup_sink",
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy("id_new", "id_old")
    },
    "stream_decontaminate" -> { (s, dir) =>
      // ingest-time benchmark decon: the arriving corpus stream's gram
      // hashes join the broadcast static bench set, per-doc hit counts
      // off a streaming agg whose state is one counter per CONTAMINATED
      // doc — row-identical to the batch screen, shares its oracle
      val docs = t(s, dir, "documents")
      StreamOps.runToMemory(
          StreamOps.decontaminateScreen(
            StreamOps.readTable(s, dir, "documents")
              .where(pmod(col("doc_id"), lit(7)) =!= 0),
            docs.where(pmod(col("doc_id"), lit(7)) === 0),
            "doc_id", "text", n = 5),
          "stream_decontaminate_sink",
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy("doc_id")
    },
    "stream_enrich" -> { (s, dir) =>
      // stream-static join: every micro-batch of the event stream is
      // enriched against the static customer dim — stateless (append
      // mode, no state store), the dim broadcast per batch; the 100 TB
      // shape for continuous ingest that must carry dimension columns
      val ev = StreamOps.readTable(s, dir, "events")
        .select("event_id", "user_id", "event_type")
      val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val joined = ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
        .select("event_id", "event_type", "c_mktsegment")
      StreamOps.runToMemory(joined, "stream_enrich_sink")
        .orderBy("event_id")
    },
    "quantiles_by_group" -> { (s, dir) =>
      // grouped quantile sketch, zero driver state: per-group bounds
      // broadcast back, per-group bins, per-group cumulative crossing
      graft.ops.Sketches.histQuantilesBy(
          t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", Seq(0.5, 0.9, 0.99))
        .orderBy("grp", "q")
    },
    "quantiles_hist" -> { (s, dir) =>
      // bounded-state approximate quantiles (see Sketches.histQuantiles
      // for the algorithm and the degenerate-edge guarantees)
      graft.ops.Sketches.histQuantiles(
        t(s, dir, "lineitem"), "l_extendedprice", Seq(0.5, 0.9, 0.99))
    },
    "quantiles_exact" -> { (s, dir) =>
      // EXACT distributed quantiles: total-order the values (one range
      // shuffle + in-partition sorts), stamp global ranks with the
      // two-pass offset scheme, keep only the target positions. The
      // value at a fixed position of the sorted multiset is unique
      // even under ties, so the output is deterministic. n arrives
      // from a count — O(1) driver metadata, like the rank offsets.
      val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("v"))
      val n = li.count()
      val targets = Seq(0.5, 0.9, 0.99).map(q => math.ceil(q * n).toLong).distinct
      graft.ops.GlobalSort.globalRank(
          li, Seq(col("v").asc), parts = s.conf.get("spark.sql.shuffle.partitions").toInt)
        .where(col("rnk").isin(targets: _*))
        .select("rnk", "v")
        .orderBy("rnk")
    },
    "text_novelty" -> { (s, dir) =>
      // first-occurrence credit: share of a doc's distinct 8-grams
      // whose min-id owner is the doc itself — re-scrapes score ~0,
      // new content ~1000; one distinct exchange + co-partitioned
      // min-owner join, the dupNgramStats envelope
      TextAnalysis.noveltyStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "text_dup_ngrams" -> { (s, dir) =>
      // substring-level dedup signal (Lee et al. 2022 "Deduplicating
      // Training Data"): fraction of a doc's 8-token windows occurring
      // ≥ 2× in the corpus; the oracle rebuilds the identical md5 gram
      // hashes, so even a collision (overcount) reproduces
      // byte-for-byte. Shared with the scale probe via dupNgramStats.
      TextAnalysis.dupNgramStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "text_repetition" -> { (s, dir) =>
      // Gopher-style repetition filters: within-doc boilerplate
      // signals (top-word / top-bigram char fractions, duplicate-word
      // fraction) — two wordcount-shaped aggs, no corpus-wide state
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "corpus_strip_spans" -> { (s, dir) =>
      // the operational half of substring dedup (Lee et al. 2022):
      // every token covered by a corpus-duplicated 8-token window is
      // removed and the doc rewritten — dupNgramStats scores the
      // signal, this applies it
      TextAnalysis.stripDupSpans(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "corpus_dedup_spans" -> { (s, dir) =>
      // ExactSubstr dedup as published (Lee et al. 2022): duplicated
      // 8-token windows removed from every occurrence EXCEPT the
      // corpus-wide first — content survives exactly once, where
      // corpus_strip_spans' scrub policy removes it everywhere
      TextAnalysis.dedupSpansKeepFirst(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "corpus_strip_boilerplate" -> { (s, dir) =>
      // per-source template scrub (RefinedWeb/CCNet lineage): 4-token
      // windows recurring in ≥ max(2, ceil(5% · source docs)) DISTINCT
      // docs of one source are site boilerplate — removed everywhere in
      // that source; the relative threshold makes the definition
      // scale-invariant where corpus_strip_spans' absolute ≥2 is not
      TextAnalysis.stripBoilerplate(t(s, dir, "documents"),
          "doc_id", "text", "source")
        .orderBy("doc_id")
    },
    "sample_per_key" -> { (s, dir) =>
      // bounded deterministic per-stratum sample (eval-set carving):
      // the 10 smallest md5 id hashes per language, ranked through the
      // bounded-heap TopKPerKey operator — ≤ 10 rows per language per
      // partition cross the shuffle, never the full corpus through a
      // window sort
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
            .cast("long").as("h"))
      graft.plans.TopKPerKey(docs, Seq("lang"), Seq(("h", true), ("doc_id", true)), 10)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    },
    "dedup_containment" -> { (s, dir) =>
      // asymmetric doc-inside-doc detection: prefix-filtered (PPJoin
      // family) candidates — a guaranteed superset, so exact verify
      // equals the O(n²) ground truth — at containment ≥ 0.9
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },
    "dedup_jaccard_pairs" -> { (s, dir) =>
      // EXACT Jaccard threshold self-join (AllPairs/PPJoin prefix +
      // length filters): deterministic ground truth, no LSH miss floor;
      // threshold 0.5 deliberately below the MinHash query's 0.6 to
      // exercise the band the approximate path is least reliable in
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    "dedup_incremental" -> { (s, dir) =>
      // incremental ingest screening: the "new batch" (20% of docs by
      // id hash) checked for near-dups against the existing corpus via
      // a cross-corpus banded join — each ingest pays for the batch's
      // buckets, never the full-corpus self-join
      val docs = t(s, dir, "documents")
      Dedup.nearDupPairsAgainst(
          docs.where(pmod(col("doc_id"), lit(5)) === 0),
          docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
          "doc_id", "text")
        .orderBy("id_new", "id_old")
    },
    "sample_stratified" -> { (s, dir) =>
      // corpus rebalancing: per-language keep rates (down-sample the
      // dominant language, keep low-resource ones) decided by a
      // deterministic per-doc hash against a per-stratum per-mille
      // threshold — map-only and shuffle-free, so the sample is
      // reproducible at any partitioning and any scale
      // rates as a broadcast relation, not a CASE expression: a
      // lang-dependent filter predicate would be pushed below the
      // projection and re-evaluate the whole langId tree a second time
      // (no cross-operator CSE between FilterExec and ProjectExec) —
      // the 4-row broadcast join is a barrier that keeps langId at ONE
      // evaluation per doc, and reads as configuration
      val rates = Seq(("en", 200L), ("de", 500L), ("es", 500L), ("fr", 500L))
      import s.implicits._
      val ratesDf = rates.toDF("lang", "rate")
      val h = pmod(
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
          .cast("long"),
        lit(1000L))
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .select(col("doc_id"), TextAnalysis.langIdFromTokens(col("tk")).as("lang"))
        .join(broadcast(ratesDf), Seq("lang"), "left")
        .where(h < coalesce(col("rate"), lit(50L)))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    "text_lm_score" -> { (s, dir) =>
      // corpus-trained bigram LM quality filter in exact integer
      // arithmetic: map-only bigram extraction, two hash-agg "training"
      // jobs, one scoring join — the classic perplexity-style signal
      // with no float drift for the oracle to trip on
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "text_collocations" -> { (s, dir) =>
      // multiword-expression mining: top-30 bigrams by exact integer
      // lift over the bigram event stream (support >= 10) — marginals
      // re-aggregate the cached pair counts, never the corpus; ranking
      // is a TakeOrdered top-k
      TextAnalysis.collocations(t(s, dir, "documents"), "text")
        .orderBy("rn")
    },
    "corpus_ccnet_buckets" -> { (s, dir) =>
      // CCNet head/middle/tail selection: LM-score each doc, bucket by
      // per-language score thresholds off the distinct-score histogram
      // (never a per-document sort) — buckets are (lang, score)
      // functions, ties share a bucket, all-integer
      TextAnalysis.ccnetBuckets(t(s, dir, "documents"), "doc_id", "text", "lang")
        .orderBy("doc_id")
    },
    "corpus_dsir_select" -> { (s, dir) =>
      // DSIR selection: importance-score every doc against the
      // English-documents target distribution, keep the global top 100
      // by (score DESC, id) through the bounded-heap top-k operator
      // (map-side heaps, one tiny final heap — never a global sort)
      val scored = TextAnalysis.dsirScores(
          t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")
        .withColumn("g", lit(0))
      graft.plans.TopKPerKey(scored, Seq("g"),
          Seq(("dsir_score", false), ("doc_id", true)), 100)
        .select("doc_id", "n_bigrams", "dsir_score")
        .orderBy("doc_id")
    },
    "corpus_budget_select" -> { (s, dir) =>
      // data-constrained corpus building: keep the highest-quality
      // documents until a fixed token budget fills — order by (qscore
      // DESC, doc_id), exclusive prefix-sum the token counts through
      // the distributed primitive, keep docs whose span STARTS inside
      // the budget (the greedy rule: the doc crossing the boundary is
      // kept, the next is not). qscore is the deterministic composite
      // the text_qscore oracle already hash-verifies, so the order —
      // and with it the cut — replays exactly.
      val budget = 10000L
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"), col("text"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens"),
          TextAnalysis.qualityScoreFromTokens(col("text"), col("tk")).as("qscore"))
      graft.ops.GlobalSort.globalPrefixSum(
          scored, Seq(col("qscore").desc, col("doc_id").asc), "n_tokens",
          parts = s.conf.get("spark.sql.shuffle.partitions").toInt,
          cumCol = "cum_before")
        .where(col("cum_before") < budget)
        .select("doc_id", "n_tokens", "qscore", "cum_before")
        .orderBy("doc_id")
    },
    "corpus_shuffle" -> { (s, dir) =>
      // deterministic training-order shuffle: every training run reads
      // the corpus in the same pseudorandom order (md5 hash of the id,
      // id tie-break) at any partitioning — through the distributed
      // rank machinery, never an Exchange SinglePartition
      val h = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long")
      graft.ops.GlobalSort.globalRank(
          t(s, dir, "documents").select(col("doc_id"), h.as("h")),
          Seq(col("h").asc, col("doc_id").asc),
          parts = s.conf.get("spark.sql.shuffle.partitions").toInt,
          rankCol = "shuffle_pos")
        .select("doc_id", "shuffle_pos")
        .orderBy("shuffle_pos")
    },
    "corpus_interleave" -> { (s, dir) =>
      // deterministic source-interleaved training order: sources woven
      // round-robin (position = src_rank·K + source_index) so every
      // contiguous training window holds each source at ~1/K — one
      // range-partitioned sort + an O(|sources|) offset map, never a
      // single-partition window
      ext.Sampling.interleaveBySource(t(s, dir, "documents"), "doc_id", "source",
          parts = s.conf.get("spark.sql.shuffle.partitions").toInt)
        .orderBy("interleave_pos")
    },
    "corpus_pack" -> { (s, dir) =>
      // GPT-style sequence packing (concatenate-and-split): the corpus
      // piece stream in doc order cut into fixed 256-piece packs; each
      // doc's placement = the exclusive prefix sum of piece counts —
      // the distributed globalPrefixSum primitive (range partition +
      // O(parts) driver offsets), never a single-partition window
      val docs = t(s, dir, "documents")
      val counts = ext.Bpe.tokenCounts(docs, "doc_id", "text",
          ext.Bpe.trainMerges(docs, "text"))
        .select(col("doc_id"), col("n_pieces"))
      graft.ops.GlobalSort.globalPrefixSum(
          counts, Seq(col("doc_id").asc), "n_pieces",
          parts = s.conf.get("spark.sql.shuffle.partitions").toInt,
          cumCol = "start")
        .select(col("doc_id"), col("n_pieces"), col("start"),
          expr("start div 256").as("pack_id"),
          expr("start % 256").as("pack_offset"),
          expr("((start + n_pieces - 1) div 256) - (start div 256) + 1").as("n_packs"))
        .orderBy("doc_id")
    },
    "sort_global_rank" -> { (s, dir) =>
      // distributed total order: range-partition + within-partition
      // sort + offset-stamped ranks — never an Exchange SinglePartition
      // (the plan a bare row_number() over a global ORDER BY produces);
      // (o_totalprice desc, o_orderkey) is a total order, so ranks are
      // placement-independent
      graft.ops.GlobalSort.globalRank(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc),
          parts = s.conf.get("spark.sql.shuffle.partitions").toInt)
        .orderBy("rnk")
    },
    "bloom_join" -> { (s, dir) =>
      // semi-join reduction: the selective orders subset is aggregated
      // into a broadcast Bloom bitmap (128 KB at any build cardinality)
      // and lineitem is pruned against it BEFORE its join shuffle —
      // survivors then pay the exact join, so false positives cost only
      // shuffle bytes and the result equals the plain join
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
        .select("o_orderkey")
      val li = t(s, dir, "lineitem")
      val pruned = graft.ops.BloomJoin.mightMatch(
        li, col("l_orderkey"), urgent, col("o_orderkey"))
      pruned.join(urgent, pruned("l_orderkey") === urgent("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 6)) *
            (lit(1).cast(org.apache.spark.sql.types.DecimalType(18, 6)) -
              col("l_discount").cast(org.apache.spark.sql.types.DecimalType(18, 6)))), 2)
            .cast("double").as("revenue"))
        .orderBy("l_returnflag")
    },
    "stream_wordcount" -> { (s, dir) =>
      // the reference's canonical query as a continuous pipeline:
      // parquet file-stream source → reference-parity tokenization →
      // running counts in the complete-mode memory sink
      val docs = StreamOps.readTable(s, dir, "documents")
      StreamOps.runToMemory(
          TextOps.wordCount(docs, col("text")), "stream_wordcount_sink",
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy("word")
    },
    "stream_dedup" -> { (s, dir) =>
      // streaming exact dedup: running per-fingerprint state (one row
      // per distinct normalized text — the same bounded state a
      // dropDuplicates would keep) with a DETERMINISTIC keeper, the min
      // doc id, so arrival order can never flip the result the way
      // dropDuplicates' keep-first-arrival does under parallel reads
      val docs = StreamOps.readTable(s, dir, "documents")
      val grouped = docs
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
        .select("keeper", "n_dups")
      StreamOps.runToMemory(grouped, "stream_dedup_sink",
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy("keeper")
    },
    "split_leakage_safe" -> { (s, dir) =>
      // the split decision hashes the near-dup cluster CANONICAL, not
      // the doc — near-duplicates can never straddle train/test (the
      // contamination mode decontaminate_* screens for after the
      // fact, prevented at assignment time); singletons reduce to the
      // plain split_assign law
      Dedup.leakageSafeSplit(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "split_assign" -> { (s, dir) =>
      // map-only, shuffle-free: split = hash-range of an md5-derived id
      // hash (80/10/10) — reproducible across engines and partitionings
      val h = pmod(
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
          .cast("long"),
        lit(100L))
      t(s, dir, "documents")
        .select(col("doc_id"),
          when(h < 80, lit("train"))
            .when(h < 90, lit("validation"))
            .otherwise(lit("test")).as("split"))
        .orderBy("doc_id")
    },
    "corpus_select" -> { (s, dir) =>
      // the full training-corpus materialization: keep one doc per
      // near-dup cluster (min id), then English-only, then quality
      // threshold — dedup + langid + quality composed end-to-end
      val docs = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.6)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val canon = docs.join(clusters, Seq("doc_id"), "left")
        .where(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      // selection policy as a broadcast relation (lang, min quality),
      // not a filter expression: a pushed-down `lang === … && qscore
      // >= …` predicate re-evaluates the langId AND qualityScore trees
      // a second time per row below the projection (no cross-operator
      // CSE — the same trap sample_stratified hit); the 1-row join is
      // a pushdown barrier and the per-language threshold reads as
      // configuration
      import s.implicits._
      val policy = Seq(("en", 0.5)).toDF("lang", "min_qscore")
      // r14: widen before the tokenize→langid→quality projection — the
      // canon join preserves the scan's split count, so on a
      // few-row-group input the heaviest per-row kernel of this query
      // ran serially (profiled as a 0.65 s single-task job at sf0.1)
      graft.util.Par.widen(canon)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"), col("text"))
        .select(col("doc_id"),
          TextAnalysis.langIdFromTokens(col("tk")).as("lang"),
          size(col("tk")).cast("long").as("n_tokens"),
          TextAnalysis.qualityScoreFromTokens(col("text"), col("tk")).as("qscore"))
        .join(broadcast(policy), Seq("lang"))
        .where(col("qscore") >= col("min_qscore"))
        .select("doc_id", "n_tokens", "qscore")
        .orderBy("doc_id")
    },
    "corpus_pipeline" -> { (s, dir) =>
      // THE CAPSTONE: the reference's defining property is job
      // CHAINING (w6/docs/design.md:74), and this query chains every
      // curation stage end-to-end as ONE lazy DAG — benchmark holdout
      // → tokenize-once langid + quality gate (broadcast-policy
      // pushdown barrier, the corpus_select discipline) → exact
      // keep-first dedup (bounded-heap TopKPerKey) → 5-gram
      // decontamination (bench hashes broadcast, survivors anti-join)
      // → √n temperature mixture (O(sources) rates broadcast back) →
      // md5 hash split (map-only) → 256-token sequence packing
      // (distributed prefix sum, never Exchange SinglePartition) →
      // round-robin shard law. ONE cache point — the deduped
      // survivors — feeds the decon screen, the mixture sizing agg,
      // and the packing passes; everything downstream of it is
      // map-only or broadcast. PipelineSpec counts the exchanges and
      // pins the no-rescan shape.
      pipelinePacked(s, dir, cache = true).orderBy("doc_id")
    },
    "text_tfidf_top3" -> { (s, dir) =>
      // two chained wordcount-shaped jobs (the reference's job-chaining
      // pattern, design.md:74): per-doc tf then corpus df, joined; the
      // per-doc top-3 runs through the bounded-heap TopKPerKey operator
      // (≤ 3 rows per doc per partition cross the shuffle) — the
      // row_number that labels ranks afterwards only sees ≤ 3·docs
      // survivors, never the full scored relation
      val docs = t(s, dir, "documents")
      val words = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val df = words.select("doc_id", "word").distinct()
        .groupBy("word").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "word")
        .select(
          col("doc_id"), col("word"),
          floor(col("tf") * lit(1000000.0) / col("df")).cast("long").as("score"))
      val top = graft.plans.TopKPerKey(
        scored, Seq("doc_id"), Seq(("score", false), ("word", true)), 3)
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("word"))
      top
        .withColumn("rn", row_number().over(w).cast("long"))
        .select("doc_id", "word", "score", "rn")
        .orderBy("doc_id", "rn")
    },
    "search_bm25" -> { (s, dir) =>
      // BM25-shaped keyword retrieval (integer idf/tf-saturation — see
      // ext.Search): one rare term + two common ones exercises the
      // log2-idf spread; terms broadcast, corpus pass map-only, final
      // cut TakeOrdered
      Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          Search.defaultTerms, k = Search.defaultK)
        .orderBy(desc("score"), col("doc_id"))
    },
    "search_batch_bm25" -> { (s, dir) =>
      // many queries, ONE corpus pass: broadcast term-union filter
      // keeps the (doc, term) exchange at matching postings only;
      // per-query cut through the bounded-heap TopKPerKey
      Search.batchBm25TopK(t(s, dir, "documents"), "doc_id", "text",
          Search.defaultBatch, k = Search.defaultK)
        .orderBy("qid", "rn")
    },
    "search_eval_mrr" -> { (s, dir) =>
      // ranking-quality gate: first all-terms-relevant rank per query
      // and its integer reciprocal — the rollout number for a ranking
      // change, costing exactly one batch serve
      Search.mrrEval(t(s, dir, "documents"), "doc_id", "text",
          Search.defaultBatch, k = Search.defaultK)
        .orderBy("qid")
    },
    "search_phrase" -> { (s, dir) =>
      // exact phrase matching — the capability bag-of-words BM25
      // structurally lacks: the phrase is one m-token window against
      // the doc's m-gram stream, map-only + TakeOrdered top-k
      Search.phraseTopK(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(desc("n_hits"), col("doc_id"))
    },
    "corpus_mix_temperature" -> { (s, dir) =>
      // α=1/2 temperature mixture over sources: derived per-source
      // rates from scaled-integer sqrt weights, md5-per-mille keep
      Sampling.temperatureMixture(t(s, dir, "documents"),
          "doc_id", "source", budget = Sampling.defaultMixBudget)
        .select("doc_id", "source", "rate")
        .orderBy("doc_id")
    },
    "sample_weighted" -> { (s, dir) =>
      // Duffield–Lund–Thorup priority sampling, weight = n_chars:
      // k smallest u div w priorities win, map-only + TakeOrdered
      Sampling.prioritySample(t(s, dir, "documents"),
          "doc_id", "n_chars", k = Sampling.defaultPriorityK)
        .orderBy("priority", "doc_id")
    },
    "corpus_epochs" -> { (s, dir) =>
      // data-constrained training schedule: the char budget spread by
      // the sqrt-temperature law, converted to per-source repeat
      // factors capped at 4 epochs — one sum per source, a 1-row Σw
      // broadcast, nothing else moves
      Sampling.epochSchedule(t(s, dir, "documents"),
          "source", col("n_chars"), budgetTokens = Sampling.defaultEpochBudget)
        .orderBy("source")
    },
    "corpus_mix_reweight" -> { (s, dir) =>
      // one DoReMi exponentiated-gradient step on the domain mixture:
      // domains whose mean proxy loss exceeds the corpus mean get
      // upweighted, multipliers clamped at +/-500 permille (binding on
      // both tails at this eta), shares renormalized — the update rule
      // is loss-agnostic; the short-doc indicator stands in for per-row
      // proxy-model scores. One agg to O(domains), sliver math after
      Sampling.mixtureReweight(t(s, dir, "documents"), "source",
          when(col("n_chars") < 400, 1000L).otherwise(0L),
          etaPermille = 5000L)
        .orderBy("source")
    }
  )
}
