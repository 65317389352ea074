package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Bounded

/** Iterative graph analytics over relation-shaped edge lists. The
  * reference's framework runs exactly this workload class as chained
  * MapReduce rounds (`w6/docs/design.md` motivates the framework with
  * iterative link-analysis jobs); here each round is one declarative
  * join+aggregate job, the same shape `Dedup.connectedComponents` uses
  * for its label propagation.
  *
  * In a training-data pipeline the graph is derived — kNN edges over
  * embeddings (`Similarity.knnGraphIvf`), near-dup edges from LSH —
  * and a centrality score over it is a curation signal: PageRank over
  * the similarity graph surfaces "hub" documents (highly reachable =
  * semantically central = likely boilerplate) exactly the way
  * repetition scores surface templated text.
  */
object Graph {

  /** Fast-path bound (the `connectedComponents` precedent): a graph
    * whose ids-only edge + node relations fit on the driver is folded
    * with an exact local loop instead of the per-round join+aggregate
    * jobs — the fixed-round fixpoints here cost 2–4 scheduler
    * round-trips PER ROUND while moving < 5 MB at fixture scale.
    * Arithmetic is replicated EXACTLY (int64 floor division on
    * non-negative values, argmax ties, set semantics — each documented
    * at its loop) and the DuckDB oracle replay pins it per query. Above
    * the bound (`Bounded.Edges` rows combined, capped by the one
    * `graft.local.max` override) every algorithm takes the distributed
    * loop exactly as before. */
  private def graphLocalMax: Long = Bounded.limit(Bounded.Edges)

  private def allLong(df: DataFrame, cols: String*): Boolean =
    cols.forall(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.LongType)

  /** LocalRelation of all-int64 rows. */
  private def localRel(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      names: Seq[String]): DataFrame =
    Bounded.relation(spark, rows.toSeq, names.map(_ -> org.apache.spark.sql.types.LongType))

  /** Shipped constants, shared with the oracle generator: rank mass is
    * scaled to 10⁹ integer units, damping 0.85 as the classic x100
    * integer pair, 5 synchronous iterations. */
  val defaultIters: Int = 5
  val defaultScale: Long = 1000000000L
  val defaultDampX100: Long = 85L

  /** Integer PageRank: `r₀ = scale div n`, then
    * `r_{t+1}(v) = ((100-d)·scale) div (100·n) + (d·Σ_u r_t(u) div deg(u)) div 100`
    * over v's in-neighbors u — all int64 floor division, so any engine
    * replays the fixpoint trajectory bit-for-bit (the same reason the
    * BM25/LM scores are integer). Nodes with no out-edges simply leak
    * their mass (the standard simplified formulation); nodes with no
    * in-edges settle at the teleport floor. It is [[trustRank]] with
    * every node seeded; scale shape and fast path at `seededRank`. */
  def pageRank(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes0: DataFrame,
      idCol: String,
      iters: Int = defaultIters,
      scale: Long = defaultScale,
      dampX100: Long = defaultDampX100,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame =
    seededRank(edges0, srcCol, dstCol, nodes0.select(col(idCol).as("id")), lit(1L),
      idCol, "pr", iters, scale, dampX100, scope)

  /** Seeded (personalized) PageRank — the TrustRank form of the
    * centrality family: teleport mass flows ONLY to a trusted seed set
    * instead of uniformly, so a node's score measures its link
    * proximity to known-good data (Gyöngyi et al., "Combating Web Spam
    * with TrustRank", VLDB'04). Over a derived similarity graph this
    * ranks documents by how reachable they are from vetted sources —
    * the continuous complement of `bfsDepth`'s hop cut, and the spam /
    * SEO-farm demotion signal a crawl-corpus curation pass wants:
    * dense link families far from any seed settle at 0, not at a
    * teleport floor.
    *
    * Same integer fixpoint discipline as `pageRank`, with the teleport
    * term gated by seed membership:
    * `r_{t+1}(v) = isSeed(v)·((100-d)·scale) div (100·|seeds|)
    *              + (d·Σ_u r_t(u) div deg(u)) div 100` —
    * all int64 floor division, replayable bit-for-bit. An empty trust
    * set yields every score 0 (the teleport term coalesces to 0 when
    * |seeds| = 0, matching the same CASE guard in the oracle SQL —
    * without it Spark's `div` returns NULL and DuckDB's `//` errors).
    * Scale shape and fast path at `seededRank`; the seed flag rides the
    * cached node relation. */
  def trustRank(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes0: DataFrame,
      idCol: String,
      seeds0: DataFrame,
      seedIdCol: String,
      iters: Int = defaultIters,
      scale: Long = defaultScale,
      dampX100: Long = defaultDampX100,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val seedIds = seeds0.select(col(seedIdCol).as("id")).distinct()
    val nodes = nodes0.select(col(idCol).as("id"))
      .join(seedIds.withColumn("__s", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__s"), lit(0L)).as("isSeed"))
    seededRank(edges0, srcCol, dstCol, nodes, col("isSeed"),
      idCol, "trust", iters, scale, dampX100, scope)
  }

  /** The one integer fixpoint behind [[pageRank]] and [[trustRank]]:
    * `r₀(v) = isSeed(v)·(scale div ns)`, then
    * `r_{t+1}(v) = isSeed(v)·(((100-d)·scale) div (100·ns)) + (d·Σ_u r_t(u) div deg(u)) div 100`
    * with ns the seed count (0 seeds → every score 0). `nodes` is (id)
    * or (id, isSeed) and `isSeed` a 0/1 int64 column over it; PageRank
    * seeds every node (`lit(1L)`, so ns = the node count). isSeed ∈
    * {0,1}, so (isSeed · C) div ns ≡ isSeed · (C div ns) and both
    * teleport constants fold to literals from ONE driver-side count.
    *
    * Scale shape: edges are projected to ids-only ONCE, joined with
    * their out-degree, and cached — per iteration one src-keyed rank
    * join + one dst-keyed contribution sum, both linear in |edges|.
    * No per-round checkpoint: ranks is consumed once per round, so
    * lineage grows LINEARLY in iters (the exponential-branch hazard
    * that forces checkpoints in connectedComponents/LPA/kCore does not
    * exist here) and the whole fixpoint executes as one adaptive plan
    * (profiled: 64 jobs → ~18 for 5 rounds at sf0.1). */
  private def seededRank(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes0: DataFrame,
      isSeed: org.apache.spark.sql.Column,
      idCol: String,
      outCol: String,
      iters: Int,
      scale: Long,
      dampX100: Long,
      scope: graft.util.CacheScope): DataFrame = {
    require(iters >= 0 && dampX100 >= 0 && dampX100 <= 100 && scale > 0,
      s"need iters >= 0, 0 <= dampX100 <= 100, scale > 0; got $iters/$dampX100/$scale")
    val edges = scope.cache(
      edges0.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val nodes = scope.cache(nodes0)
    val counts = nodes.agg(count(lit(1)), coalesce(sum(isSeed), lit(0L))).head()
    val (nn, ns) = (counts.getLong(0), counts.getLong(1))
    val initSeed = if (ns == 0) 0L else scale / ns
    val roundSeed = if (ns == 0) 0L else ((100L - dampX100) * scale) / (100L * ns)
    // driver-local fast path (see graphLocalMax): the loop below
    // replicates the distributed rounds exactly — degrees count edge
    // MULTIPLICITY (no distinct here), a src outside the node set
    // contributes nothing (the rank join is inner), a dst outside it
    // receives nothing (ranks come from the node relation), and
    // `r div d` on non-negative int64 is Java `/`.
    if (nn + edges.count() <= graphLocalMax &&
        allLong(edges, "src", "dst") && allLong(nodes, "id")) {
      val eArr = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val nArr = nodes.select(col("id"), isSeed).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val degM = scala.collection.mutable.LongMap.empty[Long]
      eArr.foreach { case (s, _) => degM(s) = degM.getOrElse(s, 0L) + 1L }
      var r = scala.collection.mutable.LongMap.empty[Long]
      nArr.foreach { case (id, seed) => r(id) = seed * initSeed }
      for (_ <- 1 to iters) {
        val contrib = scala.collection.mutable.LongMap.empty[Long]
        eArr.foreach { case (s, d) =>
          r.get(s).foreach(rs =>
            contrib(d) = contrib.getOrElse(d, 0L) + rs / degM(s))
        }
        val nr = scala.collection.mutable.LongMap.empty[Long]
        nArr.foreach { case (id, seed) =>
          nr(id) = seed * roundSeed + (dampX100 * contrib.getOrElse(id, 0L)) / 100L
        }
        r = nr
      }
      return localRel(edges.sparkSession,
        nArr.map { case (id, _) => org.apache.spark.sql.Row(id, r(id)) },
        Seq(idCol, outCol))
    }
    // out-degree joined onto every edge once — the per-iteration join
    // then carries (src, dst, d) and never recomputes degrees
    val ed = scope.cache(edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("d")), "src"))
    var ranks = nodes.select(col("id"), (isSeed * lit(initSeed)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = ed.join(ranks, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(expr("r div d")).as("s"))
      ranks = nodes
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          (isSeed * lit(roundSeed) + expr(s"($dampX100 * coalesce(s, 0L)) div 100")).as("r"))
    }
    ranks.select(col("id").as(idCol), col("r").as(outCol))
  }

  /** Oracle generator for `trustRank`: the pageRank replay with the
    * seed-gated teleport. `seedPredSql` is a predicate over `id`
    * (e.g. "id % 97 = 0") — must match the seed set the engine was
    * given. */
  def trustRankOracleSql(
      edgesCte: String,
      idColOut: String,
      seedPredSql: String,
      iters: Int = defaultIters,
      scale: Long = defaultScale,
      dampX100: Long = defaultDampX100): String = {
    val rounds = (1 to iters).map { i =>
      s"""t$i AS (
         |  SELECT q.id, q.isSeed,
         |         CASE WHEN n.ns = 0 THEN 0 ELSE
         |           (q.isSeed * ${(100L - dampX100) * scale}) // (100 * n.ns) END
         |           + ($dampX100 * coalesce(c.s, 0)) // 100 AS r
         |  FROM gseed q CROSS JOIN gs n
         |  LEFT JOIN (
         |    SELECT e.dst, sum(t${i - 1}.r // gdeg.d) AS s
         |    FROM gedges e
         |    JOIN t${i - 1} ON e.src = t${i - 1}.id
         |    JOIN gdeg ON gdeg.src = e.src
         |    GROUP BY e.dst) c ON c.dst = q.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |gdeg AS (SELECT src, count(*) AS d FROM gedges GROUP BY src),
       |gseed AS (SELECT id, CASE WHEN $seedPredSql THEN 1 ELSE 0 END AS isSeed FROM gnodes),
       |gs AS (SELECT sum(isSeed) AS ns FROM gseed),
       |t0 AS (SELECT id, isSeed,
       |         CASE WHEN ns = 0 THEN 0 ELSE (isSeed * $scale) // ns END AS r
       |       FROM gseed, gs),
       |$rounds
       |SELECT id AS $idColOut, CAST(r AS BIGINT) AS trust FROM t$iters
       |ORDER BY $idColOut""".stripMargin
  }

  /** Common-neighbor link prediction over the symmetrized edge set:
    * for every NON-adjacent pair sharing ≥ 1 neighbor, the Jaccard
    * overlap of their neighborhoods in exact integer permille —
    * `(common·1000) div (deg_a + deg_b − common)` — top-k by
    * (score, id ties). On a derived similarity graph these are the
    * "should-have-been-an-edge" pairs: near-duplicates the kNN cut
    * narrowly missed (dedup recall auditing) and retrieval-expansion
    * candidates.
    *
    * Scale shape: wedge generation is the y-keyed self-join of the
    * cached symmetrized edges — O(Σ deg(y)²) pairs, which on a
    * BOUNDED-DEGREE derived graph (a kNN graph has deg ≤ 2k by
    * construction) is O(n·k²), linear in nodes; this operator is for
    * such graphs, NOT for power-law webgraphs (contract documented,
    * the same boundedness `triangleCounts` escapes via orientation —
    * here both wedge endpoints are needed so orientation cannot
    * halve the generation). The (a,b) count is map-side combined,
    * existing edges leave via one LeftAnti against the cached edge
    * set, the O(nodes) degree relation joins back keyed by endpoint
    * (two exchanges of the pair sliver — NOT a broadcast; nodes are
    * corpus-scale), and the top-k cut ships ≤ k rows per partition
    * through `TakeOrdered`. */
  def linkPredict(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int = 100,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val e = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val und = scope.cache(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    // wedges through shared neighbor y: und(y→a) ⋈ und(y→b), a < b
    val wa = und.select(col("src").as("y"), col("dst").as("id_a"))
    val wb = und.select(col("src").as("y"), col("dst").as("id_b"))
    val common = wa.join(wb, "y")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"))
    val nonEdges = common.join(
      und.select(col("src").as("id_a"), col("dst").as("id_b")),
      Seq("id_a", "id_b"), "left_anti")
    val scored = nonEdges
      .join(deg.select(col("id").as("id_a"), col("d").as("__da")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("d").as("__db")), "id_b")
      .withColumn("jac_milli",
        expr("(common * 1000) div (__da + __db - common)"))
      .select("id_a", "id_b", "common", "jac_milli")
    val top = scored
      .orderBy(desc("jac_milli"), desc("common"), asc("id_a"), asc("id_b"))
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("jac_milli"), desc("common"), asc("id_a"), asc("id_b"))
    top.withColumn("rn", row_number().over(w).cast("long"))
  }

  /** Oracle generator for `linkPredict` over a derived-graph CTE. */
  def linkPredictOracleSql(edgesCte: String, k: Int = 100): String =
    s"""$edgesCte,
       |und AS (
       |  SELECT src, dst FROM gedges
       |  UNION
       |  SELECT dst, src FROM gedges),
       |gdeg AS (SELECT src AS id, count(*) AS d FROM und GROUP BY src),
       |cmn AS (
       |  SELECT a.dst AS id_a, b.dst AS id_b, count(*) AS common
       |  FROM und a JOIN und b ON a.src = b.src AND a.dst < b.dst
       |  GROUP BY a.dst, b.dst),
       |ne AS (
       |  SELECT c.* FROM cmn c
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM und u WHERE u.src = c.id_a AND u.dst = c.id_b)),
       |sc AS (
       |  SELECT ne.id_a, ne.id_b, CAST(ne.common AS BIGINT) AS common,
       |         CAST((ne.common * 1000) // (da.d + db.d - ne.common) AS BIGINT) AS jac_milli
       |  FROM ne
       |  JOIN gdeg da ON da.id = ne.id_a
       |  JOIN gdeg db ON db.id = ne.id_b),
       |r AS (
       |  SELECT id_a, id_b, common, jac_milli,
       |         CAST(row_number() OVER (
       |           ORDER BY jac_milli DESC, common DESC, id_a, id_b) AS BIGINT) AS rn
       |  FROM sc)
       |SELECT id_a, id_b, common, jac_milli, rn FROM r WHERE rn <= $k
       |ORDER BY rn""".stripMargin

  /** Shipped LPA round count, shared with the oracle generator. Four
    * synchronous rounds: template families in a near-dup graph are
    * shallow (diameter 2–3), and a FIXED round count is what makes the
    * result an engine-replayable contract rather than a convergence
    * race. */
  val defaultLpaIters: Int = 4

  /** Deterministic synchronous label propagation — community detection
    * over a derived similarity graph. Where `connectedComponents`
    * answers "which docs are transitively linked at all", LPA answers
    * the finer "which docs form a densely-linked family": labels start
    * as node ids and each round every node adopts the MOST FREQUENT
    * label among its neighbors (ties to the smallest label; isolated
    * nodes keep their own), over the symmetrized edge set. On a kNN
    * graph the stable labels after a few rounds mark template/boiler-
    * plate families — the curation signal between "exact duplicate
    * cluster" (CC) and "semantically central" (PageRank).
    *
    * Every step is integer/argmax arithmetic, so any engine replays
    * the trajectory bit-for-bit: the per-round winner is
    * max(count, then min label), expressed as `max(struct(c, -lab))`
    * — no floats, no RNG, no convergence threshold.
    *
    * Scale shape: the symmetrized ids-only edge set is built ONCE and
    * cached; per round the work is one shuffle keyed by the edge
    * source (label join) and one two-level aggregate keyed by
    * destination — both linear in |edges|, the `pageRank` cost
    * envelope exactly (the argmax adds a (dst, lab)-keyed partial
    * aggregate that map-side-combines before the exchange). The label
    * relation stays O(nodes) with a `localCheckpoint` per round so the
    * plan never grows with the iteration count. Nothing crosses the
    * driver. */
  def labelPropagation(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes0: DataFrame,
      idCol: String,
      iters: Int = defaultLpaIters,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    require(iters >= 0, s"need iters >= 0; got $iters")
    val e = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val und = scope.cache(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    val nodes = scope.cache(nodes0.select(col(idCol).as("id")))
    // driver-local fast path: exact replication of the synchronous
    // rounds — und is the DEDUPED symmetrization (self-loops kept, as
    // in the distributed form), labels exist only for the node set (a
    // src outside it contributes no vote, a dst outside it is ignored),
    // the per-round winner is max count with ties to the SMALLEST
    // label (the max(struct(c, -lab)) argmax), and a node with no
    // in-votes keeps its label (the left-join coalesce).
    if (nodes.count() + und.count() <= graphLocalMax &&
        allLong(und, "src", "dst") && allLong(nodes, "id")) {
      val eArr = und.collect().map(r => (r.getLong(0), r.getLong(1)))
      val nArr = nodes.collect().map(_.getLong(0))
      var lab = scala.collection.mutable.LongMap.empty[Long]
      nArr.foreach(id => lab(id) = id)
      for (_ <- 1 to iters) {
        // votes per (dst, lab); winner = (max c, then min lab)
        val votes = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        eArr.foreach { case (s, d) =>
          lab.get(s).foreach { ls =>
            val k = (d, ls)
            votes(k) = votes.getOrElse(k, 0L) + 1L
          }
        }
        val best = scala.collection.mutable.LongMap.empty[(Long, Long)]
        votes.foreach { case ((d, l), c) =>
          best.get(d) match {
            case Some((bc, bl)) if bc > c || (bc == c && bl <= l) => ()
            case _ => best(d) = (c, l)
          }
        }
        val nl = scala.collection.mutable.LongMap.empty[Long]
        nArr.foreach(id =>
          nl(id) = best.get(id).map(_._2).getOrElse(lab(id)))
        lab = nl
      }
      return localRel(und.sparkSession,
        nArr.map(id => org.apache.spark.sql.Row(id, lab(id))),
        Seq(idCol, "community"))
    }
    var labs = nodes0.select(col(idCol).as("id"), col(idCol).cast("long").as("lab"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      val cnt = und.join(labs, col("src") === col("id"))
        .groupBy(col("dst"), col("lab"))
        .agg(count(lit(1)).as("c"))
      val best = cnt.groupBy("dst")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("dst"), (-col("m.nl")).as("newlab"))
      labs = labs.join(best, col("id") === col("dst"), "left")
        .select(col("id"), coalesce(col("newlab"), col("lab")).as("lab"))
        .localCheckpoint(false)
    }
    labs.select(col("id").as(idCol), col("lab").as("community"))
  }

  /** DuckDB replay of `labelPropagation`: `edgesCte` must bind
    * `gedges(src, dst)` and `gnodes(id)`; rounds unroll as l0..l{iters}
    * CTEs. The per-round argmax is replayed as "min label among the
    * labels attaining the max count" — the same (count desc, label
    * asc) winner the struct-max picks. `UNION` (set semantics) is the
    * symmetrization's `.distinct()`.
    *
    * MATERIALIZED is load-bearing (the BPE-oracle lesson): each round
    * references `und` once and `l(i-1)`/`c(i)` twice, so DuckDB's
    * default CTE inlining would re-evaluate the (expensive, IVF-
    * rebuilding) `edgesCte` chain 2^iters times — the round-9 first
    * cut ran 30+ minutes on a 500-row fixture. Pinning every derived
    * relation evaluates the chain exactly once. */
  def lpaOracleSql(
      edgesCte: String,
      idColOut: String,
      iters: Int = defaultLpaIters): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst AS id, l.lab, count(*) AS c
         |  FROM und e JOIN l${i - 1} l ON e.src = l.id
         |  GROUP BY e.dst, l.lab),
         |b$i AS (
         |  SELECT c1.id, min(c1.lab) AS lab
         |  FROM c$i c1
         |  JOIN (SELECT id, max(c) AS mc FROM c$i GROUP BY id) m
         |    ON c1.id = m.id AND c1.c = m.mc
         |  GROUP BY c1.id),
         |l$i AS MATERIALIZED (
         |  SELECT p.id, coalesce(b.lab, p.lab) AS lab
         |  FROM l${i - 1} p LEFT JOIN b$i b ON b.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |ge AS MATERIALIZED (SELECT src, dst FROM gedges),
       |und AS MATERIALIZED (SELECT src, dst FROM ge UNION SELECT dst, src FROM ge),
       |l0 AS MATERIALIZED (SELECT id, CAST(id AS BIGINT) AS lab FROM gnodes),
       |$rounds
       |SELECT id AS $idColOut, lab AS community FROM l$iters
       |ORDER BY $idColOut""".stripMargin
  }

  /** DuckDB replay of `pageRank` as a CTE chain: `edgesCte` must bind
    * relations `gedges(src, dst)` and `gnodes(id)`; the generator
    * unrolls the synchronous iterations as r0..r{iters} CTEs with the
    * identical integer arithmetic. */
  def pageRankOracleSql(
      edgesCte: String,
      idColOut: String,
      iters: Int = defaultIters,
      scale: Long = defaultScale,
      dampX100: Long = defaultDampX100): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT q.id,
         |         (${(100L - dampX100) * scale} // (100 * n.nn))
         |           + ($dampX100 * coalesce(c.s, 0)) // 100 AS r
         |  FROM gnodes q CROSS JOIN gn n
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r${i - 1}.r // gdeg.d) AS s
         |    FROM gedges e
         |    JOIN r${i - 1} ON e.src = r${i - 1}.id
         |    JOIN gdeg ON gdeg.src = e.src
         |    GROUP BY e.dst) c ON c.dst = q.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |gdeg AS (SELECT src, count(*) AS d FROM gedges GROUP BY src),
       |gn AS (SELECT count(*) AS nn FROM gnodes),
       |r0 AS (SELECT id, $scale // nn AS r FROM gnodes, gn),
       |$rounds
       |SELECT id AS $idColOut, CAST(r AS BIGINT) AS pr FROM r$iters
       |ORDER BY $idColOut""".stripMargin
  }

  /** Per-node triangle counts over the symmetrized edge set — the
    * local-density QA signal for a derived similarity graph: a node in
    * many triangles sits in a tightly-knit family (boilerplate
    * template, mirrored site), while a hub with high degree but few
    * triangles is a genuine semantic connector. Together with degree
    * this is the (unnormalized) clustering coefficient.
    *
    * Algorithm: degree orientation (the node-iterator bound). Every
    * undirected edge is oriented from the (degree, id)-smaller toward
    * the larger endpoint, making the graph acyclic; a triangle
    * {x ≺ y ≺ z} then exists as the unique wedge x→y, x→z (y ≺ z)
    * whose closing edge y→z is present. Wedges are generated only from
    * a node's OUT-neighbors, and degree orientation bounds out-degree
    * at O(√|E|) — so the wedge relation is O(|E|^1.5) worst case and
    * far smaller on sparse kNN graphs, never the O(Σ deg²) a naive
    * neighbor self-join pays on skewed hubs.
    *
    * Scale shape: one shuffle to build degrees, one src-keyed
    * self-join of the cached oriented edges (wedge generation), one
    * edge-keyed LeftSemi against the same relation (closing check) —
    * Spark plans the closing probe as a shuffled semi join on (b, c),
    * linear in wedges + edges. Corner counting is one explode + hash
    * agg. Nothing crosses the driver.
    *
    * Contract (shared with the oracle): ids in [0, 2³²) and degree
    * < 2³¹, so the orientation key `deg·2³² + id` stays in int64 —
    * true for any corpus keyed by row number or a 32-bit hash
    * namespace. */
  def triangleCounts(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes0: DataFrame,
      idCol: String,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val e = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    // oriented edge (a, b) with the ≺-key of b carried for the wedge
    // tie-break; 4294967296 = 2^32 packs (deg, id) into one int64
    val o = scope.cache(und
      .join(deg.select(col("id").as("src"), (col("d") * 4294967296L + col("id")).as("oa")), "src")
      .join(deg.select(col("id").as("dst"), (col("d") * 4294967296L + col("id")).as("ob")), "dst")
      .where(col("oa") < col("ob"))
      .select(col("src").as("a"), col("dst").as("b"), col("ob")))
    val wedges = o.select(col("a"), col("b"), col("ob").as("o1"))
      .join(o.select(col("a"), col("b").as("c"), col("ob").as("o2")), "a")
      .where(col("o1") < col("o2"))
    val tri = wedges.join(
      o.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"), "left_semi")
    val corners = tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n"))
    nodes0.select(col(idCol).as("id"))
      .join(corners, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("n"), lit(0L)).as("n_tri"))
  }

  /** DuckDB replay of `triangleCounts`: `edgesCte` must bind
    * `gedges(src, dst)` and `gnodes(id)`. MATERIALIZED on the derived
    * relations for the same reason as `lpaOracleSql` — `o` is
    * referenced three times and sits on top of the (expensive) edge
    * chain. */
  def triangleOracleSql(edgesCte: String, idColOut: String): String =
    s"""$edgesCte,
       |ge AS MATERIALIZED (SELECT src, dst FROM gedges),
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst FROM ge UNION SELECT dst, src FROM ge) u
       |  WHERE src <> dst),
       |deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM und GROUP BY src),
       |o AS MATERIALIZED (
       |  SELECT u.src AS a, u.dst AS b, dd.d * 4294967296 + u.dst AS ob
       |  FROM und u
       |  JOIN deg ds ON ds.id = u.src
       |  JOIN deg dd ON dd.id = u.dst
       |  WHERE ds.d * 4294967296 + u.src < dd.d * 4294967296 + u.dst),
       |tri AS MATERIALIZED (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM o e1 JOIN o e2 ON e1.a = e2.a AND e1.ob < e2.ob
       |  WHERE EXISTS (SELECT 1 FROM o e3 WHERE e3.a = e1.b AND e3.b = e2.b)),
       |corners AS (
       |  SELECT a AS id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri),
       |cc AS (SELECT id, count(*) AS n FROM corners GROUP BY id)
       |SELECT g.id AS $idColOut, CAST(coalesce(cc.n, 0) AS BIGINT) AS n_tri
       |FROM gnodes g LEFT JOIN cc ON cc.id = g.id
       |ORDER BY $idColOut""".stripMargin

  /** Shipped k-core peel rounds, shared with the oracle generator —
    * the fixed-round contract every iterative op here follows. */
  val defaultKCoreRounds: Int = 6

  /** k-core decomposition by synchronous peeling: repeatedly delete
    * every node whose (symmetrized, deduped) degree is below `k`, a
    * fixed `rounds` times, and report the surviving subgraph's nodes
    * with their residual degrees. Over a near-dup / kNN similarity
    * graph the k-core is the "dense duplication mass" — template
    * farms, mirror families, boilerplate hubs sit in high cores while
    * organic documents shed early (the graph-QA complement of
    * `connectedComponents`, which counts membership but not density).
    *
    * Fixed rounds, not run-to-fixpoint: identical results in both
    * engines by construction, and each peel is a monotone shrink so a
    * non-converged run is a sound OVER-approximation of the true core
    * (only extra rounds remove more). Survivors whose residual degree
    * still sits below `k` mean exactly "not yet converged at this
    * horizon" — reported as-is, the same honesty contract as
    * `bfsDepth`'s -1.
    *
    * Scale shape: per round one hash-agg degree count plus two
    * semi-joins of the ids-only edge relation against the O(nodes)
    * keep set — all linear in surviving |E|, which only shrinks;
    * lineage truncated per round (the pageRank rule). Nothing
    * collects, nothing broadcasts but join slivers the planner
    * chooses. */
  def kCore(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Long,
      rounds: Int = defaultKCoreRounds): DataFrame = {
    require(k >= 1 && rounds >= 0, s"need k >= 1, rounds >= 0; got $k/$rounds")
    val e = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // bare localCheckpoint per round (the pageRank idiom): it already
    // persists the RDD for the two downstream references — wrapping it
    // in a CacheScope would hold every round's edge relation twice (no
    // scope param: there is no managed lifecycle to delegate here).
    // Superseded rounds' checkpointed RDDs are retained until the
    // session's cache clear, bounded by `rounds` ids-only relations
    // that only SHRINK as the peel proceeds
    var und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(false)
    // driver-local fast path: exact replication of the fixed
    // synchronous peels over the deduped symmetrized edge set — per
    // round, survivors are the endpoints whose residual degree ≥ k,
    // and an edge survives only if BOTH endpoints do. Output is the
    // survivors' residual degrees, exactly the distributed aggregate.
    if (allLong(und, "src", "dst") && und.count() <= graphLocalMax) {
      var eArr = und.collect().map(r => (r.getLong(0), r.getLong(1)))
      for (_ <- 1 to rounds) {
        val degM = scala.collection.mutable.LongMap.empty[Long]
        eArr.foreach { case (s, _) => degM(s) = degM.getOrElse(s, 0L) + 1L }
        eArr = eArr.filter { case (s, d) =>
          degM(s) >= k && degM.getOrElse(d, 0L) >= k }
      }
      val degM = scala.collection.mutable.LongMap.empty[Long]
      eArr.foreach { case (s, _) => degM(s) = degM.getOrElse(s, 0L) + 1L }
      return localRel(und.sparkSession,
        degM.toArray.map { case (id, d) => org.apache.spark.sql.Row(id, d) },
        Seq("id", "deg"))
    }
    for (_ <- 1 to rounds) {
      val keep = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select("id")
      und = und
        .join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint(false)
    }
    und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
  }

  /** DuckDB replay of `kCore`: `edgesCte` must bind `gedges(src, dst)`.
    * One degree/keep/restrict CTE triple per peel round, MATERIALIZED
    * because each round's edge relation is referenced by both the next
    * degree count and the next restriction. */
  def kCoreOracleSql(edgesCte: String, k: Long, rounds: Int, idColOut: String): String = {
    val head =
      s"""$edgesCte,
         |und0 AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst FROM gedges UNION SELECT dst, src FROM gedges) u
         |  WHERE src <> dst)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s"""keep$r AS MATERIALIZED (
         |  SELECT src AS id FROM und${r - 1} GROUP BY src HAVING count(*) >= $k),
         |und$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM und${r - 1} e
         |  JOIN keep$r a ON a.id = e.src
         |  JOIN keep$r b ON b.id = e.dst)""".stripMargin
    }
    (Seq(head) ++ peels).mkString(",\n") +
      s"""
         |SELECT src AS $idColOut, CAST(count(*) AS BIGINT) AS deg
         |FROM und$rounds GROUP BY src
         |ORDER BY $idColOut""".stripMargin
  }

  /** Shipped BFS horizon, shared with the oracle generator: hop
    * distances in a kNN graph saturate fast (small-world), and a FIXED
    * round count keeps the result an engine-replayable contract. */
  val defaultBfsRounds: Int = 3

  /** Multi-source BFS hop distance over the symmetrized graph — the
    * reachability complement of the centrality family: seeds sit at
    * depth 0, every other node gets the MINIMUM hop count from any
    * seed within `rounds` hops, unreached nodes report -1. In a
    * curation pipeline the seeds are a trusted set (hand-audited docs,
    * a quality whitelist) and hop distance in the similarity graph is
    * a trust-propagation signal — the graph-native version of "keep
    * what is near known-good data".
    *
    * Runs EXACTLY `rounds` synchronous frontier expansions (no
    * convergence race — the fixed-round contract every iterative op
    * here follows). Per round: one src-keyed join of the cached
    * symmetrized edges against the frontier, a distinct on the
    * successor set, and one left-anti against the visited relation —
    * all linear in |edges| + |visited|; the visited relation stays
    * O(nodes) with a `localCheckpoint` per round (the pageRank lineage
    * rule). An empty frontier makes the remaining rounds no-ops on
    * empty relations. Nothing crosses the driver. */
  def bfsDepth(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes0: DataFrame,
      idCol: String,
      seeds0: DataFrame,
      seedCol: String,
      rounds: Int = defaultBfsRounds,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0; got $rounds")
    val e = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val und = scope.cache(
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst")).distinct())
    val nodes = scope.cache(nodes0.select(col(idCol).as("id")))
    val seedsD = scope.cache(seeds0.select(col(seedCol).as("id")).distinct())
    // driver-local fast path: exact frontier BFS — seeds at depth
    // 0 (whether or not they are in the node relation, as in the
    // distributed form), `rounds` synchronous expansions over the
    // deduped symmetrized edges, unreached nodes -1 via the final
    // left join against the node set.
    if (nodes.count() + und.count() + seedsD.count() <= graphLocalMax &&
        allLong(und, "src", "dst") && allLong(nodes, "id") &&
        allLong(seedsD, "id")) {
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      und.collect().foreach { r =>
        adj.getOrElseUpdate(r.getLong(0),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
      }
      val depth = scala.collection.mutable.LongMap.empty[Long]
      var frontier = seedsD.collect().map(_.getLong(0)).toSeq
      frontier.foreach(id => depth(id) = 0L)
      for (d <- 1 to rounds) {
        val nxt = scala.collection.mutable.ArrayBuffer.empty[Long]
        frontier.foreach(id => adj.get(id).foreach(_.foreach { succ =>
          if (!depth.contains(succ)) { depth(succ) = d.toLong; nxt += succ }
        }))
        frontier = nxt.toSeq
      }
      return localRel(und.sparkSession,
        nodes.collect().map(_.getLong(0)).map(id =>
          org.apache.spark.sql.Row(id, depth.getOrElse(id, -1L))),
        Seq(idCol, "depth"))
    }
    var visited = seedsD
      .withColumn("depth", lit(0L))
      .localCheckpoint(false)
    var frontier = visited
    for (d <- 1 to rounds) {
      val nxt = und.join(frontier, col("src") === col("id"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .withColumn("depth", lit(d.toLong))
        .localCheckpoint(false)
      visited = visited.unionByName(nxt).localCheckpoint(false)
      frontier = nxt
    }
    nodes
      .join(visited, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("depth"), lit(-1L)).as("depth"))
  }

  /** DuckDB replay of `bfsDepth`: `edgesCte` must bind `gedges(src,
    * dst)` and `gnodes(id)`; `seedSql` is a predicate over `id`
    * selecting the seed rows from `gnodes`. Rounds unroll as
    * v0..v{rounds} visited CTEs (MATERIALIZED — each is referenced by
    * the next round's anti-join AND union, so inlining would
    * re-evaluate the edge-derivation chain exponentially, the
    * lpaOracleSql lesson). */
  def bfsOracleSql(
      edgesCte: String,
      idColOut: String,
      seedSql: String,
      rounds: Int = defaultBfsRounds): String = {
    val steps = (1 to rounds).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS id
         |  FROM und e JOIN v${i - 1} v ON e.src = v.id AND v.depth = ${i - 1}
         |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} p WHERE p.id = e.dst)),
         |v$i AS MATERIALIZED (
         |  SELECT id, depth FROM v${i - 1}
         |  UNION ALL SELECT id, $i FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |ge AS MATERIALIZED (SELECT src, dst FROM gedges),
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst FROM ge UNION SELECT dst, src FROM ge) u
       |  WHERE src <> dst),
       |v0 AS MATERIALIZED (
       |  SELECT id, 0 AS depth FROM gnodes WHERE $seedSql),
       |$steps
       |SELECT g.id AS $idColOut,
       |       CAST(coalesce(v.depth, -1) AS BIGINT) AS depth
       |FROM gnodes g LEFT JOIN v$rounds v ON v.id = g.id
       |ORDER BY $idColOut""".stripMargin
  }
}
