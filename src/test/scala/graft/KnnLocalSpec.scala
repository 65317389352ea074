package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Pins the driver-local kNN-graph, ANN, SemDeDup and MMR fast paths
  * against the distributed derivations (`graft.local.max=0` disables
  * them), and at the switch point: with the override at the fixture's
  * row count − 1, = and + 1 the rows must not change. The graph must
  * be IDENTICAL on a fixture that exercises the semantic
  * corners — qdot ties (id-broken), many near-empty inverted lists
  * (centroid budget > occupied lists), k larger than a probe's
  * candidate pool, the cross-side candidate filter applied BEFORE the
  * rank cut, and duplicate ids (which must bail to the distributed
  * path rather than diverge). */
class KnnLocalSpec extends SparkSpec {
  import spark.implicits._

  // 120 vectors, dim 4, coordinates from small repeating residues so
  // quantized dot products collide often (tie-break coverage); the
  // residue moduli are odd so id parity stays decorrelated from the
  // geometry (the cross-side tests need mixed-parity inverted lists)
  private def vec(i: Long) =
    Array(((i * 7) % 13).toFloat * 0.1f, ((i * 3) % 11).toFloat * 0.2f,
      ((i * 5) % 17).toFloat * 0.05f, ((i * 11) % 19).toFloat * 0.125f)
  private def emb = (0L until 120L).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  // the same 120-row shape, but ids 100-119 repeat the vectors of ids
  // 0-19: a repeated vector among the seeds gives identical centroids,
  // so the coarse assignment ties exactly (smallest cent_id wins), and
  // copies tie on qdot
  private def tied = (0L until 120L).map(i => (i, vec(if (i >= 100) i - 100 else i)))
    .toDF("vec_id", "embedding")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

  /** Default bounds (fast path), override 0 (distributed) and each of
    * `bounds` (the switch point of the 120-row fixture) must give the
    * same rows; returns them. */
  private def parity(name: String, bounds: Seq[Long] = Seq(119L, 120L, 121L))(
      run: () => DataFrame): Seq[String] = {
    val fast = rowsOf(run())
    val loop = withLocalMax(0)(rowsOf(run()))
    assert(fast == loop, s"$name: driver-local fast path diverges from the distributed graph")
    assert(fast.nonEmpty, s"$name: empty result — the parity check is vacuous")
    for (b <- bounds)
      assert(withLocalMax(b)(rowsOf(run())) == loop, s"$name: rows change at graft.local.max=$b")
    fast
  }

  test("knnGraphIvf: driver-local == distributed (default filter)") {
    for (k <- Seq(3, 7); (name, corpus) <- Seq("emb" -> emb, "tied" -> tied))
      parity(s"knn(k=$k, $name)")(() =>
        Similarity.knnGraphIvf(corpus, "vec_id", "embedding", k = k))
  }

  test("knnGraphIvf: driver-local == distributed (cross-side filter)") {
    val crossSide =
      pmod(col("probe_id"), lit(2)) =!= pmod(col("vec_id"), lit(2))
    val local = (a: Long, b: Long) =>
      java.lang.Math.floorMod(a, 2L) != java.lang.Math.floorMod(b, 2L)
    parity("knn(crossSide)")(() =>
      Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 4,
        edgeFilter = crossSide, localEdgeFilter = Some(local)))
  }

  test("knnGraphIvf: mineBitext parity (filter + downstream joins)") {
    parity("mineBitext")(() =>
      Similarity.mineBitext(emb, "vec_id", "embedding", k = 4,
        minMarginMilli = 0L))
  }

  test("knnGraphIvf: duplicate ids bail to the distributed path, same rows") {
    val dup = emb.union(emb.limit(5)) // 5 duplicated ids
    parity("knn(dup-ids)")(() =>
      Similarity.knnGraphIvf(dup, "vec_id", "embedding", k = 3))
  }

  test("annIndex + probeIndex: driver-local build/serve == distributed (r14 wave 5)") {
    // dim 4 → numSub 2, subDim 2; nprobe below K so routing matters;
    // refine below the pool so the ADC shortlist cut matters; the
    // fixture's residue geometry forces qdot/adc ties
    def run() = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      probeFilter = col("vec_id") < 7, k = 4, numCentroids = 8,
      nprobe = 3, dim = 4, numSub = 2, codebook = 4, refine = 10)
    parity("ivfPqTopK(local serve)")(() => run())
    // the local serve answers with a LocalRelation: it engages from a
    // bound of exactly the fixture's 120 indexed vectors
    def servedLocally(b: Long) = withLocalMax(b)(run().queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(!servedLocally(119L) && servedLocally(120L) && servedLocally(121L))
  }

  test("annIndex + probeIndex: duplicate ids bail to the distributed path, same rows") {
    val dup = emb.union(emb.limit(3))
    parity("ivfPqTopK(dup-ids)")(() =>
      Similarity.ivfPqTopK(dup, "vec_id", "embedding",
        probeFilter = col("vec_id") >= 100, k = 3, numCentroids = 8,
        nprobe = 4, dim = 4, numSub = 2, codebook = 4, refine = 8))
  }

  test("probeIndex: empty probe batch serves an empty, same-schema result on both paths") {
    def run() = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      probeFilter = col("vec_id") < 0, k = 3, numCentroids = 8,
      nprobe = 4, dim = 4, numSub = 2, codebook = 4, refine = 8)
    val fast = run()
    val loop = withLocalMax(0)(run())
    assert(fast.collect().isEmpty && loop.collect().isEmpty)
    // names + types must match (nullability legitimately differs:
    // LocalRelation columns are provably non-null)
    assert(fast.schema.map(f => (f.name, f.dataType)) ==
      loop.schema.map(f => (f.name, f.dataType)),
      s"schema diverged: ${fast.schema} vs ${loop.schema}")
  }

  test("ivfPqResidualTopK: driver-local == distributed (r14 wave 5)") {
    parity("ivfPqResidual(local)")(() =>
      Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
        probeFilter = col("vec_id") < 7, k = 4, numCentroids = 8,
        nprobe = 3, dim = 4, numSub = 2, codebook = 4, refine = 10))
  }

  test("ivfPqResidualTopK: duplicate ids bail to the distributed path, same rows") {
    val dup = emb.union(emb.limit(3))
    parity("ivfPqResidual(dup-ids)")(() =>
      Similarity.ivfPqResidualTopK(dup, "vec_id", "embedding",
        probeFilter = col("vec_id") >= 100, k = 3, numCentroids = 8,
        nprobe = 4, dim = 4, numSub = 2, codebook = 4, refine = 8))
  }

  test("semDedupKeep: driver-local == distributed (r14 wave 5)") {
    // thresholds chosen so SOME pairs drop and some survive (the
    // residue fixture collides heavily within lists)
    for (minQdot <- Seq(1000000L, 3000000L); (name, corpus) <- Seq("emb" -> emb, "tied" -> tied))
      parity(s"semDedup(minQdot=$minQdot, $name)")(() =>
        Similarity.semDedupKeep(corpus, "vec_id", "embedding", minQdot = minQdot))
  }

  test("semDedupKeep: duplicate ids bail to the distributed path, same rows") {
    val dup = emb.union(emb.limit(4))
    parity("semDedup(dup-ids)")(() =>
      Similarity.semDedupKeep(dup, "vec_id", "embedding", minQdot = 2000000L))
  }

  test("mmrRerank: driver-local == distributed (ties, missing vector, k > pool)") {
    // two probes; vec 42 tops probe 0's shortlist by qdot but has NO
    // vector row — the distributed inner pen join can only ever pick
    // it in round 1, which the fast path must replicate; vecs 7/8 tie
    // on qdot (id tie-break); k exceeds probe 1's pool
    val shortlist = Seq(
      (0L, 42L, 900L), (0L, 7L, 800L), (0L, 8L, 800L), (0L, 9L, 500L),
      (1L, 7L, 300L), (1L, 9L, 250L)
    ).toDF("probe_id", "vec_id", "qdot")
    val vecs = Seq(
      (7L, Array(1.0f, 0.0f, 0.5f)),
      (8L, Array(1.0f, 0.1f, 0.5f)),
      (9L, Array(-1.0f, 0.2f, 0.25f))
    ).toDF("vec_id", "embedding")
    // the switch point of the 6-row shortlist
    val fast = parity("mmrRerank", bounds = Seq(5L, 6L, 7L))(() =>
      Similarity.mmrRerank(shortlist, vecs, "vec_id", "embedding",
        k = 4, lambdaPermille = 700))
    // round 1 must have picked the vector-less top hit for probe 0
    assert(fast.exists(_.startsWith("[0,42,900,1]")), s"round-1 pick wrong: $fast")
  }
}
