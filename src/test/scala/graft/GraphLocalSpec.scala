package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LocalRelation}
import org.apache.spark.sql.functions._

import graft.ext.Graph

/** Pins the r14 driver-local graph fast paths against the distributed
  * loops (`graft.local.max=0` disables the fast path): every
  * algorithm must produce IDENTICAL rows on a fixture that exercises
  * the semantic corners — duplicate edges (pageRank degree counts
  * multiplicity), a self-loop, directed asymmetry, isolated nodes,
  * edge endpoints outside the node set, and an empty seed overlap. */
class GraphLocalSpec extends SparkSpec {
  import spark.implicits._

  // 1→2 twice (multiplicity), 2→3, 3→1 (cycle), 4→4 (self-loop),
  // 5→6 / 6→5, 7 isolated (no edges), 99→1 (src outside nodes),
  // 2→88 (dst outside nodes)
  private def edges = Seq(
    (1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (4L, 4L),
    (5L, 6L), (6L, 5L), (99L, 1L), (2L, 88L))
    .toDF("src", "dst")
  private def nodes = (1L to 7L).toDF("id")
  private def seeds = Seq(1L, 5L, 42L).toDF("id") // 42 not a node

  // switch-point row counts on this fixture: 9 edge rows, 7 nodes, 3
  // seeds; the deduped symmetrization is 13 pairs with the self-loop
  // (labelPropagation) and 12 without it (kCore, bfsDepth)
  private val nEdges = 9L
  private val nNodes = 7L
  private val nSeeds = 3L
  private val nUndLoops = 13L
  private val nUnd = 12L

  private def rowsOf(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

  /** A driver-local result is a LocalRelation (under casts); the
    * distributed loops always end in a join, an aggregate or a
    * checkpointed RDD. */
  private def ranLocal(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
      plan.find(p => p.isInstanceOf[Join] || p.isInstanceOf[Aggregate]).isEmpty
  }

  /** Parity against the distributed loop (`graft.local.max=0`), at the
    * default bound and at the switch point: `n` is the combined row
    * count the site compares against its bound on this fixture, so
    * bound n−1 must take the loop and bounds n, n+1 the local twin —
    * with identical rows every time. */
  private def paritySuite(name: String, n: Long)(run: () => DataFrame): Unit = {
    val fast = rowsOf(run())
    val loop = withLocalMax(0)(rowsOf(run()))
    assert(fast == loop, s"$name: driver-local fast path diverges from the loop")
    assert(fast.nonEmpty, s"$name: empty result — the parity check is vacuous")
    for (bound <- Seq(n - 1, n, n + 1)) withLocalMax(bound) {
      val df = run()
      assert(ranLocal(df) == (bound >= n),
        s"$name: bound $bound did not switch at n = $n (local = ${ranLocal(df)})")
      assert(rowsOf(df) == loop, s"$name: rows at bound $bound diverge from the loop")
    }
  }

  test("pageRank: driver-local == distributed") {
    paritySuite("pageRank", nNodes + nEdges)(() =>
      Graph.pageRank(edges, "src", "dst", nodes, "id", iters = 3))
  }

  test("trustRank: driver-local == distributed") {
    paritySuite("trustRank", nNodes + nEdges)(() =>
      Graph.trustRank(edges, "src", "dst", nodes, "id", seeds, "id", iters = 3))
  }

  test("labelPropagation: driver-local == distributed") {
    paritySuite("labelPropagation", nNodes + nUndLoops)(() =>
      Graph.labelPropagation(edges, "src", "dst", nodes, "id", iters = 3))
  }

  test("kCore: driver-local == distributed") {
    for (k <- Seq(1L, 2L))
      paritySuite(s"kCore(k=$k)", nUnd)(() =>
        Graph.kCore(edges, "src", "dst", k = k, rounds = 3))
  }

  test("bfsDepth: driver-local == distributed") {
    paritySuite("bfsDepth", nNodes + nUnd + nSeeds)(() =>
      Graph.bfsDepth(edges, "src", "dst", nodes, "id", seeds, "id", rounds = 2))
  }
}
