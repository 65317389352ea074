package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every output check passes on a correct result and fails on a
  * deliberately corrupted one. */
class ChecksSpec extends AnyFunSuite {

  private val counts = Map("spark" -> 3L, "join" -> 2L, "dup" -> 1L)
  private val rows = counts.toSeq

  test("word count: correct outputs pass in any order") {
    assert(Checks.wordCount(rows, rows.reverse, counts, 6L).isEmpty)
  }

  test("word count: a dropped word fails") {
    assert(Checks.wordCount(rows, rows.tail, counts, 6L).nonEmpty)
    assert(Checks.wordCount(rows.tail, rows.tail, counts, 6L).nonEmpty)
  }

  test("word count: a wrong count fails even when Σcnt is kept") {
    val skewed = Seq("spark" -> 4L, "join" -> 1L, "dup" -> 1L)
    assert(Checks.wordCount(skewed, skewed, counts, 6L).nonEmpty)
  }

  private val pairs = Seq((1L, 2L), (1L, 3L), (10L, 11L))
  private val clusters = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
  private val canonical = Seq(1L, 4L, 10L)

  test("dedup: the expected answer passes") {
    assert(Checks.dedup(pairs.reverse, clusters.toSeq, canonical, pairs, clusters, canonical).isEmpty)
  }

  test("dedup: an extra pair fails") {
    assert(Checks.dedup(pairs :+ ((4L, 5L)), clusters.toSeq, canonical, pairs, clusters, canonical).nonEmpty)
  }

  test("dedup: a swapped pair with the same count fails") {
    val swapped = pairs.updated(0, (2L, 3L))
    assert(Checks.dedup(swapped, clusters.toSeq, canonical, pairs, clusters, canonical).nonEmpty)
  }

  test("dedup: a missing clustered doc or canonical survivor fails") {
    assert(Checks.dedup(pairs, clusters.toSeq.tail, canonical, pairs, clusters, canonical).nonEmpty)
    assert(Checks.dedup(pairs, clusters.toSeq, canonical :+ 2L, pairs, clusters, canonical).nonEmpty)
  }

  test("serve: a ranked answer needs k rows and no purged id") {
    assert(Checks.ranked(Seq(1L, 2L, 3L), 3, Set(9L)).isEmpty)
    assert(Checks.ranked(Seq(1L, 2L), 3, Set(9L)).nonEmpty)
    assert(Checks.ranked(Seq(1L, 9L, 3L), 3, Set(9L)).nonEmpty)
  }

  test("serve: a probe batch needs k rows per probe and no purged id") {
    val ok = Seq((1L, 5L), (1L, 6L), (2L, 7L), (2L, 8L))
    assert(Checks.probes(ok, Seq(1L, 2L), 2, Set(9L)).isEmpty)
    assert(Checks.probes(ok.updated(3, (2L, 9L)), Seq(1L, 2L), 2, Set(9L)).nonEmpty)
    assert(Checks.probes(ok.take(3), Seq(1L, 2L), 2, Set(9L)).nonEmpty)
    assert(Checks.probes(ok.take(2), Seq(1L, 2L), 2, Set(9L)).nonEmpty)
  }

  test("serve: the post-purge answer must equal the reference scan") {
    assert(Checks.sameRows(Seq((1L, 10L), (2L, 9L)), Seq((1L, 10L), (2L, 9L))).isEmpty)
    assert(Checks.sameRows(Seq((1L, 10L), (9L, 9L)), Seq((1L, 10L), (2L, 9L))).nonEmpty)
  }
}
