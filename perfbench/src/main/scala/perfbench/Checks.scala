package perfbench

/** Output checks. Each takes a result already collected to the driver
  * and returns the list of what is wrong with it (empty = correct), so
  * a failing check names its cause and the tests can feed it corrupted
  * results directly. */
object Checks {

  /** Order-free checksum: row count plus the wrapping sum of a 64-bit
    * hash of each row. Equal multisets give equal checksums. */
  final case class Checksum(rows: Long, sum: Long)

  def checksum[T](rows: Iterable[T])(hash: T => Long): Checksum =
    rows.foldLeft(Checksum(0L, 0L))((c, r) => Checksum(c.rows + 1, c.sum + hash(r)))

  private def mix(h: Long): Long = {
    // splitmix64 finaliser
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hashWord(r: (String, Long)): Long = mix(r._1.hashCode.toLong * 31 + mix(r._2))
  def hashPair(r: (Long, Long)): Long = mix(mix(r._1) + r._2)
  def hashId(id: Long): Long = mix(id)

  /** Word count: both engine paths give the same rows, those rows are
    * the expected counts, and Σcnt is f × the base token count. */
  def wordCount(
      dataFrameRows: Seq[(String, Long)],
      typedRows: Seq[(String, Long)],
      expected: Map[String, Long],
      expectedTotal: Long): Seq[String] = {
    val want = checksum(expected)(hashWord)
    val df = checksum(dataFrameRows)(hashWord)
    val typed = checksum(typedRows)(hashWord)
    Seq(
      (df != typed) -> s"DataFrame and typed outputs differ: $df vs $typed",
      (df != want) -> s"DataFrame output $df is not the expected counts $want",
      (dataFrameRows.map(_._2).sum != expectedTotal) ->
        s"DataFrame Σcnt ${dataFrameRows.map(_._2).sum} != $expectedTotal",
      (typedRows.map(_._2).sum != expectedTotal) ->
        s"typed Σcnt ${typedRows.map(_._2).sum} != $expectedTotal"
    ).collect { case (true, msg) => msg }
  }

  /** Near-dup dedup: the pair graph, the cluster map and the canonical
    * survivors are exactly the f-fold inflation of the base answers. */
  def dedup(
      pairs: Seq[(Long, Long)],
      clusters: Seq[(Long, Long)],
      canonicalIds: Seq[Long],
      expectedPairs: Seq[(Long, Long)],
      expectedClusters: Map[Long, Long],
      expectedCanonical: Seq[Long]): Seq[String] = {
    val got = checksum(pairs)(hashPair)
    val want = checksum(expectedPairs)(hashPair)
    val gotCl = checksum(clusters)(hashPair)
    val wantCl = checksum(expectedClusters)(hashPair)
    val gotCan = checksum(canonicalIds)(hashId)
    val wantCan = checksum(expectedCanonical)(hashId)
    Seq(
      (got.rows != want.rows) -> s"${got.rows} pairs, expected ${want.rows}",
      (got != want) -> s"pair set differs from the expected one",
      (gotCl.rows != wantCl.rows) -> s"${gotCl.rows} clustered docs, expected ${wantCl.rows}",
      (gotCl != wantCl) -> s"cluster map differs from the expected one",
      (gotCan != wantCan) -> s"canonical set ($gotCan) differs from the expected $wantCan"
    ).collect { case (true, msg) => msg }
  }

  /** One ranked answer: exactly k ids, none of them purged. */
  def ranked(ids: Seq[Long], k: Int, purged: Set[Long]): Seq[String] = {
    val bad = ids.filter(purged)
    Seq(
      (ids.size != k) -> s"${ids.size} rows, expected $k",
      bad.nonEmpty -> s"purged ids surfaced: ${bad.take(5).mkString(",")}"
    ).collect { case (true, msg) => msg }
  }

  /** A probe batch: k rows for every probe, no purged id. */
  def probes(rows: Seq[(Long, Long)], probeIds: Seq[Long], k: Int, purged: Set[Long]): Seq[String] = {
    val byProbe = rows.groupBy(_._1)
    val missing = probeIds.filterNot(byProbe.contains)
    val short = byProbe.collect { case (p, rs) if rs.size != k => s"$p:${rs.size}" }
    val bad = rows.map(_._2).filter(purged)
    Seq(
      missing.nonEmpty -> s"probes without an answer: ${missing.take(5).mkString(",")}",
      (byProbe.size != probeIds.size) -> s"${byProbe.size} probes answered, expected ${probeIds.size}",
      short.nonEmpty -> s"probes without k=$k rows: ${short.take(5).mkString(",")}",
      bad.nonEmpty -> s"purged ids surfaced: ${bad.take(5).mkString(",")}"
    ).collect { case (true, msg) => msg }
  }

  /** The served answer equals a reference computed another way, row for
    * row and in order. */
  def sameRows[T](served: Seq[T], reference: Seq[T]): Seq[String] =
    if (served == reference) Nil
    else Seq(s"served answer differs from the reference: " +
      s"${served.take(3).mkString(",")} vs ${reference.take(3).mkString(",")}")
}
