package graft.ext

import org.apache.spark.sql.Row

import scala.collection.mutable

/** The exact int64 kernel behind every driver-local IVF path: the IVF
  * and PQ trainers, `annIndex`'s local assign and encode, `probeIndex`'s
  * local serve, `knnGraphIvf`, `semDedupKeep` and `ivfPqResidualTopK`.
  * Vectors arrive pre-quantized by the engine expression, so the driver
  * never touches a float. Each shared decision is written once, as the
  * twin of one distributed operator:
  *   - assign: argmax of 2·dot(x, c) − |c|², ties to the smallest
  *     cent_id (`ivfAssign`'s max_by of (cd, −cent_id));
  *   - route: the top `nprobe` centroids by (cd desc, cent_id asc) (the
  *     probe window, or `TopKPerKey` in the kNN graph);
  *   - encode: per subspace the argmin of ‖sv − cv‖², ties to the
  *     smallest code (`pqCodes`' min_by of (d, code));
  *   - ADC table: ‖sv − cv‖² for each (sub, code) cell present in the
  *     book, so a code without a cell contributes nothing (the inner
  *     join);
  *   - top-k: by score, then id ascending (`rankTopK`, and the ADC
  *     shortlist's `TopKPerKey`).
  */
private[ext] object LocalIvf {

  /** (cent_id or code, vector) pairs: trained centroids or one
    * subspace's codebook. */
  type Cents = Array[(Long, Array[Long])]

  /** Exact int64 dot, the twin of the codegen'd `QuantizedDot`. */
  def dot(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** ‖a − b‖² from three dots, in the order of the `qdist` expression. */
  def dist(a: Array[Long], b: Array[Long]): Long =
    dot(a, a) - 2L * dot(a, b) + dot(b, b)

  def slice(v: Array[Long], sub: Int, subDim: Int): Array[Long] =
    java.util.Arrays.copyOfRange(v, sub * subDim, (sub + 1) * subDim)

  /** The trainer sample's (sid, qv) rows as (id, vector), checked once:
    * a null id or vector, or a vector whose length differs from the
    * first row's, fails loudly here, naming the operator and column. */
  def sample(raw: Array[Row], who: String, vecCol: String): Cents = {
    var dim = -1
    raw.map { r =>
      require(!r.isNullAt(0), s"$who: null id in the training sample of '$vecCol'")
      val id = r.getLong(0)
      require(!r.isNullAt(1), s"$who: null vector in column '$vecCol' (id $id)")
      val v = r.getSeq[Long](1).toArray
      if (dim < 0) dim = v.length
      require(v.length == dim, s"$who: ragged vector in column '$vecCol' (id $id): " +
        s"dim ${v.length}, but the first row's dim is $dim")
      (id, v)
    }
  }

  /** Runs `f` over `[0, n)` cut into contiguous chunks, one per thread
    * (at most one thread per `grain` items), and returns the chunk
    * results in order. Callers merge chunks by addition or
    * concatenation, so the split cannot change a result. */
  def chunks[T](n: Int, grain: Int)(f: (Int, Int) => T): IndexedSeq[T] = {
    val nThreads = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(), n / grain + 1))
    val bounds = (0 to nThreads).map(t => (n.toLong * t / nThreads).toInt)
    (0 until nThreads).map { t =>
      java.util.concurrent.CompletableFuture.supplyAsync(() => f(bounds(t), bounds(t + 1)))
    }.map(_.join())
  }

  /** A coarse quantizer on the driver. `nrm` is |c|²: recomputed for
    * freshly trained centroids, read back for a persisted index. */
  final class Coarse(val ids: Array[Long], val vecs: Array[Array[Long]], nrm: Array[Long]) {
    def this(cents: Cents) = this(cents.map(_._1), cents.map(_._2), cents.map(c => dot(c._2, c._2)))

    def k: Int = ids.length

    /** 2·dot(x, c) − |c|² per centroid, written into `cd`. */
    def affinity(x: Array[Long], cd: Array[Long] = new Array[Long](k)): Array[Long] = {
      var c = 0
      while (c < k) { cd(c) = 2L * dot(x, vecs(c)) - nrm(c); c += 1 }
      cd
    }

    /** Assign: the argmax of `cd`, ties to the smallest cent_id. */
    def assign(cd: Array[Long]): Int = {
      var best = 0
      var c = 1
      while (c < k) {
        if (cd(c) > cd(best) || (cd(c) == cd(best) && ids(c) < ids(best))) best = c
        c += 1
      }
      best
    }

    /** Route: the first `nprobe` centroids by (cd desc, cent_id asc). */
    def route(cd: Array[Long], nprobe: Int): Array[Int] = {
      val order = Array.tabulate(k)(Integer.valueOf)
      java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
        val d = java.lang.Long.compare(cd(b), cd(a))
        if (d != 0) d else java.lang.Long.compare(ids(a), ids(b))
      })
      order.take(nprobe).map(_.intValue)
    }
  }

  /** One synchronous Lloyd round over the sample: every vector goes to
    * its assigned centroid, which moves to the per-component truncating
    * mean of its list (`s div n`); a centroid with an empty list keeps
    * its vector (the left-join coalesce). Chunk-parallel over the
    * sample, per-chunk (count, sum) accumulators merged by addition. */
  def lloydRound(sample: Array[Array[Long]], cents: Cents): Cents = {
    val k = cents.length
    if (k == 0 || sample.isEmpty) return cents
    val dim = sample(0).length
    val coarse = new Coarse(cents)
    val counts = new Array[Long](k)
    val sums = Array.ofDim[Long](k, dim)
    chunks(sample.length, 256) { (lo, hi) =>
      val cs = new Array[Long](k)
      val ss = Array.ofDim[Long](k, dim)
      val cd = new Array[Long](k)
      var r = lo
      while (r < hi) {
        val x = sample(r)
        val best = coarse.assign(coarse.affinity(x, cd))
        cs(best) += 1
        val s = ss(best)
        var i = 0
        while (i < dim) { s(i) += x(i); i += 1 }
        r += 1
      }
      (cs, ss)
    }.foreach { case (cs, ss) =>
      var c = 0
      while (c < k) {
        counts(c) += cs(c)
        var i = 0
        while (i < dim) { sums(c)(i) += ss(c)(i); i += 1 }
        c += 1
      }
    }
    cents.zipWithIndex.map { case ((cid, cv0), c) =>
      if (counts(c) == 0) (cid, cv0)
      else (cid, Array.tabulate(dim)(i => sums(c)(i) / counts(c)))
    }
  }

  /** Coarse training over hash-ordered rows: the first `numCentroids`
    * rows seed the centroids, the first `trainSample` rows are the
    * sample. */
  def trainCoarse(rows: Cents, numCentroids: Int, trainRounds: Int, trainSample: Int): Cents = {
    val sample = rows.map(_._2).take(trainSample)
    var cents = rows.take(numCentroids)
    for (_ <- 1 to trainRounds) cents = lloydRound(sample, cents)
    cents
  }

  /** PQ codebook training, indexed by subspace: the first `codebook`
    * sample vectors seed each subspace (code = sample rank), then one
    * Lloyd round per subspace. */
  def trainBook(
      sample: Array[Array[Long]], numSub: Int, subDim: Int, codebook: Int): Array[Cents] = {
    val nSeeds = math.min(codebook, sample.length)
    Array.tabulate(numSub) { sub =>
      val seeds = Array.tabulate(nSeeds)(code => (code.toLong, slice(sample(code), sub, subDim)))
      lloydRound(sample.map(slice(_, sub, subDim)), seeds)
    }
  }

  /** Encode: per subspace the code nearest `v` (ties to the smallest
    * code), as (sub, code) pairs; a subspace with an empty book has
    * no code. */
  def encode(v: Array[Long], book: Array[Cents], subDim: Int): Array[(Long, Long)] =
    book.indices.toArray.flatMap { sub =>
      val sv = slice(v, sub, subDim)
      var best: (Long, Long) = null // (d, code)
      book(sub).foreach { case (code, cv) =>
        val d = dist(sv, cv)
        if (best == null || d < best._1 || (d == best._1 && code < best._2)) best = (d, code)
      }
      Option(best).map(b => (sub.toLong, b._2))
    }

  /** ADC table: per subspace, code → ‖sub-slice of q − cv‖² for every
    * cell present in `book`. */
  def adcTable(q: Array[Long], book: Array[Cents], subDim: Int): Array[mutable.LongMap[Long]] =
    Array.tabulate(book.length) { sub =>
      val sv = slice(q, sub, subDim)
      val t = mutable.LongMap.empty[Long]
      book(sub).foreach { case (code, cv) => t(code) = dist(sv, cv) }
      t
    }

  /** A candidate's ADC score: the sum of its (sub, code) cells present
    * in `table`; None when none is (it never joins a cell). */
  def adcScore(table: Array[mutable.LongMap[Long]], codes: Iterable[(Long, Long)]): Option[Long] = {
    var sum = 0L
    var matched = false
    codes.foreach { case (sub, code) =>
      if (sub >= 0 && sub < table.length)
        table(sub.toInt).get(code).foreach { d => sum += d; matched = true }
    }
    if (matched) Some(sum) else None
  }

  /** Top-k of (score, id) candidates: score descending when `desc`,
    * else ascending; ties to the smaller id. */
  def topK(cand: Seq[(Long, Long)], k: Int, desc: Boolean): Seq[(Long, Long)] =
    cand.sortWith((a, b) =>
      (if (desc) a._1 > b._1 else a._1 < b._1) || (a._1 == b._1 && a._2 < b._2)).take(k)
}
