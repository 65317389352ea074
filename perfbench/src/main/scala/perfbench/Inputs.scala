package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Everything a workload feeds the engine comes
  * from here, and the same seed always yields the same bytes.
  *
  * A base corpus is drawn first, matched to the measured shape of the
  * sf0.1 `documents`/`embeddings` tables (which the benchmark does not
  * read): 5,000 documents of 10–99 words drawn uniformly from a
  * 30-word vocabulary; 5% of them near-duplicates of a random original,
  * almost all the original with `dup` appended, the rest exact copies,
  * shuffled so a duplicate may come before its original; and 2,000
  * isotropic unit vectors of 64 dimensions (the sf0.1 labels carry no
  * geometric signal). The workloads then inflate the base f-fold with
  * the scheme of `graft.BenchScale`: document copy k is passed through
  * an affine letter cipher (a bijection on words, so every within-copy
  * similarity is kept exactly and cross-copy word sets are disjoint),
  * and vector copy k is sign-flipped coordinate-wise by a ±1 pattern
  * (within-copy dot products are kept exactly, cross-copy ones are
  * randomised). Expected answers therefore scale exactly ×f. The seed
  * picks the base corpus, the ciphers, the sign patterns, and every
  * query, probe and delete set drawn by the workloads.
  */
object Inputs {

  val vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")
  val dupWord = "dup"
  val baseDocs = 5000
  val baseVecs = 2000
  val dim = 64
  /** Copy k's ids are offset by k × idStride, as in `BenchScale`. */
  val idStride = 1000000000L

  /** An independent random stream per purpose, all derived from the seed.
    * The start state is hashed: `SplittableRandom` steps its state by a
    * fixed gamma, so unhashed linear starts would make seed s + 1 replay
    * seed s's stream one draw later. */
  def rng(seed: Long, purpose: Int): SplittableRandom =
    new SplittableRandom(mix(mix(seed) + purpose))

  /** splitmix64 finaliser. */
  private def mix(h: Long): Long = {
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Base texts, index = base doc id. */
  def baseCorpus(seed: Long): Array[String] = {
    val r = rng(seed, 1)
    val dupSlots = Array.fill(baseDocs)(r.nextInt(20) == 0)
    val originals = Array.fill(dupSlots.count(!_))(
      Array.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.length))).mkString(" "))
    val dups = Array.fill(dupSlots.count(identity)) {
      val src = originals(r.nextInt(originals.length))
      if (r.nextInt(32) == 0) src else s"$src $dupWord"
    }
    val docs = originals ++ dups
    // seeded Fisher–Yates, so duplicates land anywhere
    var i = docs.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = docs(i); docs(i) = docs(j); docs(j) = t
      i -= 1
    }
    docs
  }

  /** Base vectors, index = base vec id: isotropic Gaussian, normalised. */
  def baseVectors(seed: Long): Array[Array[Float]] = {
    val r = rng(seed, 2)
    Array.fill(baseVecs) {
      val v = Array.fill(dim)(gaussian(r))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  private val alpha = "abcdefghijklmnopqrstuvwxyz"
  private val units = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Affine letter cipher i → a·i + b (mod 26); a bijection on words. */
  final case class Cipher(a: Int, b: Int) {
    private val table = Array.tabulate(26)(i => alpha((a * i + b) % 26))
    def apply(text: String): String = {
      val out = new Array[Char](text.length)
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        out(i) = if (c >= 'a' && c <= 'z') table(c - 'a') else c
        i += 1
      }
      new String(out)
    }
  }

  /** n ciphers in seeded order whose images of the vocabulary (and of
    * `dup`) are pairwise disjoint, so no word — and hence no shingle —
    * is shared across copies. */
  def ciphers(seed: Long, n: Int): Array[Cipher] = {
    val r = rng(seed, 3)
    val all = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(for (a <- units.toSeq; b <- 0 until 26) yield Cipher(a, b))
    val words = vocab :+ dupWord
    val taken = scala.collection.mutable.HashSet.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[Cipher]
    val it = all.iterator
    while (out.size < n && it.hasNext) {
      val c = it.next()
      val image = words.map(c(_))
      if (!image.exists(taken)) { taken ++= image; out += c }
    }
    require(out.size == n, s"only ${out.size} copies with disjoint vocabularies, asked for $n")
    out.toArray
  }

  /** n seeded ±1 patterns (true = flip). */
  def signs(seed: Long, n: Int): Array[Array[Boolean]] = {
    val r = rng(seed, 4)
    Array.fill(n)(Array.fill(dim)(r.nextBoolean()))
  }

  /** Documents of the given copies: (id, text). */
  def docCopies(base: Array[String], cs: Array[Cipher], copies: Range): Array[(Long, String)] =
    copies.toArray.flatMap { k =>
      base.indices.map(i => (k * idStride + i, cs(k)(base(i))))
    }

  /** Vectors of the given copies: (id, vector). */
  def vecCopies(
      base: Array[Array[Float]],
      sg: Array[Array[Boolean]],
      copies: Range): Array[(Long, Array[Float])] =
    copies.toArray.flatMap { k =>
      base.indices.map(i => (k * idStride + i,
        Array.tabulate(dim)(d => if (sg(k)(d)) -base(i)(d) else base(i)(d))))
    }

  // ---- reference answers, computed on the base corpus ----

  def tokens(text: String): Array[String] = text.split(' ').filter(_.nonEmpty)

  /** Word counts of a text collection, map.py semantics. */
  def wordCounts(texts: Iterable[String]): Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach(t => tokens(t).foreach(w => m(w) = m.getOrElse(w, 0L) + 1L))
    m.toMap
  }

  /** Exact all-pairs near-duplicates: (a, b) with a < b and the Jaccard
    * similarity of their distinct word-3-gram sets ≥ threshold — the
    * set `Dedup.pipeline` must return, since its LSH only filters
    * candidates and every candidate is verified exactly. Co-occurrence
    * counts over an inverted index give each intersection size. */
  def exactPairs(texts: Array[String], threshold: Double = 0.6, n: Int = 3): Array[(Long, Long)] = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    val sets: Array[Array[Int]] = texts.map { t =>
      val tk = tokens(t)
      (0 to tk.length - n).map(i => ids.getOrElseUpdate(
        tk.slice(i, i + n).mkString(" "), ids.size)).distinct.toArray
    }
    val postings = Array.fill(ids.size)(scala.collection.mutable.ArrayBuffer.empty[Int])
    sets.indices.foreach(d => sets(d).foreach(s => postings(s) += d))
    val shared = new Array[Int](texts.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sets.indices.foreach { d =>
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      sets(d).foreach(s => postings(s).foreach { e =>
        if (e > d) { if (shared(e) == 0) touched += e; shared(e) += 1 }
      })
      touched.foreach { e =>
        val inter = shared(e)
        val union = sets(d).length + sets(e).length - inter
        if (sets(d).nonEmpty && sets(e).nonEmpty && inter.toDouble / union >= threshold)
          out += ((d.toLong, e.toLong))
        shared(e) = 0
      }
    }
    out.toArray
  }

  /** Connected components of a pair graph: (id, min id of its component)
    * for every id that is in some pair. */
  def components(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(id => id -> find(id)).toMap
  }
}
