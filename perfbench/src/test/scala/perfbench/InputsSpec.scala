package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  /** Order-sensitive digest of generated rows — the determinism tests
    * compare these. */
  private def digestDocs(rows: Array[(Long, String)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { case (id, t) =>
      md.update(java.nio.ByteBuffer.allocate(8).putLong(id).array())
      md.update(t.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def digestVecs(rows: Array[(Long, Array[Float])]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { case (id, v) =>
      val b = java.nio.ByteBuffer.allocate(8 + 4 * v.length).putLong(id)
      v.foreach(b.putFloat)
      md.update(b.array())
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def docs(seed: Long, copies: Int) =
    Inputs.docCopies(Inputs.baseCorpus(seed), Inputs.ciphers(seed, copies), 0 until copies)

  private def vecs(seed: Long, copies: Int) =
    Inputs.vecCopies(Inputs.baseVectors(seed), Inputs.signs(seed, copies), 0 until copies)

  test("the same seed gives byte-identical inputs") {
    assert(digestDocs(docs(7, 4)) == digestDocs(docs(7, 4)))
    assert(digestVecs(vecs(7, 4)) == digestVecs(vecs(7, 4)))
  }

  test("a different seed gives different inputs") {
    assert(digestDocs(docs(7, 4)) != digestDocs(docs(8, 4)))
    assert(digestVecs(vecs(7, 4)) != digestVecs(vecs(8, 4)))
    assert(Inputs.ciphers(7, 4).toSeq != Inputs.ciphers(8, 4).toSeq)
  }

  test("adjacent seeds draw unrelated random streams") {
    def draws(seed: Long) = { val r = Inputs.rng(seed, 1); Seq.fill(1000)(r.nextLong()).toSet }
    assert((draws(1) intersect draws(2)).isEmpty)
  }

  test("the base corpus has the shape of sf0.1 documents") {
    // sf0.1: 5,000 docs, 270,704 tokens, 256 near-dup pairs over 477
    // clustered docs in 233 components; a seed's draw stays near them
    for (seed <- 1L to 3L) {
      val base = Inputs.baseCorpus(seed)
      val pairs = Inputs.exactPairs(base)
      val clustered = Inputs.components(pairs).size
      assert(base.length == 5000)
      assert(math.abs(base.map(Inputs.tokens(_).length).sum - 270704) < 270704 * 0.02)
      assert(pairs.length > 200 && pairs.length < 320, s"seed $seed: ${pairs.length} pairs")
      assert(clustered > 380 && clustered < 600, s"seed $seed: $clustered clustered docs")
    }
  }

  test("copies share no word, so expected answers scale exactly with the copy count") {
    // the one-letter word "a" has only 26 images, so 26 copies at most
    val cs = Inputs.ciphers(3, 26)
    val words = Inputs.vocab :+ Inputs.dupWord
    val images = cs.map(c => words.map(c(_)).toSet)
    assert(images.map(_.size).forall(_ == words.length))
    assert(images.flatten.toSet.size == cs.length * words.length)
    assertThrows[IllegalArgumentException](Inputs.ciphers(3, 27))
  }

  test("ciphering keeps every within-copy near-duplicate pair") {
    val base = Inputs.baseCorpus(5)
    val pairs = Inputs.exactPairs(base)
    assert(pairs.nonEmpty)
    val c = Inputs.ciphers(5, 2)(1)
    assert(Inputs.exactPairs(base.map(c(_))).toSeq == pairs.toSeq)
  }

  test("exact pairs and components follow their definitions on a hand-made corpus") {
    val texts = Array(
      "a b c d e f g h i j", // 0
      "a b c d e f g h i j k", // 1: near-dup of 0 (8/9 shared shingles)
      "k l m n o p q r s t", // 2
      "a b c d e f g h i", // 3: near-dup of 0 and 1
      "z y x w v u t s r q")
    val pairs = Inputs.exactPairs(texts).toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))
    assert(Inputs.components(pairs.toArray) == Map(0L -> 0L, 1L -> 0L, 3L -> 0L))
  }

  test("serve's delete plan finds the exact nearest live neighbours") {
    val rows = vecs(4, 1)
    val live = Array.tabulate(rows.length)(_ % 3 != 0)
    def dot(a: Array[Float], b: Array[Float]) = a.indices.map(i => a(i).toDouble * b(i)).sum
    val v = rows(0)._2
    val want = rows.indices.filter(live).sortBy(j => -dot(rows(j)._2, v)).take(3).map(rows(_)._1)
    assert(Serve.nearest(v, rows, live, 3) == want)
  }

  test("sign flips keep within-copy dot products") {
    val v = vecs(9, 2)
    val n = Inputs.baseVecs
    def dot(a: Array[Float], b: Array[Float]) = a.indices.map(i => a(i).toDouble * b(i)).sum
    assert(math.abs(dot(v(0)._2, v(1)._2) - dot(v(n)._2, v(n + 1)._2)) < 1e-6)
  }
}

/** The engine sees the materialized parquet files, so those must be
  * byte-identical for one seed too. */
class MaterializeSpec extends AnyFunSuite {

  private def partBytes(dir: String): Seq[Seq[Byte]] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString.take(10))
      .map(p => java.nio.file.Files.readAllBytes(p).toSeq).toSeq
    finally s.close()
  }

  test("the same seed materializes byte-identical parquet, another seed does not") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val dir = java.nio.file.Files.createTempDirectory("perfbench-inputs").toString
    try {
      def write(seed: Long, name: String) = {
        val rows = Inputs.docCopies(Inputs.baseCorpus(seed), Inputs.ciphers(seed, 1), 0 until 1)
        Workloads.docs(spark, rows, s"$dir/$name")
        partBytes(s"$dir/$name")
      }
      val a = write(7, "a")
      assert(a.nonEmpty)
      assert(a == write(7, "b"))
      assert(a != write(8, "c"))
    } finally {
      spark.stop()
      Workloads.delete(dir)
    }
  }
}
