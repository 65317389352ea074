package graft

import java.nio.file.Files

import graft.io.KvText

class KvTextSpec extends SparkSpec {
  import spark.implicits._

  test("write emits exactly R out_<j> files, empty partitions included") {
    withTempDir("kvtext") { dir =>
      val df = Seq(("alpha", 3L), ("beta", 1L)).toDF("key", "value")
      val r = 5
      KvText.write(df, "key", "value", dir, r)
      val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("out_")).sorted
      assert(files.toSeq == (0 until r).map(j => s"out_$j").sorted)
    }
  }

  test("a colonless line fails the read instead of becoming empty key/value") {
    withTempDir("kvcorrupt") { dirDir =>
      val dir = java.nio.file.Paths.get(dirDir)
      Files.writeString(dir.resolve("out_0"), "good:1\nthis line has no separator\n")
      val e = intercept[Exception] {
        KvText.read(spark, dir.toString).collect()
      }
      assert(e.getMessage.contains("malformed") ||
        Option(e.getCause).exists(_.getMessage.contains("malformed")))
    }
  }

  test("round trip preserves keys containing ':' (rsplit parity, reduce.py:9)") {
    withTempDir("kvtext") { dir =>
      val df = Seq(("a:b:c", 7L), ("plain", 1L)).toDF("key", "value")
      KvText.write(df, "key", "value", dir, 2)
      val back = KvText.read(spark, dir)
        .select($"key", $"value".cast("long"))
        .as[(String, Long)].collect().toMap
      assert(back == Map("a:b:c" -> 7L, "plain" -> 1L))
    }
  }
}
