package graft

import org.apache.spark.sql.functions._

import graft.io.Sinks

/** Z-order layout: a single-column sort leaves every file spanning the
  * full range of the OTHER dimension, so a predicate on it prunes
  * nothing; the Morton layout gives every file a small rectangle in
  * both dimensions. Measured here by file-level min/max overlap — the
  * same statistics parquet scan pruning uses. */
class ZOrderSpec extends SparkSpec {

  test("z-order files prune a narrow-band 2-D predicate that a 1-D sort cannot") {
    val li = io.Tables(spark, sf, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    withTempDir("zord") { zdir => withTempDir("lin") { ldir =>
      Sinks.writeZOrdered(li, zdir, "l_partkey", "l_suppkey", files = 16)
      li.repartitionByRange(16, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(ldir)

      val mm = li.agg(
        min("l_suppkey").cast("double"), max("l_suppkey").cast("double")).head()
      // narrow band in suppkey (~10%), unbounded in partkey — the layout
      // sorted by partkey alone cannot prune this at all
      val bandLo = mm.getDouble(0) + 0.45 * (mm.getDouble(1) - mm.getDouble(0))
      val bandHi = mm.getDouble(0) + 0.55 * (mm.getDouble(1) - mm.getDouble(0))

      def filesTouched(dir: String): (Int, Int) = {
        val files = new java.io.File(dir).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        val touched = files.count { f =>
          val s = spark.read.parquet(f.getAbsolutePath)
            .agg(min("l_suppkey").cast("double"), max("l_suppkey").cast("double")).head()
          s.getDouble(1) >= bandLo && s.getDouble(0) <= bandHi
        }
        (touched, files.length)
      }
      val (zTouch, zTotal) = filesTouched(zdir)
      val (lTouch, lTotal) = filesTouched(ldir)
      assert(zTotal == 16 && lTotal == 16)
      assert(lTouch == 16, s"1-D layout should not prune the other dimension, touched $lTouch")
      assert(zTouch * 2 <= lTouch, s"z-order should halve files touched: z=$zTouch lin=$lTouch")

      // the layout is a reorganization, never a data change
      val a = spark.read.parquet(zdir).agg(
        count(lit(1)), sum("l_partkey"), sum("l_suppkey"), sum(col("l_quantity").cast("decimal(18,6)"))).head()
      val b = li.agg(
        count(lit(1)), sum("l_partkey"), sum("l_suppkey"), sum(col("l_quantity").cast("decimal(18,6)"))).head()
      assert(a == b)
    }}
  }

  test("morton code interleaves bits") {
    // x buckets to bits 0,2,4,..., y to bits 1,3,5,...: cell (1,1) of a
    // 2-bit code is z=3, (3,0) is z=5, (0,3) is z=10
    val df = spark.range(1).select(
      Sinks.mortonCode(lit(1.0), 0, 4, lit(1.0), 0, 4, bitsPerCol = 2).as("a"),
      Sinks.mortonCode(lit(3.0), 0, 4, lit(0.0), 0, 4, bitsPerCol = 2).as("b"),
      Sinks.mortonCode(lit(0.0), 0, 4, lit(3.0), 0, 4, bitsPerCol = 2).as("c"))
    assert(df.head() == org.apache.spark.sql.Row(3L, 5L, 10L))
  }
}
