package graft

import graft.util.Bounded

/** The bounded-local contract: the one override caps every site's
  * bound, and the short-read collect returns the rows exactly when the
  * input fits. */
class BoundedSpec extends SparkSpec {
  import spark.implicits._

  test("Bounded.collect at bound - 1, bound and bound + 1") {
    val df = (1L to 40L).toDF("id").repartition(3)
    assert(Bounded.collect(df, 39L).isEmpty)
    assert(Bounded.collect(df, 40L).map(_.map(_.getLong(0)).sorted.toSeq) == Some(1L to 40L))
    assert(Bounded.collect(df, 41L).map(_.length) == Some(40))
    assert(Bounded.collect(df, 0L).isEmpty)
    assert(Bounded.collect(df.limit(0), 1L).map(_.length) == Some(0))
  }

  test("graft.local.max caps each site's default bound; 0 forces the distributed paths") {
    assert(Bounded.limit(Bounded.Vectors) == Bounded.Vectors)
    withLocalMax(1000L) {
      assert(Bounded.limit(Bounded.Vectors) == 1000L)
      assert(Bounded.limit(Bounded.Edges) == 1000L)
    }
    // the override only lowers a bound
    withLocalMax(Bounded.Edges)(assert(Bounded.limit(Bounded.Vectors) == Bounded.Vectors))
    withLocalMax(0L)(assert(Bounded.limit(Bounded.Edges) == 0L))
  }

  test("Bounded.Keys: IN filters equal the broadcast semi/anti joins, null keys and column order included") {
    // the relation: a null key, a duplicate key and non-key columns
    // before the key; the delete batch: a duplicate, a null, a miss
    val rel = Seq[(String, Option[Long])](("a", Some(1L)), ("b", Some(2L)), ("c", Some(2L)),
      ("d", None), ("e", Some(3L))).toDF("v", "id")
    val del = Seq[Option[Long]](Some(2L), Some(2L), None, Some(9L)).toDF("doc_id")
    val joinDel = org.apache.spark.sql.functions.broadcast(
      del.select($"doc_id".as("id")).distinct())
    def rows(df: org.apache.spark.sql.DataFrame) = (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)
    val want = (rows(rel.join(joinDel, Seq("id"), "left_semi")),
      rows(rel.join(joinDel, Seq("id"), "left_anti")))
    // 3 and 4 delete rows straddle the local read (4 rows); 0 is distributed
    for (bound <- Seq(0L, 3L, 4L)) withLocalMax(bound) {
      val keys = new Bounded.Keys(del, "doc_id", "id")
      assert(keys.local.map(_.toSet) == (if (bound >= 4) Some(Set(2L, 9L)) else None), s"bound=$bound")
      assert((rows(keys.semi(rel)), rows(keys.anti(rel))) == want, s"bound=$bound")
    }
    assert(new Bounded.Keys(Seq(Option.empty[Long]).toDF("doc_id"), "doc_id", "id").isEmpty)
  }
}
