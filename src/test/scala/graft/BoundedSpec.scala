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
}
