package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The bounded-local contract shared by every driver-local fast path.
  *
  * Below a per-site bound an operator may bring its whole input to the
  * driver and run an exact local twin of its distributed plan (same
  * int64 arithmetic, same id-broken ties, same rows); at or past the
  * bound the distributed plan runs unchanged, so a 100 TB input never
  * touches the driver. Each site keeps its own default bound:
  * [[Edges]] for the edge-list folds (connected components, the graph
  * fixpoints) and [[Vectors]] for the vector and shortlist twins (kNN
  * graph, ANN build and serve, SemDeDup, residual IVF-PQ, MMR). One
  * override caps every site at once: the system property
  * `graft.local.max`, else the environment variable
  * `SPARK_GRAFT_LOCAL_MAX`. It can only lower a bound; 0 forces every
  * distributed path (the parity specs run both sides through it).
  */
object Bounded {

  /** Edge-list sites: 4M int64 id pairs, ~64 MB on the driver. */
  val Edges: Long = 4000000L

  /** Vector and shortlist sites: the IVF trainer's own sample bound
    * (`Similarity.defaultTrainSample`), so a bounded corpus is never
    * larger than what the trainer already collects by contract. The
    * same bound covers small driver-side row sets (delete batches,
    * purge slivers): narrow rows, far lighter than vectors. */
  val Vectors: Long = 32768L

  /** The effective bound at a site: its default, capped by the one
    * override. */
  def limit(siteDefault: Long): Long =
    sys.props.get("graft.local.max")
      .orElse(sys.env.get("SPARK_GRAFT_LOCAL_MAX"))
      .map(v => math.max(0L, math.min(siteDefault, v.trim.toLong)))
      .getOrElse(siteDefault)

  /** The short-read collect: at most `bound + 1` rows reach the driver,
    * and a short read is the proof that they are ALL of `df`. Some(rows)
    * iff `df` has at most `bound` rows; None (without a job) when the
    * bound is 0. Row order is `df`'s. */
  def collect(df: DataFrame, bound: Long): Option[Array[Row]] =
    if (bound <= 0) None
    else {
      val b = math.min(bound, Int.MaxValue - 9L)
      fits(df.limit(b.toInt + 1).collect(), b)
    }

  /** [[collect]]'s completeness test over rows an operator already
    * read with a limit above `bound` (the trainer's one-row-past read). */
  def fits[T](rows: Array[T], bound: Long): Option[Array[T]] =
    if (bound > 0 && rows.length <= bound) Some(rows) else None

  /** Whether `idCol` is an integral type, the ids every twin orders and
    * keys by `cast(id as long)` (exact for these, a silent null for
    * anything else). */
  def integralId(df: DataFrame, idCol: String): Boolean =
    df.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }

  /** A purge's delete set: the distinct non-null values of `df`'s
    * column `c`, matched against a relation's column `as`. Within
    * [[Vectors]] input rows they are read once, in one [[collect]] (a
    * job for a distributed input, none for a LocalRelation), and match
    * through `IN` filters, which run no job of their own; broadcasting
    * even a LocalRelation would run one. Past the bound they stay the
    * distributed `distinct`, broadcast into semi and anti joins. */
  final class Keys(df: DataFrame, c: String, as: String) {
    /** The keys on the driver; None past the bound. */
    val local: Option[Seq[Any]] = collect(df.select(col(c)), limit(Vectors))
      .map(_.iterator.map(_.get(0)).filter(_ != null).toSeq.distinct)

    def isEmpty: Boolean = local.exists(_.isEmpty)

    private lazy val distributed = broadcast(df.select(col(c).as(as)).distinct())

    /** The rows of `rel` whose `as` is a key. */
    def semi(rel: DataFrame): DataFrame = local.fold(
      rel.join(distributed, Seq(as), "left_semi"))(ks => keyFirst(rel.where(col(as).isin(ks: _*))))

    /** The rows of `rel` whose `as` is not a key, null `as` included
      * (as in an anti-join). */
    def anti(rel: DataFrame): DataFrame = local.fold(
      rel.join(distributed, Seq(as), "left_anti"))(ks =>
      keyFirst(rel.where(col(as).isNull || !col(as).isin(ks: _*))))

    // a join USING `as` puts it first; the filters keep that schema
    private def keyFirst(rel: DataFrame): DataFrame =
      rel.select((as +: rel.columns.filterNot(_ == as).toSeq).map(col): _*)
  }

  /** `array<bigint>` without nulls: a quantized vector column. */
  val LongArray: DataType = ArrayType(LongType, containsNull = false)

  /** A twin's result as a LocalRelation (no job, no cache entry, no
    * lineage): `fields` name and type the driver rows, and every column
    * in `idCols` is cast back to the input's id type `idType`. */
  def relation(
      spark: SparkSession,
      rows: Seq[Row],
      fields: Seq[(String, DataType)],
      idType: DataType = LongType,
      idCols: Seq[String] = Nil): DataFrame = {
    val schema = StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
    val df = spark.createDataFrame(rows.asJava, schema)
    if (idCols.isEmpty) df
    else df.select(fields.map { case (n, _) =>
      if (idCols.contains(n)) col(n).cast(idType).as(n) else col(n)
    }: _*)
  }
}
