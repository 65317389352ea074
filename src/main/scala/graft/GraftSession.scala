package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * The reference framework's whole control plane (master election, worker
  * membership, heartbeats, task retry, checkpoint replication — SURVEY.md §2.3)
  * is Spark's runtime here; the only knobs the reference exposed to a job were
  * `m` (number of map shards, `w7/src/master/requesthandler.h:52-60`) and `r`
  * (number of reducers). Those map onto `spark.sql.files.maxPartitionBytes`
  * and `spark.sql.shuffle.partitions` respectively.
  */
object GraftSession {

  /** Build a local session shaped for this container (local[N], AQE on,
    * UTC, small shuffle-partition count matched to cores — NOT the 200
    * default, which is wrong for local mode).
    *
    * `spark.sql.extensions=graft.functions.GraftExtensions` is the
    * documented default path: every session built here has the native
    * SQL functions (qdot, minhash_sig, shingle_hashes, rolling_hash)
    * and the top-k-per-key planner strategy with zero imperative
    * `register`/`install` calls.
    */
  def local(
      cores: Int = 32,
      shufflePartitions: Int = 32,
      appName: String = "graft",
      taskMaxFailures: Int = 1): SparkSession = {
    // local[N] never retries tasks; local[N, F] is how local mode gets the
    // cluster's task-retry behavior (the reference's worker-failure
    // re-dispatch, `w7/src/master/master.cc:31`). Production clusters get
    // spark.task.maxFailures=4 by default — nothing to configure there.
    val master =
      if (taskMaxFailures > 1) s"local[$cores, $taskMaxFailures]"
      else s"local[$cores]"
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Some fixture generators write TIMESTAMP(NANOS) parquet, which
      // Spark 4 refuses to read unless this flag maps it to Long;
      // io.Tables then truncates nanos→micros. Set once at construction
      // so library reads never mutate a shared session's conf.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release what a finished query left cached in `spark`: the
    * catalog-cached relations, then every persistent RDD. The second
    * step matters because `localCheckpoint` RDDs (CC, PageRank, LPA,
    * k-core, BFS, MMR) persist OUTSIDE the cache manager, so
    * `clearCache()` alone leaves them pinned for the rest of the
    * session. The mains call it between queries. */
  def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** The reference's `m` knob: number of map-side input shards for a given
    * total input size (`DBConnection::calc_shard_sz`,
    * `w7/src/master/dbconn.h:39-64`). In Spark, shard size is declarative.
    */
  def withMapShards(spark: SparkSession, totalBytes: Long, m: Int): Unit = {
    val bytesPerShard = math.max(1L, (totalBytes + m - 1) / m)
    spark.conf.set("spark.sql.files.maxPartitionBytes", bytesPerShard.toString)
  }

  /** The reference's `r` knob: number of reduce partitions
    * (`w7/src/master/requesthandler.h:52-60`). */
  def withReducers(spark: SparkSession, r: Int): Unit =
    spark.conf.set("spark.sql.shuffle.partitions", r.toString)
}
