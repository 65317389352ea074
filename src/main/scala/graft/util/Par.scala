package graft.util

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan parallelism (optimization guide §2.5, "input
  * skew: one huge unsplittable file … repartition immediately after the
  * read").
  *
  * The gate fixtures are single-file, single-row-group parquet, so every
  * scan plans ONE input partition and every CPU-heavy per-row kernel
  * above it (tokenize, shingle, MinHash, n-gram, payload hash) runs
  * serially on one core — profiled at 4.9 s for a single 4.85 s task on
  * `search_phrase` while 31 cores idled. Parquet row-group alignment
  * makes `maxPartitionBytes`/`openCostInBytes` useless here (extra byte
  * ranges of a one-row-group file produce empty tasks), so the only
  * lever is an explicit round-robin repartition after the read.
  *
  * `widen` is the identity whenever the scan already carries at least
  * half the session's default parallelism — which any real (≥ cores ×
  * row groups) corpus does — so cluster plans are untouched: the knob
  * adapts to the INPUT's planned split count, not to local[32]. Callers
  * are the CPU-bound kernels whose per-row work dwarfs one extra
  * exchange of their (projected) input; results are unchanged because
  * every downstream operator in this engine is partition-count
  * independent by contract (the reference's R-knob invariant).
  */
object Par {
  def widen(df: DataFrame): DataFrame = widen(df, Int.MaxValue)

  /** `widen` with a cap below the session default parallelism — for
    * kernels whose OUTPUT is cached and re-read by several later
    * stages: a full-width cache multiplies every downstream stage's
    * task count (the r13 dedup A/B measured widen-to-32 a net LOSS
    * for exactly that reason), while a small cap still unserializes
    * the cache build. Cap choice is a measured per-callsite decision,
    * like widen placement itself. */
  def widen(df: DataFrame, cap: Int): DataFrame = {
    if (df.isStreaming) return df // no .rdd probe on a stream
    val target =
      math.min(cap, df.sparkSession.sparkContext.defaultParallelism)
    // .rdd only PLANS the frame (no job); scans report their file splits
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

  /** Run independent Spark actions concurrently and wait for all of
    * them (optimization guide §2.6, "overlap independent jobs"): the
    * scheduler happily runs several jobs at once inside one
    * application — actions are only sequential because driver code
    * calls them sequentially. The index build/maintenance choreographies
    * (text + ANN) issue 2–4 independent writes back to back; each one
    * is a sub-second job whose fixed scheduling/planning latency
    * dominates, so overlapping them cuts the choreography's wall time
    * by roughly the number of overlapped actions. Results are
    * untouched: the actions write DISJOINT outputs and any
    * happens-before edge (e.g. term_df reads the postings just
    * written) stays inside one task closure. Failures propagate: the
    * first failed action's exception is rethrown after all complete. */
  def jobs(tasks: Seq[() => Unit]): Unit = {
    if (tasks.isEmpty) return
    if (tasks.size == 1) return tasks.head()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = t()
        }))
      var failure: Throwable = null
      futures.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (failure == null) failure = e.getCause
        }
      }
      if (failure != null) throw failure
    } finally pool.shutdown()
  }
}
