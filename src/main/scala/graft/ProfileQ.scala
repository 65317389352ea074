package graft

import org.apache.spark.scheduler._

/** Optimization-round measurement harness (guide §1): for each named
  * query, run once untimed (warm codegen/broadcast machinery exactly
  * like Bench's per-query warmup), then run timed under a listener that
  * records every Spark job/stage, and print a per-query breakdown —
  * wall seconds, job count, stage count, cumulative task time, shuffle
  * bytes — plus optionally dump `.explain("formatted")` of the returned
  * DataFrame, masked by [[maskPlan]], to plans/<tag>/<name>_<suffix>.txt:
  * `diff -r` of two such directories is the plan-identity check.
  *
  * Usage: runMain graft.ProfileQ q1,q2,...  (env SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_PLAN_DIR=plans/r13, SPARK_GRAFT_PLAN_SUFFIX=before)
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val names = args.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

    val spark = GraftSession.local(cpus, cpus, "graft-profile")
    io.Tables.all.foreach(t => io.Tables(spark, sfDir, t).count())

    case class JobRec(id: Int, t0: Long, var t1: Long = 0L, var nStages: Int = 0,
        var taskMs: Long = 0L, var shufR: Long = 0L, var shufW: Long = 0L,
        desc: String)
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
    val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, e.time, desc = d)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.nStages += 1
          j.taskMs += si.taskMetrics.executorRunTime
          j.shufR += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shufW += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def scrub(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // warmup
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable => System.err.println(s"[prof] $name warmup failed: $e") }
      scrub()
      jobs.clear(); stageToJob.clear()
      recording = true
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
      val tTot = (System.nanoTime() - t0) / 1e9
      recording = false
      val js = jobs.values.toSeq.sortBy(_.id)
      val wall = js.map(j => math.max(0L, j.t1 - j.t0)).sum / 1e3
      println(f"[prof] $name%-28s total=$tTot%7.2fs build=$tBuild%6.2fs jobs=${js.size}%3d stages=${js.map(_.nStages).sum}%4d jobWall=$wall%7.2fs taskTime=${js.map(_.taskMs).sum / 1e3}%8.1fs shufR=${js.map(_.shufR).sum / 1e6}%9.1fMB shufW=${js.map(_.shufW).sum / 1e6}%9.1fMB")
      val top = js.sortBy(j => -(j.t1 - j.t0)).take(12)
      top.foreach { j =>
        println(f"[prof]    job ${j.id}%4d ${(j.t1 - j.t0) / 1e3}%6.2fs stages=${j.nStages}%3d task=${j.taskMs / 1e3}%7.2fs shufR=${j.shufR / 1e6}%8.1fMB ${j.desc.take(80)}")
      }
      planDir.foreach { pd =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pd))
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(pd, s"${name}_$suffix.txt"), maskPlan(plan))
      }
      scrub()
    }
    spark.stop()
  }

  /** `plan` with what differs between two builds of the same query
    * masked: expression ids (`#12`), exchange ids (`[plan_id=34]`), RDD
    * labels (`MapPartitionsRDD[56] at localCheckpoint at
    * Bounded.scala:78`, the file name kept) and the random suffix of
    * scratch directories (`/txtidx8841…` from `util.Scratch`). */
  def maskPlan(plan: String): String = Seq(
    """#\d+""" -> "#N",
    """\[plan_id=\d+\]""" -> "[plan_id=N]",
    """(\w+RDD)\[\d+\] at (\w+) at ([\w$]+\.scala):\d+""" -> "$1[N] at $2 at $3:N",
    """(/[A-Za-z_]+)\d{8,}""" -> "$1N")
    .foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }
}
