package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in collector. The benchmark wraps each public engine call
  * (plus its materialization, since Spark is lazy) in a span; a
  * `SparkListener` and a `QueryExecutionListener` count what Spark did
  * meanwhile. Spans and counts stay in memory; `finish()` drains the
  * listener bus and attributes every job, task and planning phase to the
  * innermost span open when it started. The client is one thread and
  * calls never overlap, so time-based attribution is exact. */
object Trace {
  final case class Span(
      id: Int, name: String, parent: Int, iteration: Int, op: Int,
      startMs: Long, endMs: Long, wallNs: Long)

  /** What Spark did inside one span (or one iteration). */
  final case class Counters(
      wallMs: Double, planMs: Double, driverMs: Double, jobs: Long, stages: Long,
      tasks: Long, taskMs: Double, shuffleMb: Double, resultMb: Double,
      outputMb: Double, spillMb: Double, rowsRead: Long)

  /** `Span.iteration` outside the timed iterations (which count from 0). */
  val setupIteration = -1
  val warmIteration = -2
  val finalIteration = -3

  private final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  private final class StageSum {
    var tasks = 0L; var taskMs = 0L; var shuffle = 0L; var result = 0L
    var output = 0L; var spill = 0L; var rowsRead = 0L
  }
}

final class Trace(spark: SparkSession) {

  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[Int]
  private var nextId = 0

  // listener state, written on the listener-bus thread
  private val jobs = ArrayBuffer.empty[Job]
  private val stageSums = scala.collection.mutable.HashMap.empty[Int, StageSum]
  private val phases = ArrayBuffer.empty[(Long, Long)] // (startMs, durationMs)
  private val markerSeen = new CountDownLatch(1)
  private val markerKey = "perfbench.marker"
  private var markerJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      if (e.properties != null && e.properties.getProperty(markerKey) != null) markerJob = e.jobId
      else jobs += Job(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      // only the marker job's end releases the latch
      if (e.jobId == markerJob) markerSeen.countDown()
      else jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      val s = stageSums.getOrElseUpdate(e.stageId, new StageSum)
      s.tasks += 1
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.result += m.resultSize
        s.output += m.outputMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.rowsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty) Trace.this.synchronized {
        phases += ((ps.map(_.startTimeMs).min, ps.map(_.durationMs).sum))
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  /** Run `body` inside a span; nested calls become child spans. */
  def span[T](name: String, iteration: Int, op: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = if (open.isEmpty) -1 else open.top
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    open.push(id)
    try body
    finally {
      open.pop()
      val wall = System.nanoTime() - t0
      spans += Span(id, name, parent, iteration, op, startMs, System.currentTimeMillis(), wall)
    }
  }

  /** Wait until the listener bus has delivered every event so far: a
    * marker job is the last event posted, and the bus is in order. */
  def finish(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(markerKey, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markerKey, null)
    require(markerSeen.await(60, TimeUnit.SECONDS), "listener bus did not drain within 60 s")
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def allSpans: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** Counters of every span, each job and planning phase going to the
    * innermost span whose interval holds its start. */
  def counters: Map[Int, Counters] = synchronized {
    val all = allSpans
    val children = all.groupBy(_.parent)
    def innermost(t: Long): Option[Span] = {
      var cur: Option[Span] = all.find(s => s.parent == -1 && s.startMs <= t && t <= s.endMs)
      var deeper = true
      while (deeper) {
        val next = cur.flatMap(c => children.getOrElse(c.id, Nil)
          .find(s => s.startMs <= t && t <= s.endMs))
        if (next.isDefined) cur = next else deeper = false
      }
      cur
    }
    val jobOf = jobs.flatMap(j => innermost(j.startMs).map(_.id -> j)).groupBy(_._1)
    val planOf = phases.flatMap(p => innermost(p._1).map(_.id -> p._2)).groupBy(_._1)
    // a stage listed by several jobs (skipped on reuse) ran in the first
    val owner = jobs.sortBy(_.id).flatMap(j => j.stages.map(_ -> j.id))
      .groupBy(_._1).map { case (st, js) => st -> js.head._2 }
    // a parent's counters include its children's
    def descendants(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(descendants)
    all.map { s =>
      val sub = descendants(s).map(_.id)
      val js = sub.flatMap(id => jobOf.getOrElse(id, Nil).map(_._2))
      val st = js.flatMap(j => j.stages.filter(owner(_) == j.id)).flatMap(stageSums.get)
      // time with at least one job running, clipped to the span
      val busy = js.map(j => (math.max(j.startMs, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - math.max(a, reach), b)
        }._1
      val wallMs = s.wallNs / 1e6
      val mb = 1024.0 * 1024.0
      s.id -> Counters(
        wallMs = wallMs,
        planMs = sub.flatMap(id => planOf.getOrElse(id, Nil).map(_._2)).sum.toDouble,
        driverMs = math.max(0.0, wallMs - busy),
        jobs = js.size.toLong,
        stages = st.size.toLong,
        tasks = st.map(_.tasks).sum,
        taskMs = st.map(_.taskMs).sum.toDouble,
        shuffleMb = st.map(_.shuffle).sum / mb,
        resultMb = st.map(_.result).sum / mb,
        outputMb = st.map(_.output).sum / mb,
        spillMb = st.map(_.spill).sum / mb,
        rowsRead = st.map(_.rowsRead).sum)
    }.toMap
  }
}
