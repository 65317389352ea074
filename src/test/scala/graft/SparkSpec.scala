package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single local session for all suites. taskMaxFailures = 3 gives
  * local mode the cluster's task-retry behavior (local[4] alone never
  * retries), which FaultToleranceSpec exercises and no healthy suite
  * ever triggers. */
object SparkSpec {
  lazy val spark: SparkSession =
    GraftSession.local(cores = 4, shufflePartitions = 4, appName = "graft-test", taskMaxFailures = 3)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf = "/root/testdata/sf0.001"

  /** Runs `body` with a fresh temp dir whose name starts with
    * `prefix`, and deletes the dir afterwards, pass or throw. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir)
    finally graft.util.Scratch.delete(dir)
  }

  /** `body`'s result and the number of Spark jobs it scheduled, from
    * any thread it starts: the jobs run under a fresh job group, which
    * Spark's inheritable local properties pass on to child threads. A
    * marker job in another group afterwards proves the listener bus
    * has delivered every earlier job start. */
  def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (group, marker) = (s"jobs-$id", s"marker-$id")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => seen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with the one bounded-local override
    * (`graft.local.max`) set to `n`, restoring it afterwards; 0 forces
    * every distributed path. */
  def withLocalMax[A](n: Long)(body: => A): A = {
    val key = "graft.local.max"
    val before = sys.props.get(key)
    sys.props(key) = n.toString
    try body
    finally before match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }
}
