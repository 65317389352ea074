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
