package graft

import org.apache.spark.sql.functions._

/** The production streaming property none of the memory-sink smoke
  * queries exercise: a query killed mid-stream and restarted from its
  * checkpoint must deliver every input row exactly once to a file
  * sink. The source is split into three files fed one per micro-batch
  * (`maxFilesPerTrigger=1`); run 1 is stopped after the first batch
  * commits, run 2 resumes from the same checkpoint. */
class StreamRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("restart from checkpoint resumes exactly-once into a parquet sink") {
    withTempDir("src") { src => withTempDir("ckpt") { ckpt => withTempDir("out") { out =>
      val ev = io.Tables(spark, sf, "events").select("event_id", "user_id", "event_type")
      ev.repartition(3).write.mode("overwrite").parquet(src)
      val total = ev.count()
      val schema = spark.read.parquet(src).schema

      def start(throttled: Boolean) = {
        val w = spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(src)
          .writeStream
          .option("checkpointLocation", ckpt)
          .format("parquet")
          .option("path", out)
        // run 1 throttles batches 10 s apart so the kill deterministically
        // lands between batch 1 and batch 2 (back-to-back triggers could
        // otherwise finish all batches before stop())
        (if (throttled)
           w.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"))
         else w).start()
      }

      // run 1: wait for the FIRST batch to commit, then kill the query
      val q1 = start(throttled = true)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (Option(q1.lastProgress).forall(_.numInputRows == 0) &&
             System.nanoTime() < deadline) Thread.sleep(50)
      q1.stop()
      val afterKill = spark.read.parquet(out).count()
      assert(afterKill > 0, "first run should have committed at least one batch")
      assert(afterKill < total, "first run must be killed before finishing for the test to mean anything")

      // run 2: same checkpoint — must deliver exactly the remainder
      val q2 = start(throttled = false)
      q2.processAllAvailable()
      q2.stop()
      val finalDf = spark.read.parquet(out)
      assert(finalDf.count() == total, "exactly-once: no loss, no duplication")
      assert(finalDf.select("event_id").distinct().count() == total)
    }}}
  }
}
