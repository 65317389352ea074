package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.streaming.StreamOps

/** The streaming ANN ingest screen (round 10): arriving vectors probed
  * against the PERSISTED index under pinned quantizers. Three
  * contracts, each load-bearing for the shared oracle:
  *  - the batch form of the screen lands on probeIndex's exact rows
  *    (same routing, ADC sums, shortlist, re-rank, tie-breaks), which
  *    is what lets stream_ann_screen share ann_index_probe's replay;
  *  - the STREAMING run produces the same scored rows as the batch
  *    screen over the same arrivals;
  *  - the stream-side micro-batch plan has ZERO shuffle exchanges and
  *    ZERO stateful operators — scan → row-local routing/ADC →
  *    broadcast join against the serving view → projection.
  */
class StreamAnnSpec extends SparkSpec {

  private lazy val emb = io.Tables(spark, sf, "embeddings")

  // the suite's one temp dir, deleted when the suite ends (AnyFunSuite
  // runs its tests inside `run`)
  private var suiteDir: String = _
  override def run(testName: Option[String], args: org.scalatest.Args): org.scalatest.Status =
    withTempDir("r10idx") { d => suiteDir = d; super.run(testName, args) }

  // train + persist once for the whole suite — the pinned-quantizer
  // index epoch every test probes against
  private lazy val idxDir: String = {
    val d = suiteDir
    Similarity.writeAnnIndex(
      Similarity.annIndex(emb, "vec_id", "embedding"), d)
    val idx = Similarity.readAnnIndex(spark, d)
    Similarity.annServingView(idx, "vec_id")
      .write.mode("overwrite").parquet(s"$d/serving")
    d
  }

  private def arrivalsPred = col("vec_id") >= 30 && col("vec_id") < 40

  test("batch annScreen lands on probeIndex's exact rows") {
    val idx = Similarity.readAnnIndex(spark, idxDir)
    val serving = spark.read.parquet(s"$idxDir/serving")
    val arrivals = emb.where(arrivalsPred)
    val scored =
      Similarity.annScreenScored(arrivals, idx, serving, "vec_id", "embedding")
    val got = Similarity.annScreenFinish(scored,
        arrivals.select(col("vec_id").as("probe_id"), col("embedding").as("pe")),
        emb, "vec_id", "embedding", k = 10)
      .select("probe_id", "vec_id", "qdot", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = Similarity.probeIndex(idx, emb, "vec_id", "embedding",
        probeFilter = arrivalsPred, k = 10)
      .select("probe_id", "vec_id", "qdot", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming screen == batch screen; no stream-side shuffle, no state") {
    val idx = Similarity.readAnnIndex(spark, idxDir)
    val serving = spark.read.parquet(s"$idxDir/serving")
    val screen = StreamOps.annScreen(
      StreamOps.readTable(spark, sf, "embeddings").where(arrivalsPred),
      idx, serving, "vec_id", "embedding")
    val q = screen.writeStream
      .outputMode("append").format("memory").queryName("r10_ann_screen").start()
    q.processAllAvailable()
    val plan = q.asInstanceOf[StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    val planStr = plan.toString
    val stateRows = q.recentProgress.flatMap(_.stateOperators).toSeq
    q.stop()
    assert(shuffles.isEmpty,
      s"stream-side plan must be shuffle-free, got:\n$planStr")
    assert(planStr.contains("BroadcastHashJoin"),
      s"serving view must join broadcast, got:\n$planStr")
    assert(stateRows.isEmpty, "screen must be stateless")

    val streamed = spark.table("r10_ann_screen")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Similarity.annScreenScored(
        emb.where(arrivalsPred), idx, serving, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }
}
