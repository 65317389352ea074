package graft

import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import graft.ext.Similarity
import graft.streaming.StreamOps

class StreamMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed counts equal batch groupBy on the same data") {
    val streamed = StreamOps.runToMemory(
      StreamOps.windowedCounts(StreamOps.readEvents(spark, sf)),
      "wc_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    // Append mode emits only watermark-closed windows; every emitted
    // window must match the batch result exactly
    val batch = io.Tables(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"),
        col("total_value").cast("double"))
    val s = streamed.withColumn("total_value", col("total_value").cast("double"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val b = batch.as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b))
  }

  test("sessionization: gap splits sessions, totals preserved") {
    import StreamOps._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evs = Seq(
      Event(1L, new java.sql.Timestamp(base), "view", 1.0),
      Event(1L, new java.sql.Timestamp(base + 60 * 1000), "view", 2.0),
      Event(1L, new java.sql.Timestamp(base + 3600 * 1000), "view", 4.0), // new session
      Event(2L, new java.sql.Timestamp(base), "view", 8.0))
    // batch Dataset drives the same state machine via groupByKey-style path:
    // run through the streaming API with a memory sink
    withTempDir("sess") { dir =>
      evs.toDS().write.mode("overwrite").parquet(dir)
      val sessions = StreamOps.sessionize(
        spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
          .parquet(dir).as[Event])
      val out = StreamOps.runToMemory(sessions.toDF(), "sessions")
      // only sessions closed by the watermark are emitted in Append mode;
      // user 1's first session (closed by the 1h-later event) must appear
      val rows = out.as[Session].collect()
      assert(rows.exists(s => s.user_id == 1L && s.n_events == 2 && s.total_value == 3.0))
    }
  }

  test("multimodal: feature extraction preserves rows and emits fixed-width vectors") {
    val media = Multimodal.syntheticMedia(spark, sf)
    val feats = Multimodal.extractFeatures(media, Multimodal.FakeCodec)
    assert(feats.count() == media.count())
    val v = feats.select(col("features")).as[Seq[Float]].head()
    assert(v.length == 16)
    assert(math.abs(v.sum - 1.0f) < 1e-3) // normalized histogram
  }

  test("multimodal: frame sampling explodes only videos, fixed frame size") {
    val media = Multimodal.syntheticMedia(spark, sf)
    val frames = Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)
    assert(frames.count() > 0)
    val sizes = frames.select(length(col("frame"))).distinct().as[Int].collect().toSeq
    assert(sizes == Seq(32))
    val kinds = frames.join(media, "media_id").select("kind").distinct().as[String].collect().toSeq
    assert(kinds == Seq("video"))
  }

  test("multimodal: thumbnails are w*h bytes") {
    val media = Multimodal.syntheticMedia(spark, sf)
    val thumbs = Multimodal.thumbnails(media, Multimodal.FakeCodec, 8, 8)
    assert(thumbs.count() > 0)
    assert(thumbs.select(length(col("thumb"))).distinct().as[Int].collect().toSeq == Seq(64))
  }

  test("native QuantizedDot expression == HOF formulation on real embeddings") {
    val emb = io.Tables(spark, sf, "embeddings")
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.crossJoin(b).where(col("ia") < col("ib")).limit(5000)
    val diff = pairs
      .select(
        Similarity.quantizedDot(col("va"), col("vb")).as("native"),
        Similarity.quantizedDotHof(col("va"), col("vb")).as("hof"))
      .where(col("native") =!= col("hof"))
      .count()
    assert(diff == 0)
  }
}
