package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.{Sinks, Sources}
import graft.ops.EventOps

/** The SURVEY §7.2 minimum end-to-end slice: the same operator pipeline
  * over the same envelope fixture, once as a batch job and once as a
  * streaming query — results must be identical. This is the
  * batch/streaming-unification proof that precedes any broker plumbing. */
class IoSliceSpec extends SparkSpec {
  import spark.implicits._

  private def writeEnvelopes(dir: String): Unit = {
    def ev(sid: Int, fid: Long, t: String, cls: String, conf: Double) =
      s"nvr/detections/$sid\t" +
        s"""{"instance_id":"i-1","source_id":$sid,"frame_id":$fid,""" +
        s""""timestamp":"$t","model_id":"m","inference_time_ms":7.5,""" +
        s""""detections":[{"class_name":"$cls","confidence":$conf,""" +
        s""""bbox":{"x":1,"y":2,"width":3,"height":4}}]}"""
    val lines = Seq(
      ev(1, 1, "2024-01-01T00:00:00.000Z", "person", 0.9),
      ev(1, 2, "2024-01-01T00:00:01.000Z", "car", 0.8),
      ev(2, 1, "2024-01-01T00:00:00.500Z", "dog", 0.7),
      "nvr/detections/abc\tgarbage payload",        // dropped by validity gate
      "payload\twith\ttabs",                         // payload keeps its tabs
      "not-even-an-envelope")                        // degenerate line
    Files.write(java.nio.file.Paths.get(dir, "part-0.txt"),
      lines.mkString("\n").getBytes)
  }

  private def pipeline(events: org.apache.spark.sql.DataFrame) =
    EventOps.latestPerKey(
      events.select(col("source_id"), col("frame_id"), col("timestamp"),
        size(col("detections")).as("n_det")),
      Seq("source_id"), "timestamp", "frame_id")

  test("batch == streaming over the same envelope fixture") {
    val dir = Files.createTempDirectory("slice").toString
    writeEnvelopes(dir)

    val batch = pipeline(Sources.eventFileBatch(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    assert(batch.size == 2) // latest per source 1 and 2; garbage dropped

    val stream = Sources.eventFileStream(spark, dir)
    val q = pipeline(stream).writeStream
      .format("memory").queryName("slice").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("slice").collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("retained status upsert is last-value-wins and idempotent") {
    val dir = Files.createTempDirectory("status").toString + "/status"
    val b1 = Seq(("i-1", "running", ts("2024-01-01 00:00:00")),
      ("i-2", "running", ts("2024-01-01 00:00:00")))
      .toDF("instance_id", "status", "timestamp")
    val b2 = Seq(("i-1", "paused", ts("2024-01-01 00:00:10")))
      .toDF("instance_id", "status", "timestamp")
    Sinks.upsertRetained(spark, b1, dir, Seq("instance_id"), "timestamp", "status")
    Sinks.upsertRetained(spark, b2, dir, Seq("instance_id"), "timestamp", "status")
    // replay b2: at-least-once delivery must converge (idempotent)
    Sinks.upsertRetained(spark, b2, dir, Seq("instance_id"), "timestamp", "status")
    val out = spark.read.parquet(dir)
      .select("instance_id", "status").as[(String, String)].collect().toMap
    assert(out == Map("i-1" -> "paused", "i-2" -> "running"))
  }

  test("ackWriter appends across micro-batches; sampleEveryNth strides") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("acks").toString
    val in = MemoryStream[(String, String, String)]
    val q = Sinks.ackWriter(
      in.toDF().toDF("instance_id", "command", "ack_status"),
      s"$dir/data", s"$dir/ck").start()
    try {
      in.addData(("i-1", "pause", "received")); q.processAllAvailable()
      in.addData(("i-1", "pause", "completed")); q.processAllAvailable()
      val acks = spark.read.parquet(s"$dir/data")
        .select("ack_status").as[String].collect().toSet
      assert(acks == Set("received", "completed"))
    } finally q.stop()
    val sampled = graft.ops.Multimodal.sampleEveryNth(
      (0L to 9L).toDF("item_id"), "item_id", 3)
      .as[Long].collect().toSet
    assert(sampled == Set(0L, 3L, 6L, 9L))
  }

  test("detection publish frame: topic round-trip and json payload") {
    val events = Seq((7, 1L)).toDF("source_id", "frame_id")
    val out = Sinks.detectionPublishFrame(events, "nvr/detections").collect().head
    assert(out.getAs[String]("topic") == "nvr/detections/7")
    assert(out.getAs[String]("payload").contains("\"frame_id\":1"))
  }

  test("jsonlCorpus: good lines parse, garbage quarantines with raw text") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("jsonl")
    val f = dir.resolve("part.jsonl")
    Files.write(f, String.join("\n",
      """{"doc_id": 1, "text": "hello"}""",
      "not json at all",
      """{"doc_id": 2, "text": "world"}""",
      "{broken").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val (good, bad) = Sources.jsonlCorpus(spark, f.toString, schema)
    assert(good.as[(Long, String)].collect().toSet ==
      Set((1L, "hello"), (2L, "world")))
    // quarantine keeps the raw line, and the split reconciles exactly
    assert(bad.as[String].collect().toSet ==
      Set("not json at all", "{broken"))
    assert(good.count() + bad.count() == 4L)
    // the streaming form shares the parse: same split over a file stream
    val (goodS, badS) = Sources.jsonlCorpusStream(spark, dir.toString,
      schema)
    val q1 = goodS.writeStream.format("memory").queryName("jl_good")
      .outputMode("append").start()
    val q2 = badS.writeStream.format("memory").queryName("jl_bad")
      .outputMode("append").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      assert(spark.table("jl_good").as[(Long, String)].collect().toSet ==
        good.as[(Long, String)].collect().toSet)
      assert(spark.table("jl_bad").as[String].collect().toSet ==
        bad.as[String].collect().toSet)
    } finally { q1.stop(); q2.stop() }
  }
}
