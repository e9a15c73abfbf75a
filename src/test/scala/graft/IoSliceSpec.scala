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
    // each upsert through a fresh value, so each one loads the table
    def upsert(b: org.apache.spark.sql.DataFrame): Unit =
      new Sinks.RetainedTable(spark, dir, Seq("instance_id"), "timestamp",
        "status").upsert(b)
    upsert(b1)
    upsert(b2)
    // replay b2: at-least-once delivery must converge (idempotent)
    upsert(b2)
    val out = spark.read.parquet(dir)
      .select("instance_id", "status").as[(String, String)].collect().toMap
    assert(out == Map("i-1" -> "paused", "i-2" -> "running"))
  }

  /** The row_number merge a retained upsert ran before the table was
    * held on the driver: the table unioned with the batch, the first row
    * per key by (orderCol desc, tieBreak desc). The oracle for
    * [[Sinks.RetainedTable]]. */
  private def rowNumberMerge(table: Option[org.apache.spark.sql.DataFrame],
      batch: org.apache.spark.sql.DataFrame, key: Seq[String],
      orderCol: String, tieBreak: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc)
    table.map(_.unionByName(batch)).getOrElse(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private type RetainedRow = (Int, Option[java.sql.Timestamp], Option[Long],
    String, Map[String, Int])

  test("held retained table merges like the row_number oracle, " +
      "replays are no-ops, a fresh value continues the merge") {
    val rnd = new scala.util.Random(7)
    val stamps = Vector(None, Some(ts("2024-01-01 00:00:00")),
      Some(ts("2024-01-01 00:00:01")), Some(ts("2024-01-01 00:00:02")))
    val ties = Vector(None, Some(0L), Some(1L))
    // keys repeat inside a batch, order and tie values are tied or null;
    // the payload and the MAP column are functions of (k, ts, tb), so a
    // full tie carries the same row and the oracle's pick is determined
    def row(): RetainedRow = {
      val (k, t, tb) = (rnd.nextInt(4), stamps(rnd.nextInt(stamps.size)),
        ties(rnd.nextInt(ties.size)))
      (k, t, tb, s"$k/$t/$tb", Map("k" -> k, s"tb$tb" -> t.size))
    }
    def batch(n: Int) = Seq.fill(n)(row())
      .toDF("k", "ts", "tb", "payload", "tags")
    def table(path: String) = spark.read.parquet(path).collect().toSet
    val key = Seq("k")
    (1 to 12).foreach { trial =>
      val path = Files.createTempDirectory("retained").toString + "/t"
      val held = new Sinks.RetainedTable(spark, path, key, "ts", "tb")
      val batches = Seq.fill(3)(batch(1 + rnd.nextInt(8)))
      batches.foreach(held.upsert)
      val oracle = batches.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
        (t, b) => Some(rowNumberMerge(t, b, key, "ts", "tb"))
      }.get
      val merged = table(path)
      assert(merged == oracle.collect().toSet, s"trial $trial")
      held.upsert(batches.last)
      assert(table(path) == merged, s"trial $trial: a replayed batch changed the table")
      val more = batch(1 + rnd.nextInt(8))
      new Sinks.RetainedTable(spark, path, key, "ts", "tb").upsert(more)
      assert(table(path) ==
        rowNumberMerge(Some(oracle), more, key, "ts", "tb").collect().toSet,
        s"trial $trial: a fresh value over the table")
    }
    // on a full tie of (ts, tb) the incoming row wins
    val path = Files.createTempDirectory("retained-tie").toString + "/t"
    val held = new Sinks.RetainedTable(spark, path, key, "ts", "tb")
    def one(payload: String) = Seq[RetainedRow]((1, stamps(1), Some(1L),
      payload, Map.empty)).toDF("k", "ts", "tb", "payload", "tags")
    held.upsert(one("old"))
    held.upsert(one("new"))
    assert(spark.read.parquet(path).select("payload").as[String].collect()
      .toSeq == Seq("new"))
  }

  test("held retained table: one collect and one write job per upsert, " +
      "no read after the first load, no job for an empty batch") {
    val path = Files.createTempDirectory("retained-jobs").toString + "/t"
    // not a local relation, so its collect is a job
    def batch(sid: Int, fid: Long) = spark.range(1).select(
      lit(sid).as("source_id"), lit(ts("2024-01-01 00:00:00")).as("timestamp"),
      lit(fid).as("frame_id"))
    new Sinks.RetainedTable(spark, path, Seq("source_id"), "timestamp",
      "frame_id").upsert(batch(1, 1))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.sql.graftx.Listeners.drain(spark.sparkContext)
      jobs = 0
      body
      org.apache.spark.sql.graftx.Listeners.drain(spark.sparkContext)
      jobs
    }
    val held = new Sinks.RetainedTable(spark, path, Seq("source_id"),
      "timestamp", "frame_id")
    spark.sparkContext.addSparkListener(listener)
    try {
      // the first upsert also loads the table, with the declared schema:
      // one read job, no inference job
      assert(jobsOf(held.upsert(batch(2, 1))) == 3)
      assert(jobsOf(held.upsert(batch(1, 5))) == 2)
      assert(jobsOf(held.upsert(batch(3, 1))) == 2)
      assert(jobsOf(held.upsert(batch(3, 1).limit(0))) == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
    val tiles = spark.read.parquet(path).select("source_id", "frame_id")
      .as[(Int, Long)].collect().toMap
    assert(tiles == Map(1 -> 5L, 2 -> 1L, 3 -> 1L))
    assert(new java.io.File(path).list().count(_.endsWith(".parquet")) == 1,
      "one part-file")
  }

  test("sampleEveryNth strides") {
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
