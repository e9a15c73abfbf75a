package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import graft.io.Sources
import graft.ops.EventOps
import graft.streaming.StatefulOps
import scala.collection.mutable

/** Live ingest over the bus drop directory (Spark's file stream source
  * plus the envelope parse): the raw `(topic, payload)` split, exactly-once
  * per file across restarts, starting on an absent directory, the
  * streaming slice against the batch replay when the fixture spans
  * several micro-batches, and admission control via maxFilesPerTrigger. */
class BusSourceSpec extends SparkSpec {
  import spark.implicits._

  private def envLine(sid: Int, fid: Long, cls: String, conf: Double): String =
    s"nvr/detections/$sid\t" +
      s"""{"instance_id":"i-1","source_id":$sid,"frame_id":$fid,""" +
      s""""timestamp":"2024-01-01T00:00:0${fid % 10}.000Z","model_id":"m",""" +
      s""""inference_time_ms":7.5,"detections":[{"class_name":"$cls",""" +
      s""""confidence":$conf,"bbox":{"x":1,"y":2,"width":3,"height":4}}]}"""

  private val fixture = Seq(
    envLine(1, 1, "person", 0.9),
    envLine(1, 2, "car", 0.8),
    envLine(2, 1, "dog", 0.7),
    "nvr/detections/abc\tgarbage payload", // dropped by validity gate
    "payload\twith\ttabs",                 // payload keeps its tabs
    "not-even-an-envelope")                // degenerate, no tab

  private def writeFixture(dir: String, name: String = "part-0.txt",
                           lines: Seq[String] = fixture): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)

  private def pipeline(events: DataFrame): DataFrame =
    EventOps.latestPerKey(
      events.select(col("source_id"), col("frame_id"), col("timestamp"),
        size(col("detections")).as("n_det")),
      Seq("source_id"), "timestamp", "frame_id")

  test("batch: raw envelope rows keep payload tabs and split tabless lines") {
    val dir = Files.createTempDirectory("bus-batch").toString
    writeFixture(dir)
    val raw = Sources.parseEnvelope(spark.read.text(dir))
      .as[(String, String)].collect().toSet
    assert(raw.contains(("payload", "with\ttabs")))
    assert(raw.contains(("not-even-an-envelope", "not-even-an-envelope")))
    assert(raw.size == fixture.size)
    // garbage payload, tabbed payload and tabless line fail the validity gate
    assert(Sources.eventFileBatch(spark, dir).count() == 3)
  }

  test("streaming: end-to-end slice on the connector equals the file bridge") {
    val dir = Files.createTempDirectory("bus-stream").toString
    // one fixture line per file, one file per micro-batch: the slice's
    // latest-per-key state has to carry across micro-batches
    fixture.zipWithIndex.foreach { case (line, i) =>
      writeFixture(dir, s"part-$i.txt", Seq(line)) }
    val expected = pipeline(Sources.eventFileBatch(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    assert(expected.size == 2)
    val q = pipeline(Sources.eventFileStream(spark, dir, Some(1))).writeStream
      .format("memory").queryName("bus_slice").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bus_slice").collect().map(_.toString).sorted.toSeq
      assert(streamed == expected)
      assert(q.recentProgress.count(_.numInputRows > 0) > 1,
        "the fixture spans several micro-batches")
    } finally q.stop()
  }

  test("incremental files are exactly-once, also across a checkpoint restart") {
    val dir = Files.createTempDirectory("bus-incr").toString
    val ck = Files.createTempDirectory("bus-incr-ck").toString
    val seen = mutable.ArrayBuffer.empty[(Int, Long)]
    def start() = Sources.eventFileStream(spark, dir).writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("source_id", "frame_id").as[(Int, Long)].collect()
        seen.synchronized(seen ++= rows)
        ()
      }.start()

    writeFixture(dir, "a.txt", Seq(envLine(1, 1, "person", 0.9)))
    val q1 = start()
    try {
      q1.processAllAvailable()
      writeFixture(dir, "b.txt", Seq(envLine(1, 2, "person", 0.9)))
      q1.processAllAvailable()
      assert(seen.sorted.toSeq == Seq((1, 1L), (1, 2L)))
    } finally q1.stop()

    // restart on the same checkpoint: consumed files are NOT replayed,
    // a file dropped while down IS picked up
    writeFixture(dir, "c.txt", Seq(envLine(2, 3, "dog", 0.7)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.sorted.toSeq == Seq((1, 1L), (1, 2L), (2, 3L)),
        "no replay of consumed files, new file admitted")
    } finally q2.stop()
  }

  test("a subscriber can start on an empty (even absent) drop directory") {
    val parent = Files.createTempDirectory("bus-empty").toString
    val dir = s"$parent/not-created-yet"
    val q = Sources.eventFileStream(spark, dir).writeStream
      .format("memory").queryName("bus_empty").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bus_empty").isEmpty)
      writeFixture(dir, "late.txt", Seq(envLine(5, 1, "person", 0.9)))
      q.processAllAvailable()
      assert(spark.table("bus_empty").select("source_id")
        .as[Int].collect().toSeq == Seq(5))
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds micro-batch intake (ST5 backpressure)") {
    val dir = Files.createTempDirectory("bus-admit").toString
    (1 to 3).foreach(i => writeFixture(dir, s"f$i.txt",
      Seq(envLine(i, i.toLong, "person", 0.9))))
    val batchSizes = mutable.ArrayBuffer.empty[Long]
    // option name deliberately cased wrong: data source options are
    // case-insensitive by Spark convention and the file source honors that
    val q = Sources.parseEventBus(Sources.parseEnvelope(
      spark.readStream.format("text").option("MAXFILESPERTRIGGER", "1")
        .load(dir)))
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        batchSizes.synchronized(batchSizes += b.count())
        ()
      }.start()
    try {
      q.processAllAvailable()
      val sizes = batchSizes.synchronized(batchSizes.toSeq)
      assert(sizes.sum == 3, s"all files drain: $sizes")
      assert(sizes.forall(_ <= 1), s"one file per micro-batch: $sizes")
    } finally q.stop()
  }

  test("read stage: a micro-batch of 40 spool files is one scan of at most " +
      "defaultParallelism tasks and no job besides the sink's") {
    val dir = Files.createTempDirectory("bus-read").toString
    val out = Files.createTempDirectory("bus-read-out").toString
    (1 to 40).foreach(i => writeFixture(dir, f"mqtt-$i%012d.txt",
      Seq(envLine(i % 12, i.toLong, "person", 0.9))))
    val marker = "bus-read-stage-marker"
    // (streaming query id, tasks per stage) of each job, in start order
    val jobs = mutable.ArrayBuffer.empty[(String, Seq[Int])]
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { props =>
          if (props.getProperty("spark.job.description") == marker)
            markerSeen = true
          else Option(props.getProperty("sql.streaming.queryId")).foreach {
            id => jobs.synchronized(jobs += id -> e.stageInfos.map(_.numTasks))
          }
        }
    }
    val (key, value) = graft.app.Main.ListingThreshold
    spark.conf.set(key, value)
    spark.sparkContext.addSparkListener(listener)
    val queryId = try {
      val q = StatefulOps.eachBatch(Sources.eventFileStream(spark, dir)) {
        (b, _) => b.write.mode("append").parquet(out)
      }.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // listener events arrive in order: once a later marker job is seen,
      // every job of the micro-batch has been recorded
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      awaitCond("marker job seen")(markerSeen)
      q.id.toString
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset(key)
    }
    assert(spark.read.parquet(out).count() == 40)
    val seen = jobs.synchronized(jobs.toSeq).collect {
      case (id, tasks) if id == queryId => tasks }
    val par = spark.sparkContext.defaultParallelism
    assert(seen.flatten.forall(_ <= par),
      s"a stage ran more than $par tasks: $seen")
    // the sink's write is the micro-batch's only job: no cache, no
    // emptiness probe, no listing job
    assert(seen.size == 1, s"jobs (tasks per stage): $seen")
  }
}
