package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Sources
import graft.ops.EventOps
import scala.collection.mutable

/** The native bus connector (graft.io.bus, DataSource V2) versus the file
  * bridge it replaces: identical rows in batch and streaming, exactly-once
  * per file across restarts, and admission control via maxFilesPerTrigger.
  * This is the IoSlice end-to-end contract re-run on the new source. */
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

  test("batch: connector rows are identical to the file bridge's") {
    val dir = Files.createTempDirectory("bus-batch").toString
    writeFixture(dir)
    // raw envelope level: same (topic, payload) pairs, tab edge cases incl.
    val bridge = spark.read.format("text").load(dir)
      .select(substring_index(col("value"), "\t", 1).as("topic"),
        expr("substring(value, instr(value, '\t') + 1)").as("payload"))
      .collect().map(_.toString).sorted.toSeq
    val bus = spark.read.format("graft-bus").load(dir)
      .collect().map(_.toString).sorted.toSeq
    assert(bus == bridge)
    // parsed event level too
    val a = Sources.eventFileBatch(spark, dir).collect().map(_.toString).sorted.toSeq
    val b = Sources.eventBusBatch(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.size == 3)
  }

  test("streaming: end-to-end slice on the connector equals the file bridge") {
    val dir = Files.createTempDirectory("bus-stream").toString
    writeFixture(dir)
    val expected = pipeline(Sources.eventFileBatch(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    val q = pipeline(Sources.eventBusStream(spark, dir)).writeStream
      .format("memory").queryName("bus_slice").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bus_slice").collect().map(_.toString).sorted.toSeq
      assert(streamed == expected)
    } finally q.stop()
  }

  test("incremental files are exactly-once, also across a checkpoint restart") {
    val dir = Files.createTempDirectory("bus-incr").toString
    val ck = Files.createTempDirectory("bus-incr-ck").toString
    val seen = mutable.ArrayBuffer.empty[(Int, Long)]
    def start() = Sources.eventBusStream(spark, dir).writeStream
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
    val q = Sources.eventBusStream(spark, dir).writeStream
      .format("memory").queryName("bus_empty").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bus_empty").isEmpty)
      Files.createDirectory(Paths.get(dir))
      writeFixture(dir, "late.txt", Seq(envLine(5, 1, "person", 0.9)))
      q.processAllAvailable()
      assert(spark.table("bus_empty").select("source_id")
        .as[Int].collect().toSeq == Seq(5))
    } finally q.stop()
  }

  test("offset log compacts by file age; pruned files never replay") {
    val dir = Files.createTempDirectory("bus-compact").toString
    val ck = Files.createTempDirectory("bus-compact-ck").toString
    val seen = mutable.ArrayBuffer.empty[(Int, Long)]
    def start() = Sources.parseEventBus(
      spark.readStream.format("graft-bus")
        .option("maxFileAgeMs", "60000").load(dir))
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("source_id", "frame_id").as[(Int, Long)].collect()
        seen.synchronized(seen ++= rows)
        ()
      }.start()

    // a consumed backlog whose mtimes sit 10 minutes in the past
    val old = java.time.Instant.now().minusSeconds(600)
    (1 to 5).foreach { i =>
      writeFixture(dir, s"old$i.txt", Seq(envLine(1, i.toLong, "person", 0.9)))
      Files.setLastModifiedTime(Paths.get(dir, s"old$i.txt"),
        java.nio.file.attribute.FileTime.from(old.plusSeconds(i)))
    }
    val q1 = start()
    try {
      q1.processAllAvailable()
      // a fresh file advances the retention horizon past the old batch
      writeFixture(dir, "now.txt", Seq(envLine(2, 1, "person", 0.9)))
      q1.processAllAvailable()
      assert(seen.sorted.toSeq ==
        (1 to 5).map(i => (1, i.toLong)) :+ ((2, 1L)))
    } finally q1.stop()

    // the checkpoint's newest offset holds ONLY the in-window file — the
    // five consumed old files are compacted out, bounding offset size
    val offsetFiles = Files.list(Paths.get(ck, "offsets")).toArray
      .map(_.toString).filter(_.split("/").last.forall(_.isDigit))
    val latest = offsetFiles.maxBy(_.split("/").last.toLong)
    val js = new String(Files.readAllBytes(Paths.get(latest)))
    assert(js.contains("now.txt") && !js.contains("old1.txt"),
      s"offset not compacted: $js")

    // restart on the compacted checkpoint: nothing replays (the pruned
    // files are barred by the horizon, not the consumed set), new data in
    writeFixture(dir, "later.txt", Seq(envLine(3, 1, "person", 0.9)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.sorted.toSeq ==
        ((1 to 5).map(i => (1, i.toLong)) ++ Seq((2, 1L), (3, 1L))),
        "pruned files must not replay; the post-restart file must arrive")
    } finally q2.stop()
  }

  test("maxFilesPerTrigger bounds micro-batch intake (ST5 backpressure)") {
    val dir = Files.createTempDirectory("bus-admit").toString
    (1 to 3).foreach(i => writeFixture(dir, s"f$i.txt",
      Seq(envLine(i, i.toLong, "person", 0.9))))
    val batchSizes = mutable.ArrayBuffer.empty[Long]
    // option name deliberately cased wrong: data source options are
    // case-insensitive by Spark convention and the connector honors that
    val q = Sources.parseEventBus(
      spark.readStream.format("graft-bus").option("MAXFILESPERTRIGGER", "1")
        .load(dir))
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
}
