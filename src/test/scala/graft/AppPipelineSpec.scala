package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import graft.app.Main
import graft.control.{ControlHarness, EngineConfig}
import graft.model.Command

/** ST8 wired END-TO-END (the reference's flagship dynamic-reconfig story,
  * command_handlers.py:266-310, 567-647 + test_dynamic_config.sh): the
  * app's pipeline builder filters ingest by the CURRENT config's stream
  * ids, so add/remove_stream — which restart the query — change what is
  * actually published, not just the config projection. Plus the CLI
  * stream-selection logic (cli.py:112-124). */
class AppPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("resolveStreamIds mirrors the reference CLI precedence") {
    assert(Main.resolveStreamIds(Map.empty) == (0 until 6).toVector)
    assert(Main.resolveStreamIds(Map("n" -> "2")) == Vector(0, 1))
    assert(Main.resolveStreamIds(Map("streams" -> "1, 3,6")) == Vector(1, 3, 6))
    // --streams wins over everything else
    assert(Main.resolveStreamIds(
      Map("streams" -> "9", "start" -> "1", "end" -> "4")) == Vector(9))
    assert(Main.resolveStreamIds(
      Map("start" -> "2", "end" -> "4")) == Vector(2, 3, 4))
    assert(Main.resolveStreamIds(
      Map("start" -> "3", "n" -> "2")) == Vector(3, 4))
  }

  test("stream-selection flag errors name the flag; --end needs --start") {
    val e1 = intercept[RuntimeException] {
      Main.resolveStreamIds(Map("start" -> "abc"))
    }
    assert(e1.getMessage.contains("--start") && e1.getMessage.contains("abc"))
    val e2 = intercept[RuntimeException] {
      Main.resolveStreamIds(Map("end" -> "5"))
    }
    assert(e2.getMessage.contains("--end requires --start"))
    val e3 = intercept[RuntimeException] {
      Main.resolveStreamIds(Map("streams" -> "1,x,3"))
    }
    assert(e3.getMessage.contains("--streams") && e3.getMessage.contains("x"))
    val e4 = intercept[RuntimeException] {
      Main.resolveStreamIds(Map("n" -> "many"))
    }
    assert(e4.getMessage.contains("--n"))
  }

  private def envLine(sid: Int, fid: Long): String =
    s"nvr/detections/$sid\t" +
      s"""{"instance_id":"i-1","source_id":$sid,"frame_id":$fid,""" +
      s""""timestamp":"2024-01-01T00:00:0${fid % 10}.000Z","model_id":"m",""" +
      s""""inference_time_ms":7.5,"detections":[{"class_name":"person",""" +
      s""""confidence":0.9,"bbox":{"x":1,"y":2,"width":3,"height":4}}]}"""

  private def writeFile(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)

  private def publishedCounts(outDir: String): Map[Int, Long] = {
    val p = s"$outDir/detections"
    if (!Files.exists(Paths.get(p))) Map.empty
    else spark.read.parquet(p).groupBy("source_id").count()
      .as[(Int, Long)].collect().toMap
  }

  test("remove_stream stops that source's output; add_stream admits it") {
    val eventsDir = Files.createTempDirectory("app-events").toString
    val outDir = Files.createTempDirectory("app-out").toString
    val ck = s"$outDir/_ck"
    val h = new ControlHarness(
      EngineConfig("inst-1", streamIds = Vector(1, 2)),
      Main.pipelineBuilder(spark, eventsDir, outDir, ck, None),
      _ => (), _ => ())
    h.start()
    try {
      // sources 1, 2 configured; 3 is not → filtered at ingest
      writeFile(eventsDir, "a.txt",
        Seq(envLine(1, 1), envLine(2, 1), envLine(3, 1)))
      h.pipeline.get.processAllAvailable()
      assert(publishedCounts(outDir) == Map(1 -> 1L, 2 -> 1L),
        "only configured streams may publish")

      // ST8: remove stream 2, then deliver more data for it — the
      // restarted pipeline must drop it and keep publishing stream 1
      h.handle(Command("remove_stream", Map("source_id" -> "2"), Seq.empty))
      assert(h.config.streamIds == Vector(1))
      writeFile(eventsDir, "b.txt", Seq(envLine(1, 2), envLine(2, 2)))
      h.pipeline.get.processAllAvailable()
      assert(publishedCounts(outDir) == Map(1 -> 2L, 2 -> 1L),
        "a removed stream's new data must not be published")

      // add stream 3: admitted after the restart
      h.handle(Command("add_stream", Map("source_id" -> "3"), Seq.empty))
      assert(h.config.streamIds == Vector(1, 3))
      writeFile(eventsDir, "c.txt", Seq(envLine(3, 2)))
      h.pipeline.get.processAllAvailable()
      assert(publishedCounts(outDir) == Map(1 -> 2L, 2 -> 1L, 3 -> 1L),
        "an added stream must publish after restart")
    } finally h.pipeline.foreach(_.stop())
  }

  test("processor→bus→wall end to end: tiles table tracks latest per source") {
    // the reference's architecture e2e (processor → broker → wall →
    // render, test_architectural_design.py:431-480), pixels excluded
    val eventsDir = Files.createTempDirectory("e2e-events").toString
    val outDir = Files.createTempDirectory("e2e-out").toString
    val pipeline = Main.pipelineBuilder(spark, eventsDir, outDir,
      s"$outDir/_ck", None)(
      EngineConfig("inst-1", streamIds = Vector(1, 2)), () => false)
    val wall = Main.wallWriter(Main.wallEvents(spark, s"$outDir/detections"),
      s"$outDir/tiles")
      .option("checkpointLocation", s"$outDir/_ck_wall").start()
    // Spark jobs per wall micro-batch, by batch id
    val wallJobs = scala.collection.mutable.Map.empty[String, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { props =>
          if (props.getProperty("sql.streaming.queryId") == wall.id.toString)
            Option(props.getProperty("streaming.sql.batchId")).foreach { b =>
              wallJobs.synchronized(wallJobs(b) = wallJobs.getOrElse(b, 0) + 1)
            }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      writeFile(eventsDir, "a.txt", Seq(envLine(1, 1), envLine(1, 2), envLine(2, 1)))
      pipeline.processAllAvailable()
      wall.processAllAvailable()
      def tiles = spark.read.parquet(s"$outDir/tiles")
        .select("source_id", "frame_id").as[(Int, Long)].collect().toMap
      assert(tiles == Map(1 -> 2L, 2 -> 1L), "latest frame per source wins")
      // the pipeline publishes the batch as ONE part-file, and the wall
      // reads each of its micro-batches from the source once: its input
      // rows equal the batch's three valid events, not a multiple
      def detectionFiles = Files.list(Paths.get(s"$outDir/detections"))
        .toArray.map(_.toString).count(_.endsWith(".parquet"))
      assert(detectionFiles == 1, s"one part-file per batch, got $detectionFiles")
      assert(wall.lastProgress.numInputRows == 3L,
        s"wall read its batch ${wall.lastProgress.numInputRows} rows for 3 events")
      // labels carried for the renderer (E3)
      val label = spark.read.parquet(s"$outDir/tiles")
        .filter($"source_id" === 1).select("labels").as[String].collect().head
      assert(label == "person 0.90")
      // a newer frame for source 1 flows through both processes
      writeFile(eventsDir, "b.txt", Seq(envLine(1, 7)))
      pipeline.processAllAvailable()
      wall.processAllAvailable()
      assert(tiles == Map(1 -> 7L, 2 -> 1L), "tile updated to the new frame")
      // the held tiles table: the batch's collect and the table's write,
      // no read of the table and no cache or emptiness probe
      org.apache.spark.sql.graftx.Listeners.drain(spark.sparkContext)
      val perBatch = wallJobs.synchronized(wallJobs.toMap)
      assert(perBatch.nonEmpty && perBatch.values.forall(_ <= 3),
        s"the wall's trigger runs at most 3 jobs: $perBatch")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      wall.stop(); pipeline.stop()
    }
  }

  test("pipeline, wall and control queries run on the one 1 s cadence") {
    val eventsDir = Files.createTempDirectory("cadence-events").toString
    val outDir = Files.createTempDirectory("cadence-out").toString
    val controlDir = Files.createTempDirectory("cadence-control").toString
    val build = Main.pipelineBuilder(spark, eventsDir, outDir,
      s"$outDir/_ck", None) _
    val h = new ControlHarness(EngineConfig("inst-1", streamIds = Vector(1)),
      build, _ => (), _ => ())
    val queries = Seq(
      build(h.config, () => false),
      Main.wallWriter(Main.wallEvents(spark, s"$outDir/detections"),
        s"$outDir/tiles").option("checkpointLocation", s"$outDir/_ck_wall").start(),
      Main.controlWriter(spark, h, controlDir)
        .option("checkpointLocation", s"$outDir/_ck_control").start())
    try {
      val triggers = queries.map(_.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.trigger)
      assert(Main.LiveTrigger == org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("1 second"))
      assert(triggers.forall(_ == Main.LiveTrigger), s"triggers: $triggers")
    } finally queries.foreach(_.stop())
  }

  test("MQTT transport feeds the processor pipeline end to end") {
    // the reference's actual wire (paho-mqtt → broker → processor):
    // a real MQTT 3.1.1 session publishes detection envelopes, the
    // broker-bridge spools them into the pipeline's drop dir, and the
    // streaming pipeline picks them up like any other envelope batch
    val eventsDir = Files.createTempDirectory("mqtt-e2e-events").toString
    val outDir = Files.createTempDirectory("mqtt-e2e-out").toString
    val bridge = new graft.io.bus.MqttBridge(eventsDir).start()
    val pipeline = Main.pipelineBuilder(spark, eventsDir, outDir,
      s"$outDir/_ck", None)(
      EngineConfig("inst-1", streamIds = Vector(1, 2)), () => false)
    try {
      val c = new graft.io.bus.MqttClient("127.0.0.1", bridge.boundPort,
        "cam-sim").connect()
      c.publish("nvr/detections/1", envLine(1, 1).split("\t")(1), qos = 1)
      c.publish("nvr/detections/2", envLine(2, 5).split("\t")(1), qos = 1)
      c.disconnect()
      awaitCond("MQTT publishes must reach the spool") {
        java.nio.file.Files.list(java.nio.file.Paths.get(eventsDir))
          .toArray.length >= 2
      }
      pipeline.processAllAvailable()
      val got = spark.read.parquet(s"$outDir/detections")
        .select($"source_id",
          org.apache.spark.sql.functions
            .get_json_object($"payload", "$.frame_id").cast("long"))
        .as[(Int, Long)].collect().toSet
      assert(got == Set((1, 1L), (2, 5L)),
        "MQTT-published events must flow through the pipeline")
    } finally { pipeline.stop(); bridge.stop() }
  }

  test("periodic metrics publisher maintains the retained metrics-lite table") {
    val eventsDir = Files.createTempDirectory("pm-events").toString
    val outDir = Files.createTempDirectory("pm-out").toString
    val pipeline = Main.pipelineBuilder(spark, eventsDir, outDir,
      s"$outDir/_ck", None)(
      EngineConfig("inst-1", streamIds = Vector(1, 2)), () => false)
    val metrics = Main.metricsPublisher(spark, outDir, "inst-1", intervalSec = 1)
      .option("checkpointLocation", s"$outDir/_ck_metrics").start()
    // identical event times so all frames of a source share ONE metrics
    // window (the publisher's window = the reporting interval)
    def line(sid: Int, fid: Long): String =
      s"nvr/detections/$sid\t" +
        s"""{"instance_id":"i-1","source_id":$sid,"frame_id":$fid,""" +
        s""""timestamp":"2024-01-01T00:00:01.000Z","model_id":"m",""" +
        s""""inference_time_ms":7.5,"detections":[]}"""
    try {
      writeFile(eventsDir, "a.txt", Seq(line(1, 1), line(1, 2), line(2, 1)))
      pipeline.processAllAvailable()
      metrics.processAllAvailable()
      val lite = spark.read.parquet(s"$outDir/metrics_lite")
        .select("source_id", "n").as[(Int, Long)].collect().toMap
      assert(lite == Map(1 -> 2L, 2 -> 1L), s"unexpected metrics rows: $lite")
      // new data updates the retained snapshot (last value wins per source)
      writeFile(eventsDir, "b.txt", Seq(line(1, 3)))
      pipeline.processAllAvailable()
      metrics.processAllAvailable()
      val lite2 = spark.read.parquet(s"$outDir/metrics_lite")
        .select("source_id", "n").as[(Int, Long)].collect().toMap
      assert(lite2 == Map(1 -> 3L, 2 -> 1L), s"snapshot not updated: $lite2")
    } finally { metrics.stop(); pipeline.stop() }
  }

  /** An envelope whose timings vary per event, so the report's decimal
    * sums are not round numbers. */
  private def measuredLine(sid: Int, fid: Long): String =
    envLine(sid, fid).replace(""""inference_time_ms":7.5""",
      s""""inference_time_ms":${fid * 3.7 + sid / 3.0},"latency_ms":${fid * 41.3 / 7}""")

  private val reportCols = Seq("source_id", "n_frames", "avg_decode_ms",
    "avg_inference_ms", "avg_e2e_ms", "resolution")

  /** The retained `metrics` table's report columns. */
  private def retainedReport(outDir: String): Set[org.apache.spark.sql.Row] =
    spark.read.parquet(s"$outDir/metrics").select(reportCols.map(col): _*)
      .collect().toSet

  /** `Metrics.fullReport` as a batch over every published detection. */
  private def recomputedReport(outDir: String): Set[org.apache.spark.sql.Row] =
    graft.metrics.Metrics.fullReport(
      spark.read.parquet(s"$outDir/detections")
        .select(graft.model.Schemas.parseEvent(col("payload")).as("e"))
        .selectExpr("e.source_id as source_id",
          "cast(null as double) as decode_s",
          "e.inference_time_ms / 1000 as inference_s",
          "e.latency_ms / 1000 as e2e_s",
          "cast(null as int) as w", "cast(null as int) as h"),
      "source_id", "decode_s", "inference_s", "e2e_s", "w", "h")
      .select(reportCols.map(col): _*).collect().toSet

  // the fold-and-report step is `Main.publishFullMetrics`; its state dir is the
  // fold checkpoint under `<ck>`
  test("foldAndReport serializes concurrent folds on one state dir (no double-count)") {
    val eventsDir = Files.createTempDirectory("fold-events").toString
    val outDir = Files.createTempDirectory("fold-out").toString
    writeFile(eventsDir, "a.txt", Seq(measuredLine(1, 1), measuredLine(1, 2),
      measuredLine(1, 3), measuredLine(2, 1), measuredLine(2, 2)))
    graft.io.Sinks.detectionPublishFrame(
      graft.io.Sources.eventFileBatch(spark, eventsDir), "nvr/detections")
      .write.mode("append").parquet(s"$outDir/detections")
    val fold = Main.foldSession(spark)
    val metrics = Main.metricsTable(spark, outDir)
    val cfg = EngineConfig("inst-1", streamIds = Vector(1, 2))
    // two simultaneous `metrics` callers race the first fold: unserialized,
    // two queries start on one checkpoint and Spark fails one of them
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = (0 until 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          Main.publishFullMetrics(fold, outDir, s"$outDir/_ck", cfg, metrics)
        }
      })
    }
    gate.countDown()
    val folded = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(folded.sorted == Seq(0L, 5L),
      s"one caller folds all 5 rows, the other none — got $folded")
    val report = spark.read.parquet(s"$outDir/metrics")
      .select("source_id", "n_frames").as[(Int, Long)].collect().toMap
    assert(report == Map(1 -> 3L, 2 -> 2L), s"double-counted report: $report")
    assert(retainedReport(outDir) == recomputedReport(outDir))
  }

  test("on-demand metrics publication writes the retained report table") {
    val eventsDir = Files.createTempDirectory("app-events2").toString
    val outDir = Files.createTempDirectory("app-out2").toString
    val ck = s"$outDir/_ck"
    val folds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val h: ControlHarness = new ControlHarness(
      EngineConfig("inst-1", streamIds = Vector(1, 2)),
      Main.pipelineBuilder(spark, eventsDir, outDir, ck, None),
      _ => (), _ => (),
      onMetricsRequest = {
        val fold = Main.foldSession(spark)
        val metrics = Main.metricsTable(spark, outDir)
        c => folds += Main.publishFullMetrics(fold, outDir, ck, c, metrics)
      })
    h.start()
    def stamps(): Map[Int, java.sql.Timestamp] =
      spark.read.parquet(s"$outDir/metrics").select("source_id", "timestamp")
        .as[(Int, java.sql.Timestamp)].collect().toMap
    try {
      writeFile(eventsDir, "a.txt",
        Seq(measuredLine(1, 1), measuredLine(1, 2), measuredLine(2, 1)))
      h.pipeline.get.processAllAvailable()
      h.handle(Command("metrics", Map.empty, Seq.empty))
      val byFrame = spark.read.parquet(s"$outDir/metrics")
        .select("source_id", "n_frames")
        .as[(Int, Long)].collect().toMap
      assert(byFrame == Map(1 -> 2L, 2 -> 1L), s"unexpected report rows: $byFrame")
      assert(folds == Seq(3L), s"the first fold reads every row, got $folds")
      assert(retainedReport(outDir) == recomputedReport(outDir))

      // nothing new published: the fold runs no batch and reads 0 rows;
      // the report, timestamps included, stays as it was
      val before = stamps()
      h.handle(Command("metrics", Map.empty, Seq.empty))
      assert(folds.last == 0L, s"no-new-data request must fold 0 rows, got $folds")
      assert(stamps() == before)

      // new data: the next command folds ONLY the new rows, and the
      // report equals a full recompute bit for bit
      writeFile(eventsDir, "b.txt", Seq(measuredLine(1, 3), measuredLine(1, 4)))
      h.pipeline.get.processAllAvailable()
      h.handle(Command("metrics", Map.empty, Seq.empty))
      assert(folds.last == 2L, s"incremental fold must read only the 2 new rows, got $folds")
      val full = recomputedReport(outDir)
      assert(full.size == 2)
      assert(retainedReport(outDir) == full)

      // losing the fold's checkpoint degrades to a full refold (every row
      // read again) with the same report, never a wrong one
      def deleteRec(p: java.nio.file.Path): Unit = {
        if (Files.isDirectory(p))
          Files.list(p).toArray.foreach(c => deleteRec(c.asInstanceOf[java.nio.file.Path]))
        Files.deleteIfExists(p)
      }
      deleteRec(Paths.get(s"$ck/metrics_report"))
      h.handle(Command("metrics", Map.empty, Seq.empty))
      assert(folds.last == 5L, s"checkpoint loss must refold all 5 rows, got $folds")
      assert(retainedReport(outDir) == full, "recovered report must equal the recompute")
    } finally h.pipeline.foreach(_.stop())
  }

  test("metrics fold: a failed upsert still ACKs, stays off the main session, " +
    "and is replayed by the next command") {
    val eventsDir = Files.createTempDirectory("fold-fault-events").toString
    val outDir = Files.createTempDirectory("fold-fault-out").toString
    val ck = s"$outDir/_ck"
    // the first command's table sits under a regular file: its write fails
    val blocker = Paths.get(outDir, "blocker")
    Files.write(blocker, Array[Byte](1))
    val bad = new graft.io.Sinks.RetainedTable(spark, s"$blocker/metrics",
      Seq("instance_id", "source_id"), "timestamp", "n_frames")
    val good = Main.metricsTable(spark, outDir)
    val fold = Main.foldSession(spark)
    val acks = scala.collection.mutable.ArrayBuffer.empty[graft.model.Ack]
    val folds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val h: ControlHarness = new ControlHarness(
      EngineConfig("inst-1", streamIds = Vector(1, 2)),
      Main.pipelineBuilder(spark, eventsDir, outDir, ck, None),
      as => acks ++= as, _ => (),
      onMetricsRequest = { c =>
        calls += 1
        folds += Main.publishFullMetrics(fold, outDir, ck, c,
          if (calls == 1) bad else good)
      })
    spark.streams.resetTerminated()
    h.start()
    try {
      writeFile(eventsDir, "a.txt",
        Seq(measuredLine(1, 1), measuredLine(1, 2), measuredLine(2, 1)))
      h.pipeline.get.processAllAvailable()
      h.handle(Command("metrics", Map.empty, Seq.empty))
      assert(folds.isEmpty, "the failed fold must not return")
      assert(acks.map(_.ack_status) == Seq("received", "completed"),
        s"a failed publication still completes its command: $acks")
      // the failed fold's query belongs to the side session: the main
      // session's termination loop sees nothing
      spark.streams.awaitAnyTermination(100)
      assert(h.pipeline.exists(_.isActive))
      assert(!Files.exists(Paths.get(s"$outDir/metrics")))

      // the next command replays the uncommitted batch into a good table
      h.handle(Command("metrics", Map.empty, Seq.empty))
      assert(folds == Seq(3L), s"the replay folds every row, got $folds")
      assert(retainedReport(outDir) == recomputedReport(outDir))
    } finally h.pipeline.foreach(_.stop())
  }
}
