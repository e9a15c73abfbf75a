package graft.app

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.control.{ControlHarness, EngineConfig}
import graft.io.{Sinks, Sources}
import graft.model.Schemas
import graft.ops.EventOps
import graft.streaming.StatefulOps

/** CLI entry point mirroring the reference's `cupertino-nvr processor` /
  * `wall` commands (cli.py:101-183), re-expressed for the engine scope:
  * the event path starts at the bus-envelope directory (the MQTT-bridge
  * drop zone) instead of RTSP — pixels never enter the engine
  * (SURVEY.md §0).
  *
  * Modes:
  *  - `pipeline`: streaming processor — ingest envelopes, filter, publish
  *    per-key detections, run the control plane (commands dir → ACK/status
  *    tables), until terminated. Flags mirror cli.py: --instance-id,
  *    --confidence, --max-fps, --model, and stream selection
  *    --n/--start/--end/--streams (cli.py:112-124). `--max-fps` is
  *    validated, reported in status and restarts the pipeline when
  *    `set_fps` changes it, but no data-plane code reads it: ingest is
  *    bounded only by `--max-files-per-trigger`.
  *  - `wall`: the consumer process (reference VideoWall, pixels excluded):
  *    subscribe to the published detections, parse + label, maintain the
  *    retained latest-per-source tiles table the renderer draws from.
  *  - `replay`: batch verification pass over the same envelope directory —
  *    latest-per-key with TTL, printed (the wall's data dependency,
  *    without pixels).
  */
object Main {

  /** The one cadence of the live queries (pipeline, wall, control): at
    * most one trigger per second, so each query's fixed per-trigger work
    * is paid once a second however the events arrive. The reference's
    * wall expires a detection after 1 s (wall/config.py:50-51) and its
    * default stream rate is 1 fps (cli.py:62). A trigger that runs
    * longer than the interval is followed at once by the next one, so a
    * backlog drains as fast as back-to-back triggers would drain it. */
  val LiveTrigger: Trigger = Trigger.ProcessingTime("1 second")

  private def parseArgs(argv: Array[String]): Map[String, String] =
    argv.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  /** Stream selection (cli.py:112-124), precedence preserved:
    *  - `--streams "1,3,6"` — explicit comma-separated ids;
    *  - `--start X --end Y` — inclusive range;
    *  - `--start X` alone — `n` ids from X;
    *  - default — ids 0 until n (n defaults to 6, like the reference).
    * `--end` without `--start` is rejected (silently falling through to
    * the default would ignore the user's range), and every numeric flag
    * failure names the flag instead of surfacing a bare
    * NumberFormatException. */
  def resolveStreamIds(args: Map[String, String]): Vector[Int] = {
    def intFlag(flag: String, raw: String): Int =
      try raw.trim.toInt
      catch {
        case _: NumberFormatException =>
          sys.error(s"invalid value for --$flag: '$raw' (expected an integer)")
      }
    val n = args.get("n").map(intFlag("n", _)).getOrElse(6)
    (args.get("streams"), args.get("start").map(intFlag("start", _)),
      args.get("end").map(intFlag("end", _))) match {
      case (Some(list), _, _) =>
        list.split(",").iterator.map(_.trim).filter(_.nonEmpty)
          .map(intFlag("streams", _)).toVector
      case (None, Some(start), Some(end)) => (start to end).toVector
      case (None, Some(start), None) => (start until start + n).toVector
      case (None, None, Some(_)) =>
        sys.error("--end requires --start (use --start X --end Y for an " +
          "inclusive stream-id range)")
      case (None, None, None) => (0 until n).toVector
    }
  }

  /** The data-plane builder (rebuilt on every ST7/ST8 restart). ST8 is
    * wired END-TO-END here: ingest is filtered to the CURRENT config's
    * `streamIds` (by the source id parsed from the bus topic), so
    * `add_stream`/`remove_stream` — which restart the pipeline with a new
    * config — change what is actually ingested, not just the config
    * projection (command_handlers.py:266-310, 567-647). The checkpoint is
    * shared across restarts: the file-source offset log replays unread
    * envelopes and the new plan's filter decides their fate — a removed
    * stream's backlog is dropped, not published. Runs on [[LiveTrigger]]. */
  def pipelineBuilder(spark: SparkSession, eventsDir: String, outDir: String,
                      ckRoot: String, maxFiles: Option[Int])
                     (c: EngineConfig, paused: () => Boolean): StreamingQuery = {
    // ingest runs on Spark's file stream source (exactly-once per file
    // through its source and offset logs, maxFilesPerTrigger admission)
    val events = Sources.eventFileStream(spark, eventsDir, maxFiles)
      .filter(col("topic_source_id").isin(c.streamIds: _*))
      // F3: confidence threshold applied inside the nested array (the
      // reference delegates this to the inference layer; the engine
      // enforces it at ingest)
      .withColumn("detections", filter(col("detections"),
        d => d.getField("confidence") >= c.confidenceThreshold))
    // one part-file per micro-batch: the wall's file listing and the
    // `metrics` fold both grow with the file count. The append is the
    // batch's one read, so a batch whose every row the filters dropped
    // still appends, a zero-row part-file.
    StatefulOps.pauseGatedWriter(events, paused) { (batch, _) =>
      Sinks.detectionPublishFrame(batch, "nvr/detections")
        .coalesce(1).write.mode("append").parquet(s"$outDir/detections")
    }.trigger(LiveTrigger)
      .option("checkpointLocation", s"$ckRoot/pipeline").start()
  }

  /** On-demand METRICS publication (command_handlers.py:340-372): the
    * full per-source report over everything this instance has published,
    * upserted into the held retained `metrics` table keyed by
    * (instance, source) — the engine analog of the retained
    * `{status}/metrics/{instance_id}` topic. The engine's events carry
    * inference/e2e measurements but no decode timings or frame geometry
    * (those never cross the bus) — the corresponding report columns are
    * null, which the null-skipping averages ignore (F6).
    *
    * The fold is [[graft.metrics.Metrics.fullReport]] run unchanged as a
    * complete-mode streaming aggregate over the published detections,
    * one `AvailableNow` run per command, checkpointed at
    * `<ckRoot>/metrics_report`: each command reads only the rows
    * published since the last one (the reference reports from running
    * counters in O(1)). Its sums, counts and maxes are order-independent,
    * so the report is bit-identical to a batch recompute. The upsert runs
    * inside the micro-batch, before the batch commits, so a failed
    * upsert is replayed by the next command. A command that finds
    * nothing new runs no batch and leaves the report as it was.
    *
    * `fold` is the caller's [[foldSession]]; `metrics` its held
    * [[metricsTable]]. Folds run one at a time, because two queries on
    * one checkpoint cannot run at once; the lock is not the table's,
    * whose upsert runs on the query's thread. Returns the number of rows
    * folded. */
  def publishFullMetrics(fold: SparkSession, outDir: String, ckRoot: String,
                         cfg: EngineConfig, metrics: Sinks.RetainedTable): Long =
    foldLock.synchronized {
      val events = wallEvents(fold, s"$outDir/detections")
        .select(col("source_id"), lit(null).cast("double").as("decode_s"),
          (col("inference_time_ms") / 1000).as("inference_s"),
          (col("latency_ms") / 1000).as("e2e_s"),
          lit(null).cast("int").as("w"), lit(null).cast("int").as("h"))
      val report = graft.metrics.Metrics.fullReport(events,
        "source_id", "decode_s", "inference_s", "e2e_s", "w", "h")
      val q = StatefulOps.eachBatch(report) { (batch, _) =>
        metrics.upsert(batch
          .withColumn("instance_id", lit(cfg.instanceId))
          .withColumn("timestamp", lit(new java.sql.Timestamp(
            System.currentTimeMillis()))))
      }.outputMode("complete").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$ckRoot/metrics_report").start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

  private val foldLock = new Object

  /** The session the `metrics` fold runs on, created once per engine: a
    * side session of `spark` with its own `StreamingQueryManager`, so a
    * fold's termination or failure never reaches the main session's
    * `awaitAnyTermination` loop; one shuffle partition, because its
    * state is one row per source. */
  def foldSession(spark: SparkSession): SparkSession = {
    val fold = spark.newSession()
    fold.conf.set("spark.sql.shuffle.partitions", "1")
    fold
  }

  /** The retained per-(instance, source) report table that
    * [[publishFullMetrics]] upserts into. */
  def metricsTable(spark: SparkSession, outDir: String): Sinks.RetainedTable =
    new Sinks.RetainedTable(spark, s"$outDir/metrics",
      Seq("instance_id", "source_id"), "timestamp", "n_frames")

  /** The wall consumer's ingest (reference process #2:
    * wall/mqtt_listener.py:86-96 parse + wall/detection_cache.py cache
    * feed): a streaming read of the published detections, payloads parsed
    * and validated, per-detection display labels attached (E3 — the
    * render sink's data dependency; pixels stay out of the engine). */
  def wallEvents(spark: SparkSession, detectionsDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    Sources.ensureDir(spark, detectionsDir)
    val frame = StructType(Seq(
      StructField("topic", StringType), StructField("source_id", IntegerType),
      StructField("payload", StringType)))
    spark.readStream.schema(frame).parquet(detectionsDir)
      .select(Schemas.parseEvent(col("payload")).as("e"))
      .filter(Schemas.eventIsValid(col("e")))
      .select(col("e.*"))
  }

  /** The wall's tile cache as a retained table (W1 last-value-wins per
    * source, K3-style upsert), held by the writer on the driver: each
    * micro-batch reduces to its latest row per source on the executors,
    * then those fleet-sized rows merge into the tiles table. Runs on
    * [[LiveTrigger]]. Display labels (E3)
    * are formatted AFTER the reduction — the interpreted `transform` HOF
    * touches |sources| rows per batch, never the full event stream (only
    * surviving tiles get rendered, so labeling losers would be wasted
    * interpreted work). Read-side freshness (ST1's TTL) belongs to the
    * consumer: `EventOps.latestPerKeyWithTtl` over the table, exactly
    * like the reference expires on `get`. */
  def wallWriter(events: DataFrame, tilesPath: String): DataStreamWriter[Row] = {
    val tiles = new Sinks.RetainedTable(events.sparkSession, tilesPath,
      Seq("source_id"), "timestamp", "frame_id")
    StatefulOps.eachBatch(events) { (batch, _) =>
      val latest = EventOps.latestPerKey(batch,
        Seq("source_id"), "timestamp", "frame_id")
        .withColumn("labels", concat_ws("|", transform(col("detections"),
          d => EventOps.label(d.getField("class_name"),
            d.getField("confidence"), d.getField("tracker_id")))))
        .drop("detections")
      tiles.upsert(latest)
    }.trigger(LiveTrigger)
  }

  /** Periodic lightweight-metrics publication (ST3/K5 cadence,
    * metrics_reporter.py:164-233): a streaming query over this instance's
    * published detections — windowed per-source aggregates upserted into
    * the retained metrics-lite table every trigger, warm-up windows
    * suppressed by the validity gate (F5). The reference's daemon-thread
    * timer becomes a `ProcessingTime` trigger; `intervalSec = 0` disables
    * it, like `--metrics-interval 0`. */
  def metricsPublisher(spark: SparkSession, outDir: String, instanceId: String,
                       intervalSec: Int): DataStreamWriter[Row] = {
    val events = wallEvents(spark, s"$outDir/detections")
      .select(col("source_id"), col("timestamp").as("ts"),
        (col("inference_time_ms") / 1000).as("value"))
    val report = graft.metrics.Metrics.validityGate(
      StatefulOps.metricsAggregate(
        events.withColumnRenamed("source_id", "user_id")
          .withWatermark("ts", s"$intervalSec seconds"),
        windowSec = intervalSec), "rate")
    // update mode = the CURRENT interval's aggregates each trigger (the
    // reference publishes a live snapshot, not a watermark-closed one);
    // the watermark still bounds window state
    val lite = new Sinks.RetainedTable(spark, s"$outDir/metrics_lite",
      Seq("instance_id", "source_id"), "window_start", "n")
    StatefulOps.eachBatch(report) { (batch, _) =>
      val rows = batch
        .select(col("user_id").as("source_id"),
          col("window.start").as("window_start"), col("n"),
          col("n_valid"), col("rate"), col("avg_val_ms").as("avg_inference_ms"))
        .withColumn("instance_id", lit(instanceId))
      lite.upsert(rows)
    }.outputMode("update")
      .trigger(Trigger.ProcessingTime(s"$intervalSec seconds"))
  }

  private def runWall(spark: SparkSession, args: Map[String, String],
                      req: String => String): Unit = {
    val outDir = req("out-dir")
    val q = wallWriter(wallEvents(spark, req("detections-dir")), s"$outDir/tiles")
      .option("checkpointLocation",
        args.getOrElse("checkpoint-dir", s"$outDir/_ck_wall"))
      .start()
    q.awaitTermination()
  }

  /** The control loop's command query over `controlDir` (one command
    * file per operator command), on [[LiveTrigger]]: an idle control
    * query lists the directory once a second, not back to back. */
  def controlWriter(spark: SparkSession, harness: ControlHarness,
                    controlDir: String): DataStreamWriter[Row] = {
    val cmds = Sources.parseCommands(
      spark.readStream.format("text").load(controlDir)
        .withColumn("seq", input_file_name()))
    harness.attach(cmds, "seq").trigger(LiveTrigger)
  }

  /** Above this many paths, `InMemoryFileIndex` lists them with a Spark
    * job of one task per path (default 32). The file stream source
    * re-resolves each trigger's admitted files through that index, so
    * with the default a trigger of more than 32 spool files would pay a
    * listing job of one task per file. A fixed value well above any
    * per-trigger file count keeps that listing on the driver. */
  private[graft] val ListingThreshold =
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "100000"

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("pipeline")
    val args = parseArgs(argv)
    def req(k: String): String = args.getOrElse(k,
      sys.error(s"missing required flag --$k"))

    val spark = {
      val b = SparkSession.builder()
        .master(args.getOrElse("master", "local[*]"))
        .config("spark.sql.shuffle.partitions",
          args.getOrElse("shuffle-partitions", "32"))
        .config("spark.ui.enabled", "false")
        .config(ListingThreshold._1, ListingThreshold._2)
      graft.Queries.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
      b.getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")

    mode match {
      case "pipeline" => runPipeline(spark, args, req)
      case "wall" => runWall(spark, args, req)
      case "replay" => runReplay(spark, args, req)
      case other => sys.error(s"unknown mode: $other (pipeline|wall|replay)")
    }
  }

  private def runPipeline(spark: SparkSession, args: Map[String, String],
                          req: String => String): Unit = {
    import spark.implicits._
    val eventsDir = req("events-dir")
    val outDir = req("out-dir")
    val ckRoot = args.getOrElse("checkpoint-dir", s"$outDir/_checkpoints")
    // the CLI goes through the SAME validation as every runtime command —
    // a config the control plane would reject must not boot either
    val cfg = EngineConfig(
      instanceId = args.getOrElse("instance-id", "processor-1"),
      modelId = args.getOrElse("model", "yolov8x-640"),
      maxFps = args.getOrElse("max-fps", "1.0").toDouble,
      confidenceThreshold = args.getOrElse("confidence", "0.5").toDouble,
      streamIds = resolveStreamIds(args))
      .validate.fold(err => sys.error(s"invalid configuration: $err"), identity)
    val maxFiles = args.get("max-files-per-trigger").map(_.toInt)

    // `--mqtt-port N` (0 = ephemeral): serve real MQTT 3.1.1 on loopback,
    // spooling PUBLISHes into the SAME drop dir the ingest stream drains — a
    // paho-style client (the reference's transport) publishes events
    // straight into this running pipeline; QoS-1 is durable-then-ack.
    val mqtt = args.get("mqtt-port").map { p =>
      val br = new graft.io.bus.MqttBridge(eventsDir, p.toInt).start()
      println(s"[mqtt] listening on 127.0.0.1:${br.boundPort} -> $eventsDir")
      br
    }

    val statusTable = new Sinks.RetainedTable(spark, s"$outDir/status",
      Seq("instance_id"), "timestamp", "status")
    val metrics = metricsTable(spark, outDir)
    val fold = foldSession(spark)
    val harness = new ControlHarness(cfg,
      pipelineBuilder(spark, eventsDir, outDir, ckRoot, maxFiles),
      acks => if (acks.nonEmpty)
        acks.toDF().write.mode("append").parquet(s"$outDir/acks"),
      status => statusTable.upsert(Seq(status).toDF()),
      onMetricsRequest = c => publishFullMetrics(fold, outDir, ckRoot, c, metrics))
    // ST7 supervision: crashed pipeline queries (exception present) are
    // logged; clean stops (restart/stop commands) are not failures.
    graft.control.Supervisor.install(spark) { (runId, ex) =>
      System.err.println(s"[supervisor] query $runId failed: ${ex.take(200)}")
    }
    harness.start()

    args.get("control-dir").foreach { controlDir =>
      controlWriter(spark, harness, controlDir)
        .option("checkpointLocation", s"$ckRoot/control").start()
    }
    // ST3/K5: periodic retained metrics (reference default 10 s; 0 = off)
    val metricsInterval = args.getOrElse("metrics-interval", "10").toInt
    if (metricsInterval > 0)
      metricsPublisher(spark, outDir, cfg.instanceId, metricsInterval)
        .option("checkpointLocation", s"$ckRoot/metrics").start()
    // The reference's supervising join() rejoin loop (ST7,
    // processor/processor.py:207-273): a restart command intentionally
    // terminates the pipeline query, which must NOT exit the app —
    // rejoin. A `stop` COMMAND ends the process (the reference's join()
    // returns once the pipeline is gone, processor.py:236-266) — the
    // control query alone must not keep a stopped processor alive. The
    // harness raises `isStopped` only after the stop command's ACK and
    // status writes have been emitted, so stopping the remaining queries
    // here cannot lose them. A query that dies WITH an exception
    // propagates out of awaitAnyTermination and crashes the process
    // (the reference exits on unexpected pipeline death too) —
    // resetTerminated is only called after a clean termination, never
    // preemptively, so a crash can't be silently swallowed.
    var running = true
    while (running) {
      val terminated = spark.streams.awaitAnyTermination(2000)
      if (terminated) spark.streams.resetTerminated()
      if (harness.isStopped) {
        spark.streams.active.foreach(_.stop())
        running = false
      } else if (terminated) {
        Thread.sleep(2000) // let an in-flight stop→rebuild→start register
        running = spark.streams.active.nonEmpty
      }
    }
    mqtt.foreach(_.stop())
  }

  private def runReplay(spark: SparkSession, args: Map[String, String],
                        req: String => String): Unit = {
    val events = Sources.eventFileBatch(spark, req("events-dir"))
    val latest = EventOps.latestPerKeyWithTtl(events, Seq("source_id"),
      "timestamp", "frame_id", args.getOrElse("ttl", "1 SECOND"))
    latest.show(args.getOrElse("limit", "50").toInt, truncate = false)
  }
}
