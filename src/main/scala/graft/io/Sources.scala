package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.ops.Protocol

/** Sources (S1-S5). The engine ingests the *event* stream; pixels stay
  * external (SURVEY.md §0). The wire shape everywhere is the bus envelope
  * `(topic, payload)` — exactly what an MQTT→file/Kafka bridge delivers
  * (reference: wall/mqtt_listener.py:60-96 subscribes `nvr/detections/#`
  * and receives per-message (topic, payload) pairs).
  *
  * Batch and streaming forms share one parser so operator pipelines are
  * verifiable in batch against the DuckDB oracle and then run unchanged
  * as a streaming query (SURVEY.md §7.2 slice). */
object Sources {

  /** Envelope lines: `topic<TAB>payload`. One file line per bus message —
    * the file-bridge analog of a wildcard subscription. */
  private[graft] def parseEnvelope(lines: DataFrame): DataFrame =
    lines.select(
      substring_index(col("value"), "\t", 1).as("topic"),
      // everything after the first tab (payload may itself contain tabs)
      expr("substring(value, instr(value, '\t') + 1)").as("payload"))

  /** Parsed, validated detection events from an envelope, with the
    * routing key recovered from the topic (S4+S5): malformed payloads
    * are dropped (all-null structs filtered by the validity gate),
    * malformed topics yield null source_id. */
  def parseEventBus(envelope: DataFrame): DataFrame =
    envelope
      .withColumn("topic_source_id", Protocol.parseSourceId(col("topic")))
      .withColumn("event", Schemas.parseEvent(col("payload")))
      .filter(Schemas.eventIsValid(col("event")))
      .select(col("topic_source_id"), col("event.*"))

  /** Live ingest (S1/S2): Spark's file stream source over the bus drop
    * directory. Its source and offset logs make each file exactly-once
    * across restarts, and hidden `.`/`_` files (the bridge's temp files)
    * are never read. `maxFilesPerTrigger` is the backpressure/frame-drop
    * knob (ST5, pipeline_manager.py:122-123): it bounds per-micro-batch
    * intake so a backlog drains at a controlled rate instead of one giant
    * batch (the Kafka analog is maxOffsetsPerTrigger). */
  def eventFileStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    ensureDir(spark, dir)
    val reader = spark.readStream.format("text")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    parseEventBus(parseEnvelope(reader.load(dir)))
  }

  /** Batch replay over the same envelope files — identical plan shape. */
  def eventFileBatch(spark: SparkSession, dir: String): DataFrame =
    parseEventBus(parseEnvelope(spark.read.format("text").load(dir)))

  /** A subscriber may start before anything was published (the reference
    * subscribes to the broker regardless), but Spark's file stream source
    * rejects an absent path: make the drop directory exist so the stream
    * can begin empty. */
  private[graft] def ensureDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
  }

  /** Command stream (S3 analog): JSON command payloads, one per line.
    * Malformed commands parse to all-null structs and are dropped with
    * the same drop-and-log semantics as events
    * (control_plane.py:316-327). Non-`value` columns (e.g. an ingest
    * sequence for ordering) are carried through the parse. */
  def parseCommands(lines: DataFrame): DataFrame = {
    val carried = lines.columns.filterNot(_ == "value").map(col)
    lines.select(carried :+ from_json(col("value"), Schemas.command).as("cmd"): _*)
      .filter(col("cmd.command").isNotNull)
      .select(carried :+ col("cmd.*"): _*)
  }

  /** JSONL corpus ingestion with corrupt-row QUARANTINE — the entry
    * point of the training-data pipeline (raw crawls/dumps arrive as
    * JSON lines, and some lines are always garbage): parse each line
    * against the declared schema; lines that are not valid JSON route
    * to the quarantine side WITH their raw text (debuggable, never
    * silently dropped — the row-count reconciliation a pipeline
    * dashboard needs: good + quarantined = input). Field-LEVEL
    * validation deliberately stays out: compose the good side with
    * [[graft.ops.Curation.checkConstraints]] (nulls, ranges, keys) and
    * gate the publish with [[Snapshots.publishChecked]] — together the
    * full ingest→validate→publish story. Row-local `from_json`, no
    * shuffle; both sides are lazy views of one text scan. */
  /** The parse/quarantine split over ANY `value: string` line relation
    * — batch ([[jsonlCorpus]]) and streaming ([[jsonlCorpusStream]])
    * share it, so verdicts are identical by construction. Both sides
    * are lazy row-local views of the same scan. */
  def jsonlParse(lines: DataFrame,
                 schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) = {
    // the corrupt-record column is the reliable malformed test —
    // PERMISSIVE from_json partial-parses garbage like "{broken" into a
    // struct of nulls, so j IS NOT NULL alone under-quarantines
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema may not declare _corrupt_record")
    val withCorrupt = schema
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val parsed = lines
      .select(col("value"),
        from_json(col("value"), withCorrupt,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"))
    val good = parsed
      .filter(col("j").isNotNull && col("j._corrupt_record").isNull)
      .select("j.*").drop("_corrupt_record")
    val quarantined = parsed
      .filter(col("j").isNull || col("j._corrupt_record").isNotNull)
      .select(col("value").as("raw_line"))
    (good, quarantined)
  }

  def jsonlCorpus(spark: SparkSession, path: String,
                  schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) =
    jsonlParse(spark.read.text(path), schema)

  /** Streaming JSONL ingest with quarantine: the same stateless
    * [[jsonlParse]] split over a file stream — route `good` into the
    * pipeline and `quarantined` to a dead-letter sink (two writeStreams
    * over one source; both append-mode, no state). Corrupt lines are
    * VISIBLE at ingest instead of poisoning a batch downstream. */
  def jsonlCorpusStream(spark: SparkSession, dir: String,
                        schema: org.apache.spark.sql.types.StructType,
                        maxFilesPerTrigger: Int = 16)
      : (DataFrame, DataFrame) =
    jsonlParse(
      spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger)
        .text(dir), schema)
}
