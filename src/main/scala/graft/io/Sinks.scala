package graft.io

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Sinks (K1-K5). The reference's broker-side behaviors map to two table
  * disciplines:
  *
  *  - "retained" topics (status, metrics — control_plane.py:397-433,
  *    metrics_reporter.py:214-233) are last-value-wins per key → an
  *    idempotent upsert table. Idempotency is what reconciles Spark's
  *    at-least-once with the reference's QoS-1 (ST9, SURVEY.md §7.4.4):
  *    replaying a batch converges to the same table.
  *  - non-retained streams (detections K1, ACKs K4) are append-only.
  *
  * Scale note: the retained tables are keyed by instance/source — their
  * cardinality is the fleet size, not the event volume. The merge below
  * reads+rewrites only that tiny table per batch; the event stream never
  * flows through it. */
object Sinks {

  /** Merge a micro-batch into a last-value-wins table at `path`, keyed by
    * `key`, newest by (`orderCol`, `tieBreak`). Atomic via
    * write-then-swap of a staging directory. Streaming callers reach it
    * through [[graft.streaming.StatefulOps.eachBatch]], which skips
    * empty micro-batches, so it makes no emptiness check of its own (one
    * more scan of the batch); an empty `batch` rewrites the table
    * unchanged. */
  def upsertRetained(spark: SparkSession, batch: DataFrame, path: String,
                     key: Seq[String], orderCol: String, tieBreak: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(path)
    val existing =
      if (fs.exists(target)) Some(spark.read.parquet(path)) else None
    val unioned = existing.map(_.unionByName(batch)).getOrElse(batch)
    // row_number, not EventOps.latestPerKey: status payloads carry MAP
    // columns (config/health projections) which struct-max cannot order;
    // the retained table is fleet-sized, so a window sort is irrelevant.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc)
    val merged = unioned
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    fs.delete(target, true)
    fs.rename(staging, target)
  }

  /** K4: ACK append (QoS 1, not retained) — plain append-mode parquet.
    * Exactly-once per micro-batch via the streaming commit log. */
  def ackWriter(acks: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    acks.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** K1/K2: per-key publish — serialize the event struct to JSON with its
    * topic (events/protocol.py:11-28). `Main.pipelineBuilder` appends it
    * unpartitioned, one part-file per micro-batch, at-least-once (≥ the
    * reference's QoS 0). */
  def detectionPublishFrame(events: DataFrame, topicPrefix: String): DataFrame =
    events.select(
      graft.ops.Protocol.topicForSource(col("source_id"), topicPrefix).as("topic"),
      col("source_id"),
      to_json(struct(events.columns.map(col): _*)).as("payload"))
}
