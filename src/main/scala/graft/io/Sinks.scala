package graft.io

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * cardinality is the fleet size, not the event volume. Their writer
  * holds them on the driver; the event stream never flows through them. */
object Sinks {

  /** A last-value-wins table at `path`, keyed by `key`, newest by
    * (`orderCol`, `tieBreak`), held on the driver by its one writer.
    * Both order columns compare with Spark's `desc` null ordering (a
    * null loses); on a full tie the incoming row wins, so a replayed
    * batch leaves the table as it was. The other columns (the MAPs of a
    * status row among them) are carried and never compared.
    *
    * The first non-empty upsert loads the table once, read with the
    * batch's declared schema (no inference job). Each upsert collects
    * the batch (one job; callers pass fleet-sized rows), merges it on
    * the driver and writes the whole table as one part-file (one job).
    * An empty batch writes nothing. A writer that restarts builds a new
    * value, which loads the table again.
    *
    * Not atomic: the write lands in a staging directory, then the table
    * directory is deleted and the staging directory renamed in its
    * place. A reader between the delete and the rename finds no table. */
  final class RetainedTable(spark: SparkSession, path: String,
      key: Seq[String], orderCol: String, tieBreak: String) {
    private val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    private val target = new org.apache.hadoop.fs.Path(path)
    private var schema: StructType = _
    private val rows = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Row]

    def upsert(batch: DataFrame): Unit = synchronized {
      val incoming = batch.collect()
      if (incoming.nonEmpty) {
        if (schema == null) {
          schema = StructType(batch.schema.fields.map(_.copy(nullable = true)))
          if (fs.exists(target))
            spark.read.schema(schema).parquet(path).collect().foreach(merge)
        }
        require(batch.columns.sameElements(schema.fieldNames),
          s"$path holds columns ${schema.fieldNames.mkString(",")}, " +
            s"the batch has ${batch.columns.mkString(",")}")
        incoming.foreach(merge)
        val staging = new org.apache.hadoop.fs.Path(path + ".staging")
        spark.createDataFrame(java.util.Arrays.asList(rows.values.toSeq: _*),
            schema).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(staging.toString)
        fs.delete(target, true)
        fs.rename(staging, target)
      }
    }

    private def merge(r: Row): Unit = {
      val k = key.map(c => r.get(r.fieldIndex(c)))
      val older = rows.get(k).exists { held =>
        val c = ascNullsFirst(r.getAs[Any](orderCol), held.getAs[Any](orderCol))
        if (c != 0) c < 0
        else ascNullsFirst(r.getAs[Any](tieBreak), held.getAs[Any](tieBreak)) < 0
      }
      if (!older) rows(k) = r
    }
  }

  /** Spark's ascending order of two atomic values of one column, a null
    * first (so it loses under `desc`): strings by UTF-8 bytes, floating
    * point with NaN above all and -0.0 = 0.0. */
  private def ascNullsFirst(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
    case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
    case (x: Float, y: Float) => if (x == y) 0 else java.lang.Float.compare(x, y)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
  }

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
