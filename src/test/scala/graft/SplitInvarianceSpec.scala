package graft

import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import graft.ops.EventOps
import graft.streaming.StatefulOps

/** Split invariance of the streaming operators that keep state across
  * micro-batches: a time-ordered fixture cut into ANY contiguous run of
  * micro-batches — the arrival contract these operators document —
  * ends in the batch operator's answer. ScalaCheck draws the cut points
  * from its own random seed; a failing trial prints its split. */
class SplitInvarianceSpec extends SparkSpec {
  import spark.implicits._

  /** Trials per operator. Each trial runs one streaming query of up to
    * `MaxParts` micro-batches (plus flushes), about a second apiece. */
  private val Trials = 4
  private val MaxParts = 4

  /** Sorted, distinct cut offsets splitting `n` rows into 2..MaxParts
    * non-empty contiguous micro-batches. */
  private def cuts(n: Int): Gen[List[Int]] =
    for {
      k <- Gen.choose(1, math.min(MaxParts, n) - 1)
      cs <- Gen.pick(k, 1 until n)
    } yield cs.toList.sorted

  private def split[A](rows: Seq[A], cs: List[Int]): Seq[Seq[A]] = {
    val bounds = 0 +: cs :+ rows.size
    bounds.zip(bounds.tail).map { case (a, b) => rows.slice(a, b) }
  }

  /** `trial` must hold for every drawn split of `rows`. */
  private def forEverySplit[A](rows: Seq[A])(
      trial: Seq[Seq[A]] => Boolean): Unit = {
    val prop = Prop.forAllNoShrink(cuts(rows.size)) { cs =>
      val parts = split(rows, cs)
      Prop(trial(parts)) :| s"micro-batches: ${parts.mkString(" | ")}"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(Trials), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(1)))
  }

  private val sinkIds = new java.util.concurrent.atomic.AtomicInteger

  /** Feeds `parts` to `build` on a MemoryStream, one micro-batch each,
    * and returns what the memory sink holds afterwards. */
  private def streamed[A: Encoder](parts: Seq[Seq[A]], names: Seq[String],
      mode: String)(build: DataFrame => DataFrame): Seq[Row] = {
    implicit val ctx = spark.sqlContext
    val sink = s"split_${sinkIds.incrementAndGet()}"
    val in = MemoryStream[A]
    val q = build(in.toDF().toDF(names: _*)).writeStream.format("memory")
      .queryName(sink).outputMode(mode).start()
    try {
      parts.foreach { p => in.addData(p: _*); q.processAllAvailable() }
      spark.table(sink).collect().toSeq
    } finally q.stop()
  }

  test("streamingFunnel: every contiguous split ends at the batch funnel") {
    val H = 3600000000L // 1 h µs
    // the EventOpsSpec funnel fixture in event-time order
    val rows = Seq(
      (1L, 0L, "view"), (1L, H, "click"), (1L, 2 * H, "purchase"),
      (2L, 0L, "view"), (2L, 25 * H, "click"),
      (3L, 0L, "view"), (3L, H, "click"), (3L, 26 * H, "purchase"),
      (4L, 0L, "click"), (4L, H, "purchase"),
      (5L, 0L, "purchase"), (5L, H, "view"), (5L, 2 * H, "click"),
      (6L, 0L, "view"), (6L, 24 * H, "click")).sortBy(_._2)
    val steps = Seq(col("event_type") === "view",
      col("event_type") === "click", col("event_type") === "purchase")
    def events(df: DataFrame) = df.toDF("user_id", "us", "event_type")
      .withColumn("ts", expr("timestamp_micros(us)"))
    val batch = EventOps.funnel(events(rows.toDF()), "user_id", "ts", steps,
        withinUs = 24 * H)
      .collect().map { r =>
        (r.getLong(0), r.getInt(4),
          Seq(1, 2, 3).flatMap(i => Option(r.get(i))).map(_.asInstanceOf[Long]))
      }.toSet
    forEverySplit(rows) { parts =>
      // the deepest progress row per key is the key's final state
      val live = streamed(parts, Seq("user_id", "us", "event_type"),
          "update") { s =>
        StatefulOps.streamingFunnel(events(s), "user_id", "ts", steps,
          withinUs = 24 * H).toDF()
      }.groupBy(_.getLong(0)).map { case (k, ps) =>
        val last = ps.maxBy(_.getInt(1))
        (k, last.getInt(1), last.getSeq[Long](2))
      }.toSet
      live == batch
    }
  }

  test("streamingCusum: every contiguous split equals the batch closed form") {
    val D = 86400L
    // daily counts per key (every window non-empty, as batch windows are)
    val counts = Map(1L -> Seq(2L, 2L, 2L, 2L, 7L), 2L -> Seq(3L, 3L, 3L),
      3L -> Seq(1L, 4L, 1L, 6L))
    val events = counts.toSeq.flatMap { case (k, ns) =>
        ns.zipWithIndex.flatMap { case (n, day) =>
          Seq.fill(n.toInt)((k, day * D)) }
      }.zipWithIndex.map { case ((k, sec), i) => (k, sec * 1000000L + i) }
      .toDF("user_id", "us")
      .withColumn("ts", expr("timestamp_micros(us)"))
    val batch = EventOps.cusumDrift(events, "user_id", "ts",
        windowSec = 86400, thresholdEvents = 3L)
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(batch.exists(_._5 == 1)) // fixture sanity: some window alarms
    val baseline = EventOps.rateBaseline(events, "user_id", "ts",
      windowSec = 86400)
    // closed window counts in win_start order, keys interleaved
    val wins = counts.toSeq.flatMap { case (k, ns) =>
      ns.zipWithIndex.map { case (n, day) => (k, day * D, n) }
    }.sortBy(w => (w._2, w._1))
    forEverySplit(wins) { parts =>
      streamed(parts, Seq("user_id", "win_start", "n"), "append") { s =>
        StatefulOps.streamingCusum(s, baseline, "user_id",
          thresholdEvents = 3L)
      }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet == batch
    }
  }

  test("streamingSessionize: every contiguous split closes the batch sessions") {
    // gap 10 s; key a has three sessions, b two, c two
    val rows = Seq(("a", 1L), ("a", 8L), ("a", 30L), ("a", 31L), ("a", 55L),
      ("b", 5L), ("b", 6L), ("b", 40L),
      ("c", 12L), ("c", 13L), ("c", 14L), ("c", 60L)).sortBy(_._2)
    def events(df: DataFrame) = df.toDF("k", "sec")
      .withColumn("ts", expr("timestamp_micros(sec * 1000000)"))
    val batch = EventOps.sessionize(events(rows.toDF()), "k", "ts",
        gapUs = 10000000L)
      .select("k", "session_start_us", "session_end_us", "n_events")
      .as[(String, Long, Long, Long)].collect().toSet
    // the lateness exceeds the fixture's span, so no fixture row is ever
    // late; two far-future rows on a separate key then move the
    // watermark past every fixture session, closing them all
    val flush = Seq(Seq(("zz", 1000000L)), Seq(("zz", 1000001L)))
    forEverySplit(rows) { parts =>
      streamed(parts ++ flush, Seq("k", "sec"), "append") { s =>
        StatefulOps.streamingSessionize(events(s), "k", "ts",
          gapUs = 10000000L, lateness = "1 day")
      }.filter(_.getString(0) != "zz")
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet == batch
    }
  }
}
