package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{Frame, KeyedEvent, PairedFrame, StatefulOps}

/** The wall's render-loop join as streaming co-processing (J2):
  * frame → latest fresh event of its source, or bare tile. */
class AsOfCoProcessSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long, v: Double) =
    KeyedEvent(id, ts(t), user, "det", v)
  private def fr(id: Long, t: String, user: Long) = Frame(id, ts(t), user)

  test("frames pair with the latest event; bare tile when none; overwrite wins") {
    implicit val ctx = spark.sqlContext
    val frames = MemoryStream[Frame]
    val events = MemoryStream[KeyedEvent]
    val q = StatefulOps.asOfCoProcess(frames.toDS(), events.toDS(), ttlMs = 60000)
      .writeStream.format("memory").queryName("coproc").outputMode("append").start()
    try {
      def rows = spark.table("coproc").as[PairedFrame].collect()
        .map(p => p.frame_id -> p.event_id).toMap
      // batch 1: event 10 (seq 20) for user 1, then frames 50 (seq 101,
      // user 1) and 60 (user 2) — frame ids ABOVE the event id so the
      // event is visible under the id-interleaving convention even when
      // all land in one micro-batch
      events.addData(ev(10, "2024-01-01 00:00:00", 1, 1.0))
      frames.addData(fr(50, "2024-01-01 00:00:01", 1), fr(60, "2024-01-01 00:00:01", 2))
      awaitCond("frame 50 paired, frame 60 bare")(
        rows.get(50L).contains(Some(10L)) && rows.get(60L).contains(None))
      // batch 2: overwrite user 1's event (last arrival wins); frame 13
      // (seq 27) arrives after event 12 (seq 24) and sees it
      events.addData(ev(12, "2024-01-01 00:00:02", 1, 2.0))
      frames.addData(fr(13, "2024-01-01 00:00:03", 1))
      awaitCond("frame 13 sees overwritten event 12")(
        rows.get(13L).exists(_.contains(12L)))
      // frame 101 (seq 203) > event 100 (seq 200): sees it however the
      // adds split across micro-batches — from state when the event's
      // batch ran first (the single-batch case has its own test)
      events.addData(ev(100, "2024-01-01 00:00:10", 3, 3.0))
      frames.addData(fr(101, "2024-01-01 00:00:11", 3))
      awaitCond("frame 101 sees event 100")(
        rows.get(101L).exists(_.contains(100L)))
    } finally q.stop()
  }

  test("intra-batch id-interleaving: an event is invisible to earlier-seq frames") {
    implicit val ctx = spark.sqlContext
    // all rows queued BEFORE the query starts, so batch 0 contains them
    // all — the interleaving is exercised deterministically in ONE
    // micro-batch (addData after start could split across batches and
    // the frame would legitimately see the event from state — a race,
    // not a failure). No AvailableNow: with ProcessingTimeTimeout state
    // the engine keeps scheduling timeout batches and never terminates.
    val frames = MemoryStream[Frame]
    val events = MemoryStream[KeyedEvent]
    events.addData(ev(100, "2024-01-01 00:00:10", 3, 3.0))       // seq 200
    frames.addData(fr(99, "2024-01-01 00:00:10", 3),             // seq 199
      fr(101, "2024-01-01 00:00:11", 3))                         // seq 203
    val q = StatefulOps.asOfCoProcess(frames.toDS(), events.toDS(), ttlMs = 60000)
      .writeStream.format("memory").queryName("coproc_one").outputMode("append").start()
    try {
      def rows = spark.table("coproc_one").as[PairedFrame].collect()
        .map(p => p.frame_id -> p.event_id).toMap
      awaitCond("both frames processed")(rows.size == 2)
      assert(rows.get(99L).contains(None),
        "event 100 (seq 200) must not be visible to frame 99 (seq 199)")
      assert(rows.get(101L).exists(_.contains(100L)),
        "frame 101 (seq 203) must see event 100")
    } finally q.stop()
  }

  test("supervisor records crashes with exceptions, ignores clean stops") {
    implicit val ctx = spark.sqlContext
    @volatile var failed: Option[String] = None
    val sup = graft.control.Supervisor.install(spark) { (_, ex) =>
      failed = Some(ex)
    }
    try {
      val in = MemoryStream[KeyedEvent]
      // clean stop: no exception recorded
      val ok = in.toDF().writeStream.format("memory")
        .queryName("sup_ok").outputMode("append").start()
      in.addData(ev(1, "2024-01-01 00:00:00", 1, 1.0))
      ok.processAllAvailable(); ok.stop(); ok.awaitTermination()
      // crash: a cached micro-batch body throws. Specs run one at a
      // time, so an RDD persisted now that was not before is the failed
      // batch's cache, which cachedNonEmpty must have released.
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val bad = StatefulOps.eachBatch(in.toDF())(StatefulOps.cachedNonEmpty {
        (batch, _) =>
          batch.count()
          throw new RuntimeException("boom")
      }).start()
      in.addData(ev(2, "2024-01-01 00:00:01", 1, 1.0))
      intercept[Exception] { bad.processAllAvailable() }
      assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
        "the failed batch's cache must be released")
      // listener delivery is async
      val deadline = System.currentTimeMillis + 20000
      while (failed.isEmpty && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(failed.exists(_.contains("boom")))
      val clean = sup.history.filter(_.exception.isEmpty)
      assert(clean.nonEmpty, "clean stop must be recorded without exception")
      // A2 engine-side throughput was captured for the clean query
      assert(sup.throughput.values.exists(_.numInputRows > 0))
    } finally spark.streams.removeListener(sup)
  }
}
