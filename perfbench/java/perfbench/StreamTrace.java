package perfbench;

import java.time.Instant;
import java.util.LinkedHashMap;
import java.util.Map;
import org.apache.spark.sql.streaming.SourceProgress;
import org.apache.spark.sql.streaming.StreamingQueryListener;
import org.apache.spark.sql.streaming.StreamingQueryProgress;

/** One span per micro-batch trigger, with its `durationMs` phases as child
  * spans. Registered through `spark.sql.streaming.streamingQueryListeners`.
  *
  * Progress reports carry phase durations, not phase start times; the
  * children are laid out back to back in the order the micro-batch engine
  * runs them (latestOffset, walCommit, getBatch, queryPlanning, addBatch,
  * commitOffsets), starting at the trigger's start. Whatever the trigger
  * spent outside the named phases is the parent's self time. */
public final class StreamTrace extends StreamingQueryListener {
  private static final String[] ORDER = {
      "getOffset", "setOffsetRange", "latestOffset", "walCommit", "getBatch",
      "queryPlanning", "addBatch", "commitOffsets"};

  /** The query's layer: the `graft-bus` ingest is the pipeline; a text file
    * source over the control directory is the control loop; in the
    * processor JVM a file source over the detection sink is metrics-lite;
    * every query of the wall JVM is the wall. */
  static String layer(StreamingQueryProgress p) {
    String role = Spans.role();
    if (role.equals("wall")) return "wall";
    SourceProgress[] src = p.sources();
    String d = src.length == 0 ? "" : src[0].description();
    if (!d.startsWith("FileStreamSource")) return "pipeline";
    return d.contains("/control") ? "control" : "metrics_lite";
  }

  @Override public void onQueryStarted(QueryStartedEvent e) {
    Map<String, Object> a = new LinkedHashMap<>();
    a.put("query_id", e.id().toString());
    a.put("run_id", e.runId().toString());
    double t = Instant.parse(e.timestamp()).toEpochMilli();
    Spans.add("query_start", "start:" + e.runId(), null, t, t, a);
  }

  @Override public void onQueryProgress(QueryProgressEvent e) {
    StreamingQueryProgress p = e.progress();
    Map<String, Long> d = p.durationMs();
    Long total = d.get("triggerExecution");
    if (total == null) return;
    double start = Instant.parse(p.timestamp()).toEpochMilli();
    String layer = layer(p);
    String id = layer + ":" + p.runId() + ":" + p.batchId();
    Map<String, Object> a = new LinkedHashMap<>();
    a.put("layer", layer);
    a.put("query_id", p.id().toString());
    a.put("batch_id", p.batchId());
    a.put("rows", p.numInputRows());
    a.put("executed", d.containsKey("addBatch"));
    a.put("phases", d);
    Spans.add("trigger", id, null, start, start + total, a);
    double t = start;
    for (String ph : ORDER) {
      Long ms = d.get(ph);
      if (ms == null) continue;
      Map<String, Object> c = new LinkedHashMap<>();
      c.put("layer", layer);
      Spans.add("phase." + ph, id + ":" + ph, id, t, t + ms, c);
      t += ms;
    }
  }

  @Override public void onQueryTerminated(QueryTerminatedEvent e) {
    Map<String, Object> a = new LinkedHashMap<>();
    a.put("query_id", e.id().toString());
    a.put("run_id", e.runId().toString());
    double t = System.currentTimeMillis();
    Spans.add("query_end", "end:" + e.runId(), null, t, t, a);
  }
}
