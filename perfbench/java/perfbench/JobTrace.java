package perfbench;

import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.util.LinkedHashMap;
import java.util.Map;
import java.util.Properties;
import java.util.concurrent.ConcurrentHashMap;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerApplicationEnd;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.StageInfo;

/** Spark jobs and stages as spans, plus one `jvm` span with the process's
  * GC and CPU totals when the application ends. Registered through
  * `spark.extraListeners`.
  *
  * A streaming micro-batch's jobs carry the query id and batch id as local
  * properties, so each job span names the trigger that caused it; the
  * batch runner's jobs carry its current query label instead. */
public final class JobTrace extends SparkListener {
  private final Map<Integer, Object[]> jobs = new ConcurrentHashMap<>();
  private final Map<Integer, String> stageJob = new ConcurrentHashMap<>();

  private static String prop(Properties p, String k) {
    return p == null ? null : p.getProperty(k);
  }

  @Override public void onJobStart(SparkListenerJobStart e) {
    Properties p = e.properties();
    Map<String, Object> a = new LinkedHashMap<>();
    a.put("query_id", prop(p, "sql.streaming.queryId"));
    a.put("batch_id", prop(p, "streaming.sql.batchId"));
    a.put("desc", prop(p, "spark.job.description"));
    a.put("tag", Spans.tag());
    a.put("stages", e.stageIds().size());
    jobs.put(e.jobId(), new Object[] {e.time(), a});
    scala.collection.Iterator<Object> it = e.stageIds().iterator();
    while (it.hasNext()) stageJob.put((Integer) it.next(), "job:" + e.jobId());
  }

  @Override @SuppressWarnings("unchecked")
  public void onJobEnd(SparkListenerJobEnd e) {
    Object[] s = jobs.remove(e.jobId());
    if (s == null) return;
    Map<String, Object> a = (Map<String, Object>) s[1];
    a.put("ok", e.jobResult().toString().startsWith("JobSucceeded"));
    Spans.add("job", "job:" + e.jobId(), null, (Long) s[0], e.time(), a);
  }

  @Override public void onStageCompleted(SparkListenerStageCompleted e) {
    StageInfo si = e.stageInfo();
    TaskMetrics m = si.taskMetrics();
    Map<String, Object> a = new LinkedHashMap<>();
    a.put("tag", Spans.tag());
    a.put("tasks", si.numTasks());
    a.put("shuffle_write_bytes", m == null ? 0L : m.shuffleWriteMetrics().bytesWritten());
    a.put("run_ms", m == null ? 0L : m.executorRunTime());
    double end = si.completionTime().isDefined()
        ? ((Long) si.completionTime().get()).doubleValue() : System.currentTimeMillis();
    double start = si.submissionTime().isDefined()
        ? ((Long) si.submissionTime().get()).doubleValue() : end;
    Spans.add("stage", "stage:" + si.stageId() + "." + si.attemptNumber(),
        stageJob.get(si.stageId()), start, end, a);
  }

  @Override public void onApplicationEnd(SparkListenerApplicationEnd e) {
    long gc = 0;
    for (GarbageCollectorMXBean b : ManagementFactory.getGarbageCollectorMXBeans())
      gc += Math.max(0, b.getCollectionTime());
    Map<String, Object> a = new LinkedHashMap<>();
    a.put("gc_ms", gc);
    a.put("cpu_ms", ((com.sun.management.OperatingSystemMXBean)
        ManagementFactory.getOperatingSystemMXBean()).getProcessCpuTime() / 1e6);
    double t = e.time();
    Spans.add("jvm", "jvm", null, t, t, a);
    Spans.dump();
  }
}
