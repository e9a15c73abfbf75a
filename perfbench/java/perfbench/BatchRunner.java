package perfbench;

import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import scala.Function2;
import scala.jdk.javaapi.CollectionConverters;

/** The batch workload's engine process: registered queries executed the
  * way `graft.Bench` executes them (plan built, then forced through a
  * `noop` write): one cold pass, then WARM_PASSES whole warm passes over
  * the list. Each execution records its wall time, the process CPU time
  * it used (all threads), the CPU time of the JVM's Java threads (driver
  * and local executors, without the JIT compiler and GC threads) and its
  * GC time.
  *
  * Usage: BatchRunner DATA_DIR OUT_DIR WARM_PASSES events=q01,q02,... heavy=q188,...
  *
  * Writes OUT_DIR/runner.json (per-execution timings), OUT_DIR/oracle_sql.json
  * (the registered DuckDB oracle of every listed query) and, after the
  * timed passes, OUT_DIR/NAME (each query's output as parquet): the layout
  * graft.Verify writes and tools/compare.py reads. */
public final class BatchRunner {
  private static long gcMillis() {
    long gc = 0;
    for (GarbageCollectorMXBean b : ManagementFactory.getGarbageCollectorMXBeans())
      gc += Math.max(0, b.getCollectionTime());
    return gc;
  }

  private static double cpuMillis() {
    return ((com.sun.management.OperatingSystemMXBean)
        ManagementFactory.getOperatingSystemMXBean()).getProcessCpuTime() / 1e6;
  }

  /** CPU of the live Java threads: the query's own work (analysis,
    * planning, code generation, tasks), without the HotSpot compiler and
    * GC threads, whose share of a cold execution varies most from run to
    * run. The executor threads are pooled, so they outlive one query. */
  private static double javaThreadCpuMillis() {
    java.lang.management.ThreadMXBean threads = ManagementFactory.getThreadMXBean();
    long sum = 0;
    for (long id : threads.getAllThreadIds()) sum += Math.max(0, threads.getThreadCpuTime(id));
    return sum / 1e6;
  }

  private static String q(String s) {
    StringBuilder b = new StringBuilder("\"");
    for (char c : s.toCharArray()) {
      if (c == '"' || c == '\\') b.append('\\').append(c);
      else if (c < ' ') b.append(String.format("\\u%04x", (int) c));
      else b.append(c);
    }
    return b.append('"').toString();
  }

  public static void main(String[] args) throws Exception {
    String dir = args[0], out = args[1];
    int passes = Integer.parseInt(args[2]);
    Map<String, String> family = new LinkedHashMap<>();
    for (int i = 3; i < args.length; i++) {
      String[] kv = args[i].split("=", 2);
      for (String n : kv[1].split(",")) family.put(n, kv[0]);
    }
    int cpus = Runtime.getRuntime().availableProcessors();
    SparkSession.Builder builder = SparkSession.builder()
        .master("local[" + cpus + "]")
        .config("spark.sql.shuffle.partitions", String.valueOf(cpus))
        .config("spark.ui.enabled", "false");
    CollectionConverters.asJava(graft.Queries.sessionConfigs()).forEach(builder::config);
    SparkSession spark = builder.getOrCreate();
    spark.sparkContext().setLogLevel("WARN");

    // the generic warm-up graft.Bench runs before its first timed query
    spark.range(2000000).selectExpr("id % 32 k", "id v")
        .groupBy("k").sum("v").write().format("noop").mode("overwrite").save();
    spark.read().parquet(dir + "/events.parquet").limit(100)
        .write().format("noop").mode("overwrite").save();
    long warmedMs = System.currentTimeMillis();
    double warmedCpu = cpuMillis();
    System.out.println("[runner] warmed " + warmedMs);
    System.out.flush();

    Map<String, Function2<SparkSession, String, Dataset<Row>>> all =
        CollectionConverters.asJava(graft.SparkEntry.queries());
    Map<String, String> names = new LinkedHashMap<>();
    for (String id : family.keySet()) {
      String hit = null;
      for (String n : all.keySet()) if (n.split("_")[0].equals(id)) hit = n;
      if (hit == null) throw new IllegalArgumentException("no registered query " + id);
      names.put(id, hit);
    }

    List<String> rows = new ArrayList<>();
    for (int pass = 0; pass <= passes; pass++) {
      for (Map.Entry<String, String> e : names.entrySet()) {
        String phase = pass == 0 ? "cold" : "warm";
        Spans.setTag(e.getKey() + ":" + pass);
        long gc0 = gcMillis();
        double start = System.currentTimeMillis();
        double cpu0 = cpuMillis();
        double threadCpu0 = javaThreadCpuMillis();
        long t0 = System.nanoTime();
        String err = null;
        try {
          all.get(e.getValue()).apply(spark, dir)
              .write().format("noop").mode("overwrite").save();
        } catch (Throwable t) {
          err = t.getClass().getSimpleName() + ": " + t.getMessage();
        }
        double ms = (System.nanoTime() - t0) / 1e6;
        double cpu = cpuMillis() - cpu0;
        double threadCpu = javaThreadCpuMillis() - threadCpu0;
        long gc = gcMillis() - gc0;
        spark.sparkContext().listenerBus().waitUntilEmpty();
        Map<String, Object> a = new LinkedHashMap<>();
        a.put("query", e.getKey());
        a.put("family", family.get(e.getKey()));
        a.put("phase", phase);
        a.put("pass", pass);
        a.put("gc_ms", gc);
        Spans.add("query", e.getKey() + ":" + pass, null, start, start + ms, a);
        Spans.setTag("");
        rows.add("{\"query\":" + q(e.getKey()) + ",\"family\":" + q(family.get(e.getKey()))
            + ",\"phase\":\"" + phase + "\",\"pass\":" + pass + ",\"ms\":" + ms
            + ",\"cpu_ms\":" + cpu + ",\"thread_cpu_ms\":" + threadCpu
            + ",\"gc_ms\":" + gc + ",\"error\":" + (err == null ? "null" : q(err)) + "}");
        spark.catalog().clearCache();
        System.gc();
      }
    }

    // correctness material, outside the timed passes
    for (Map.Entry<String, String> e : names.entrySet()) {
      try {
        all.get(e.getValue()).apply(spark, dir).coalesce(1)
            .write().mode("overwrite").parquet(out + "/" + e.getKey());
      } catch (Throwable t) {
        System.err.println("[runner] " + e.getKey() + " output failed: " + t.getMessage());
      }
    }
    Map<String, String> oracles = CollectionConverters.asJava(
        graft.Queries.oraclesFor(spark, dir, n -> names.containsValue(n)));
    StringBuilder ob = new StringBuilder("{");
    for (Map.Entry<String, String> e : names.entrySet()) {
      if (ob.length() > 1) ob.append(',');
      String sql = oracles.get(e.getValue());
      ob.append(q(e.getKey())).append(':').append(sql == null ? "null" : q(sql));
    }
    Files.write(Paths.get(out, "oracle_sql.json"),
        ob.append('}').toString().getBytes(StandardCharsets.UTF_8));
    String json = "{\"warmed_ms\":" + warmedMs + ",\"warmed_cpu_ms\":" + warmedCpu
        + ",\"runs\":[" + String.join(",", rows) + "]}";
    Files.write(Paths.get(out, "runner.json"), json.getBytes(StandardCharsets.UTF_8));
    spark.stop();
  }
}
