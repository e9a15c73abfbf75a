package perfbench;

import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.List;
import java.util.Map;

/** In-memory span buffer of one engine JVM. Listeners append spans while
  * the run goes on; the buffer is written once, as JSON lines, to the file
  * named by the system property {@code perfbench.spans} when the Spark
  * application ends or the JVM shuts down (whichever comes first; a later
  * call rewrites the file with everything recorded so far).
  *
  * Times are epoch milliseconds, so spans line up with the load
  * generator's own clock on the same host. */
public final class Spans {
  private static final List<String> LINES = new ArrayList<>();
  private static volatile String tag = "";

  static {
    Runtime.getRuntime().addShutdownHook(new Thread(Spans::dump, "perfbench-spans"));
  }

  private Spans() {}

  /** The batch runner's current query label; listener callbacks copy it
    * into the spans they record (the runner drains the listener bus
    * before it changes the label). */
  public static void setTag(String t) { tag = t; }
  public static String tag() { return tag; }

  public static String role() { return System.getProperty("perfbench.role", "engine"); }

  public static void add(String name, String id, String parent, double startMs,
                         double endMs, Map<String, Object> attrs) {
    StringBuilder b = new StringBuilder(256);
    b.append("{\"name\":").append(str(name))
     .append(",\"role\":").append(str(role()))
     .append(",\"id\":").append(str(id))
     .append(",\"parent\":").append(parent == null ? "null" : str(parent))
     .append(",\"start\":").append(startMs)
     .append(",\"end\":").append(endMs)
     .append(",\"attrs\":").append(value(attrs)).append('}');
    synchronized (LINES) { LINES.add(b.toString()); }
  }

  public static void dump() {
    String path = System.getProperty("perfbench.spans");
    if (path == null) return;
    String body;
    synchronized (LINES) { body = String.join("\n", LINES); }
    try {
      Files.write(Paths.get(path), (body + "\n").getBytes(StandardCharsets.UTF_8));
    } catch (IOException e) {
      System.err.println("[perfbench] span dump failed: " + e.getMessage());
    }
  }

  private static String str(String s) {
    StringBuilder b = new StringBuilder(s.length() + 2).append('"');
    for (char c : s.toCharArray()) {
      if (c == '"' || c == '\\') b.append('\\').append(c);
      else if (c < ' ') b.append(String.format("\\u%04x", (int) c));
      else b.append(c);
    }
    return b.append('"').toString();
  }

  private static String value(Object v) {
    if (v == null) return "null";
    if (v instanceof Number || v instanceof Boolean) {
      String s = v.toString();
      return (s.equals("NaN") || s.contains("Infinity")) ? "null" : s;
    }
    if (v instanceof Map) {
      StringBuilder b = new StringBuilder("{");
      boolean first = true;
      for (Map.Entry<?, ?> e : ((Map<?, ?>) v).entrySet()) {
        if (!first) b.append(',');
        first = false;
        b.append(str(String.valueOf(e.getKey()))).append(':').append(value(e.getValue()));
      }
      return b.append('}').toString();
    }
    return str(v.toString());
  }
}
