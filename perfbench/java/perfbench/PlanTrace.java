package perfbench;

import java.util.LinkedHashMap;
import java.util.Map;
import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.util.QueryExecutionListener;

/** One span per completed action (collect, write, checkpoint, ...) with the
  * time its plan spent in analysis, optimization and physical planning,
  * read from `QueryExecution.tracker`. Registered through
  * `spark.sql.queryExecutionListeners`. */
public final class PlanTrace implements QueryExecutionListener {
  private static final String[] PLAN_PHASES = {
      QueryPlanningTracker.ANALYSIS(), QueryPlanningTracker.OPTIMIZATION(),
      QueryPlanningTracker.PLANNING()};

  @Override public void onSuccess(String funcName, QueryExecution qe, long durationNs) {
    record(funcName, qe, durationNs, true);
  }

  @Override public void onFailure(String funcName, QueryExecution qe, Exception e) {
    record(funcName, qe, 0L, false);
  }

  private void record(String funcName, QueryExecution qe, long durationNs, boolean ok) {
    scala.collection.Map<String, QueryPlanningTracker.PhaseSummary> phases =
        qe.tracker().phases();
    double plan = 0;
    for (String ph : PLAN_PHASES) {
      scala.Option<QueryPlanningTracker.PhaseSummary> s = phases.get(ph);
      if (s.isDefined()) plan += s.get().durationMs();
    }
    Map<String, Object> a = new LinkedHashMap<>();
    a.put("func", funcName);
    a.put("tag", Spans.tag());
    a.put("plan_ms", plan);
    a.put("exec_ms", durationNs / 1e6);
    a.put("ok", ok);
    double end = System.currentTimeMillis();
    Spans.add("plan", "plan:" + System.nanoTime(), null, end - durationNs / 1e6, end, a);
  }
}
