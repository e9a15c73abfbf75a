"""Per-layer metrics from the spans of a traced run.

The engine JVMs write trigger, phase, job, stage, plan and jvm spans (the
listener classes under java/); the load generator writes publish, PUBACK,
spool, sink, tile and command spans. Every per-layer metric is reported
for every workload; a layer the workload leaves idle reads 0.
"""
import json
import os
import statistics

from stats import pct

PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
REPORTED_PHASES = ("walCommit", "queryPlanning", "addBatch", "commitOffsets")
FAMILIES = ("events", "heavy")

# name -> (unit, better); the order is the print order
LAYER_METRICS = {
    "pipeline.detect_p50_ms": ("ms", "lower"),
    "pipeline.detect_p90_ms": ("ms", "lower"),
    "wall.tile_p50_ms": ("ms", "lower"),
    "wall.tile_p90_ms": ("ms", "lower"),
    "bus.puback_p50_ms": ("ms", "lower"),
    "bus.spool_files": ("count", "lower"),
}
for _l in ("pipeline", "wall"):
    LAYER_METRICS.update({
        _l + ".triggers": ("count", "lower"),
        _l + ".trigger_ms": ("ms", "lower"),
        _l + ".latest_offset_ms": ("ms", "lower"),
    })
    if _l == "pipeline":
        LAYER_METRICS["pipeline.latest_offset_last_ms"] = ("ms", "lower")
    LAYER_METRICS.update({_l + "." + p + "_ms": ("ms", "lower") for p in REPORTED_PHASES})
    LAYER_METRICS.update({
        _l + ".uncovered_ms": ("ms", "lower"),
        _l + ".covered_pct": ("%", "higher"),
        _l + ".jobs_per_trigger": ("count", "lower"),
    })
LAYER_METRICS.update({
    "pipeline.rows_per_trigger": ("count", "higher"),
    "wall.input_rows_per_event": ("count", "lower"),
    "wall.absent_reads": ("count", "lower"),
    "sinks.part_files": ("count", "lower"),
    "sinks.dup_events": ("count", "lower"),
    "control.trigger_ms": ("ms", "lower"),
    "control.ack_p50_ms": ("ms", "lower"),
    "control.ack_ms.ping": ("ms", "lower"),
    "control.ack_ms.metrics": ("ms", "lower"),
    "control.restart_ms.change_model": ("ms", "lower"),
    "metrics_lite.trigger_ms": ("ms", "lower"),
    "jvm.cpu_s.pipeline": ("s", "lower"),
    "jvm.cpu_s.wall": ("s", "lower"),
    "jvm.gc_ms.pipeline": ("ms", "lower"),
    "jvm.gc_ms.wall": ("ms", "lower"),
})
for _f in FAMILIES:
    LAYER_METRICS.update({
        _f + ".warm_ms": ("ms", "lower"),
        _f + ".cold_ms": ("ms", "lower"),
        _f + ".plan_ms": ("ms", "lower"),
        _f + ".exec_ms": ("ms", "lower"),
        _f + ".jobs": ("count", "lower"),
        _f + ".stages": ("count", "lower"),
        _f + ".shuffle_mb": ("MB", "lower"),
        _f + ".gc_ms": ("ms", "lower"),
    })
LAYER_METRICS["gen.lag_max_ms"] = ("ms", "lower")


def load(run_dir):
    spans = []
    for n in sorted(os.listdir(run_dir)):
        if n.startswith("spans-") and n.endswith(".jsonl"):
            with open(os.path.join(run_dir, n)) as fh:
                spans += [json.loads(ln) for ln in fh if ln.strip()]
    return spans


def layer_metrics(spans, outside, sink_rows):
    """outside: the per-layer metrics the load generator measured (same
    (value, unit, samples) form). Returns every LAYER_METRICS entry."""
    m = {k: (0.0, u, 0) for k, (u, _) in LAYER_METRICS.items()}
    m.update({k: v for k, v in outside.items() if k in m})

    triggers = {}
    for s in spans:
        if s["name"] == "trigger" and s["attrs"]["executed"]:
            triggers.setdefault(s["attrs"]["layer"], []).append(s)
    jobs = {}
    for s in spans:
        a = s.get("attrs") or {}
        if s["name"] == "job" and a.get("query_id") is not None:
            key = (a["query_id"], str(a["batch_id"]))
            jobs[key] = jobs.get(key, 0) + 1

    for layer, ts in triggers.items():
        ts.sort(key=lambda s: s["start"])
        n = len(ts)
        total = [s["end"] - s["start"] for s in ts]
        ph = lambda p: [s["attrs"]["phases"].get(p, 0) for s in ts]  # noqa: E731
        named = [sum(s["attrs"]["phases"].get(p, 0) for p in PHASES) for s in ts]
        if layer in ("control", "metrics_lite"):
            m[layer + ".trigger_ms"] = (pct(total, 50), "ms", n)
            continue
        m[layer + ".triggers"] = (n, "count", n)
        m[layer + ".trigger_ms"] = (pct(total, 50), "ms", n)
        m[layer + ".latest_offset_ms"] = (pct(ph("latestOffset"), 50), "ms", n)
        for p in REPORTED_PHASES:
            m["%s.%s_ms" % (layer, p)] = (pct(ph(p), 50), "ms", n)
        m[layer + ".uncovered_ms"] = (pct([t - c for t, c in zip(total, named)], 50), "ms", n)
        m[layer + ".covered_pct"] = (100.0 * sum(named) / max(1.0, sum(total)), "%", n)
        m[layer + ".jobs_per_trigger"] = (
            sum(jobs.get((s["attrs"]["query_id"], str(s["attrs"]["batch_id"])), 0) for s in ts) / n,
            "count", n)
        rows = sum(s["attrs"]["rows"] for s in ts)
        if layer == "pipeline":
            last = ts[-max(1, n // 5):]
            m["pipeline.latest_offset_last_ms"] = (
                pct([s["attrs"]["phases"].get("latestOffset", 0) for s in last], 50), "ms", len(last))
            m["pipeline.rows_per_trigger"] = (rows / n, "count", n)
        else:
            m["wall.input_rows_per_event"] = (rows / max(1, sink_rows), "count", sink_rows)

    for s in spans:
        if s["name"] == "jvm" and s["role"] in ("pipeline", "wall"):
            m["jvm.gc_ms." + s["role"]] = (s["attrs"]["gc_ms"], "ms", 1)

    # batch families: per warm pass, sums over the family; median over passes
    queries = [s for s in spans if s["name"] == "query"]
    for fam in FAMILIES:
        per_pass = {}
        for q in queries:
            a = q["attrs"]
            if a["family"] == fam and a["phase"] == "warm":
                per_pass.setdefault(a["pass"], {})["%s:%d" % (a["query"], a["pass"])] = q
        if not per_pass:
            continue
        cols = {k: [] for k in ("plan_ms", "exec_ms", "jobs", "stages", "shuffle_mb", "gc_ms")}
        for p, qs in per_pass.items():
            tags = set(qs)
            plan = sum(s["attrs"]["plan_ms"] for s in spans
                       if s["name"] == "plan" and s["attrs"]["tag"] in tags)
            wall = sum(q["end"] - q["start"] for q in qs.values())
            stages = [s for s in spans if s["name"] == "stage" and s["attrs"]["tag"] in tags]
            cols["plan_ms"].append(plan)
            cols["exec_ms"].append(wall - plan)
            cols["jobs"].append(sum(1 for s in spans if s["name"] == "job"
                                    and s["attrs"]["tag"] in tags))
            cols["stages"].append(len(stages))
            cols["shuffle_mb"].append(sum(s["attrs"]["shuffle_write_bytes"] for s in stages) / 2**20)
            cols["gc_ms"].append(sum(q["attrs"]["gc_ms"] for q in qs.values()))
        units = {"plan_ms": "ms", "exec_ms": "ms", "jobs": "count", "stages": "count",
                 "shuffle_mb": "MB", "gc_ms": "ms"}
        for k, v in cols.items():
            m["%s.%s" % (fam, k)] = (statistics.median(v), units[k], len(v))
    return m
