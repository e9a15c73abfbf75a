#!/usr/bin/env python3
"""The repo's benchmark: the live event path and the batch queries, run the
way they are deployed, measured from outside the program.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload W --seed N --seconds S --repeat K

Workloads: live_design, batch_queries (see README.md). The
program is built from the checkout's sources first (perfbench/build.py).
Each run prints every metric by name with its unit and sample count, the
operations attempted and failed, and, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the listeners are registered on
the engine JVMs and the metrics are the per-layer ones. --repeat K runs
seeds N..N+K-1 and prints each metric's median and interquartile spread.
"""
import argparse
import ctypes
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import procfs  # noqa: E402
import trace  # noqa: E402
from stats import pct, spread  # noqa: E402

WORKLOADS = ("live_design", "batch_queries")
E2E = ("setup_s", "cpu_ms_per_op", "peak_rss_mb")
# batch_queries: batch forms of the reference's operators over `events`
# (JSON parse, group aggregate, latest-per-key, both as-of forms q12/q33,
# latency percentiles); a traced run adds the heavy line of the BM25
# pseudo-relevance-feedback family
EVENTS_FAMILY = ["q01", "q06", "q08", "q12", "q33", "q41"]
HEAVY_FAMILY = ["q188"]
HEAPS = {"pipeline": "1g", "wall": "768m", "batch": "2g"}
DEADLINE_S = 160.0  # after the build; the processor's exit and teardown add at most 2 * STOP_S
STOP_S = 8.0
JDK_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


class RunError(Exception):
    pass


def now_ms():
    return time.time() * 1000.0


def _die_with_parent():
    """Child processes get SIGTERM if this process dies first."""
    try:
        ctypes.CDLL("libc.so.6").prctl(1, signal.SIGTERM)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def spawn(cmd, log, **kw):
    return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            preexec_fn=_die_with_parent, **kw)


class Run:
    """One run: a fresh directory under the build dir, the processes it
    started, and the deadline they all must meet."""

    def __init__(self, args, cp):
        self.args, self.cp = args, cp
        self.dir = os.path.join(build.build_dir(), "runs", "%s-%d-%d" % (
            args.workload, args.seed, os.getpid()))
        shutil.rmtree(self.dir, ignore_errors=True)
        for d in ("tmp", "drop", "out", "control"):
            os.makedirs(os.path.join(self.dir, d))
        self.procs = {}
        self.deadline = time.time() + DEADLINE_S
        # one task slot and one shuffle partition per core, as graft.Bench runs
        n = os.cpu_count()
        self.spark_args = ["--master", "local[%d]" % n, "--shuffle-partitions", str(n)]

    def path(self, *p):
        return os.path.join(self.dir, *p)

    def java(self, role, main, argv):
        tmp = self.path("tmp")
        # -XX:-UsePerfData: no hsperfdata file outside the run directory
        cmd = ["java", "-Xmx" + HEAPS[role], "-XX:-UsePerfData"] + JDK_OPENS + [
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + self.path("tmp", "warehouse"),
            "-Dderby.system.home=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        if self.args.trace:
            cmd += ["-Dperfbench.role=" + role,
                    "-Dperfbench.spans=" + self.path("spans-%s.jsonl" % role),
                    "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamTrace",
                    "-Dspark.extraListeners=perfbench.JobTrace",
                    "-Dspark.sql.queryExecutionListeners=perfbench.PlanTrace"]
        log = open(self.path(role + ".log"), "w")
        self.procs[role] = spawn(cmd + ["-cp", self.cp, main] + argv, log, cwd=self.dir)
        return self.procs[role]

    def left(self):
        return self.deadline - time.time()

    def wait(self, role, timeout):
        try:
            return self.procs[role].wait(max(0.1, min(timeout, self.left())))
        except subprocess.TimeoutExpired:
            return None

    def log_tail(self, role, n=15):
        try:
            lines = open(self.path(role + ".log"), errors="replace").read().splitlines()
        except OSError:
            return ""
        return "\n".join(lines[-n:])

    def stop_all(self):
        """SIGTERM every process still running, SIGKILL what outlives
        STOP_S, and wait for all of them."""
        for p in self.procs.values():
            if p.poll() is None:
                p.terminate()
        deadline = time.time() + STOP_S
        for p in self.procs.values():
            try:
                p.wait(max(0.1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def run_live(r):
    a = r.args
    pipeline = ["pipeline", "--events-dir", r.path("drop"), "--out-dir", r.path("out"),
                "--control-dir", r.path("control"), "--n", str(gen.SOURCES),
                "--mqtt-port", "0", "--instance-id", "proc-1"] + r.spark_args
    launched = now_ms()
    r.java("pipeline", "graft.app.Main", pipeline)
    r.java("wall", "graft.app.Main", ["wall", "--detections-dir", r.path("out", "detections"),
                                      "--out-dir", r.path("out")] + r.spark_args)
    port = None
    while port is None:
        m = re.search(r"\[mqtt\] listening on 127\.0\.0\.1:(\d+)", r.log_tail("pipeline", 400))
        if m:
            port = int(m.group(1))
        elif r.procs["pipeline"].poll() is not None or r.left() < 60:
            raise RunError("pipeline did not start:\n" + r.log_tail("pipeline"))
        else:
            time.sleep(0.05)
    spec = {"run": r.dir, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "port": port,
            "launched_ms": launched, "pids": {k: p.pid for k, p in r.procs.items()},
            "result": r.path("result.json")}
    with open(r.path("spec.json"), "w") as fh:
        json.dump(spec, fh)
    r.procs["loadgen"] = spawn([sys.executable, os.path.join(HERE, "loadgen.py"),
                                r.path("spec.json")], open(r.path("loadgen.log"), "w"))
    rc = r.wait("loadgen", DEADLINE_S)
    res = json.load(open(r.path("result.json"))) if os.path.exists(r.path("result.json")) else {}
    if rc != 0 or "fatal" in res:
        raise RunError("load generator failed (%s): %s\n%s\n--- pipeline\n%s\n--- wall\n%s" % (
            rc, res.get("fatal"), r.log_tail("loadgen"), r.log_tail("pipeline"), r.log_tail("wall")))
    # the stop command ends the processor; the wall runs until it is told
    try:
        r.procs["pipeline"].wait(max(0.1, (launched + res["marks"]["closed"] - now_ms()) / 1000.0
                                     + STOP_S))
    except subprocess.TimeoutExpired:
        res["check_errors"].append("processor still running %d s after its stop command" % STOP_S)
        res["correct"] = False
    t_pipe = now_ms() - launched
    r.stop_all()
    print("timeline (s after launch): %s, processor exit %.1f, all stopped %.1f" % (
        {k: round(v / 1000, 1) for k, v in res["marks"].items()}, t_pipe / 1000,
        (now_ms() - launched) / 1000), file=sys.stderr)
    layer = None
    if a.trace:
        layer = trace.layer_metrics(trace.load(r.dir), res["layer"], res["sink_rows"])
    return (res["correct"], res["check_errors"], res["attempted"], res["failed"], res["e2e"],
            res["info"], layer, res["counts"])


def warm_passes(seconds, traced):
    """batch_queries: whole warm passes, one per 10 s of --seconds (at least
    one; two when traced, whose per-layer figures are medians over passes)."""
    return max(2 if traced else 1, seconds // 10)


def run_batch(r):
    a = r.args
    data = r.path("data")
    t0 = now_ms()
    gen.batch_tables(a.seed, data)
    names = EVENTS_FAMILY + (HEAVY_FAMILY if a.trace else [])
    fams = ["events=" + ",".join(EVENTS_FAMILY)] + (
        ["heavy=" + ",".join(HEAVY_FAMILY)] if a.trace else [])
    launched = now_ms()
    p = r.java("batch", "perfbench.BatchRunner",
               [data, r.path("out"), str(warm_passes(a.seconds, a.trace))] + fams)
    hwm = 0.0
    while p.poll() is None:
        hwm = max(hwm, procfs.hwm_mb(p.pid))
        if r.left() <= 0:
            raise RunError("batch runner exceeded the deadline:\n" + r.log_tail("batch"))
        time.sleep(0.2)
    if p.returncode != 0:
        raise RunError("batch runner failed:\n" + r.log_tail("batch", 30))
    t_exit = now_ms()
    res = json.load(open(r.path("out", "runner.json")))
    errors = check.check_batch(data, r.path("out"))
    print("timeline (s after launch): tables generated from %.1f, warmed %.1f, runner exit %.1f, "
          "checked %.1f" % ((t0 - launched) / 1000, (res["warmed_ms"] - launched) / 1000,
                            (t_exit - launched) / 1000, (now_ms() - launched) / 1000),
          file=sys.stderr)
    runs = res["runs"]
    failed = sum(1 for x in runs if x["error"])
    errors += ["%s pass %d: %s" % (x["query"], x["pass"], x["error"]) for x in runs if x["error"]]

    def per_query(phase, field, fam=None):
        """Each listed query's median over its executions in `phase`."""
        return [statistics.median([x[field] for x in runs if x["query"] == q and
                                   x["phase"] == phase and not x["error"]] or [0.0])
                for q in names if fam is None or q in fam]

    # set-up is the runner's CPU time from launch to the end of the warm-up:
    # its wall time moves with the machine's other load (printed as info);
    # an op is one query's cold execution, the mean over the listed queries
    # so that a regression in any one of them moves it, in the CPU of the
    # Java threads: the JIT compiler's share of the process CPU (printed as
    # info) is most of it and the part that varies most from run to run
    cold_cpu = per_query("cold", "thread_cpu_ms")
    e2e = {
        "setup_s": (res["warmed_cpu_ms"] / 1000.0, "s", 1),
        "cpu_ms_per_op": (statistics.mean(cold_cpu), "ms", len(cold_cpu)),
        "peak_rss_mb": (hwm, "MB", 1),
    }
    warm_cpu = [x["cpu_ms"] for x in runs if x["phase"] == "warm"]
    info = {
        "setup_wall_s": ((res["warmed_ms"] - launched) / 1000.0, "s", 1),
        "warm_p50_ms": (pct(per_query("warm", "ms"), 50), "ms", len(names)),
        "warm_p90_ms": (pct(per_query("warm", "ms"), 90), "ms", len(names)),
        "cold_p50_ms": (pct(per_query("cold", "ms"), 50), "ms", len(names)),
        "cold_p90_ms": (pct(per_query("cold", "ms"), 90), "ms", len(names)),
        "warm_cpu_ms_per_op": (statistics.mean(warm_cpu), "ms", len(warm_cpu)),
        "cold_process_cpu_ms_per_op": (statistics.mean(per_query("cold", "cpu_ms")), "ms",
                                       len(names)),
    }
    outside = {}
    for fam, members in (("events", EVENTS_FAMILY), ("heavy", HEAVY_FAMILY)):
        if set(members) <= set(names):
            outside[fam + ".warm_ms"] = (sum(per_query("warm", "ms", members)), "ms", len(members))
            outside[fam + ".cold_ms"] = (sum(per_query("cold", "ms", members)), "ms", len(members))
    layer = trace.layer_metrics(trace.load(r.dir), outside, 0) if a.trace else None
    counts = "queries %d executions (a cold and %d warm passes over %d queries)" % (
        len(runs), warm_passes(a.seconds, a.trace), len(names))
    return not errors, errors, len(runs), failed, e2e, info, layer, counts


def one_run(args):
    cp = build.classpath()
    r = Run(args, cp)
    try:
        fn = run_batch if args.workload == "batch_queries" else run_live
        correct, errors, attempted, failed, e2e, info, layer, counts = fn(r)
    finally:
        r.stop_all()
        shutil.rmtree(r.dir, ignore_errors=True)
    shown = layer if args.trace else e2e
    print("perfbench %s seed=%d seconds=%d trace=%d" % (args.workload, args.seed, args.seconds,
                                                       args.trace))
    shown_all = dict(e2e)
    shown_all.update({"info." + k: v for k, v in info.items()})
    shown_all.update(layer or {})
    for name, (v, unit, n) in shown_all.items():
        print("  %-34s %14.4f %-6s n=%d" % (name, v, unit, n))
    print("  operations: attempted %d, failed %d; %s" % (attempted, failed, counts))
    print("  correct: %s" % correct)
    for e in errors[:20]:
        print("  check: " + e)
    metrics = {k: {"value": float(shown[k][0]), "unit": shown[k][1]}
               for k in (E2E if not args.trace else trace.LAYER_METRICS)}
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


def repeat(args):
    """Steadiness report: --repeat K runs on seeds seed..seed+K-1. The
    `info.*` figures each run prints are reported too."""
    values, fails = {}, []
    for i in range(args.repeat):
        argv = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                "--seed", str(args.seed + i), "--seconds", str(args.seconds),
                "--trace", str(args.trace)]
        out = subprocess.run(argv, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit("run with seed %d failed (exit %d)" % (args.seed + i, out.returncode))
        res = json.loads(lines[-1])
        fails.append((res["failed"], res["attempted"], res["correct"]))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for m in re.finditer(r"^  (info\.\S+) +(\S+) ", out.stdout, re.M):
            values.setdefault(m.group(1), []).append(float(m.group(2)))
        print("seed %d: %s" % (args.seed + i, lines[-1]), flush=True)
    print("steadiness of %s over %d seeds (median, IQR / median)" % (args.workload, args.repeat))
    summary = {}
    for k, v in values.items():
        med, sp = spread(v)
        summary[k] = {"median": med, "iqr_share": sp}
        print("  %-34s median %12.4f  spread %6.3f" % (k, med, sp))
    print("  failed/attempted per run: %s" % ["%d/%d%s" % (f, n, "" if c else " INCORRECT")
                                              for f, n, c in fails])
    print(json.dumps(summary))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    args = ap.parse_args()
    if args.repeat:
        repeat(args)
        return
    try:
        one_run(args)
    except RunError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        sys.exit(1)


if __name__ == "__main__":
    main()
