"""Load generator and operator client of live_design, run as its own
process next to the engine JVMs.

    python3 perfbench/loadgen.py SPEC.json

SPEC names the seed, the seconds of the quiet measured window, the run
directory, the MQTT port and the engine pids. Four threads: the publisher (this one), the
PUBACK reader, the observer that polls the engine's output tables, and the
operator that sends commands. It writes RESULT.json (metrics, checks,
counts) and, when tracing, its own spans.
"""
import bisect
import json
import os
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402
from mqtt import Publisher  # noqa: E402
from procfs import cpu_ms as proc_cpu_ms, hwm_mb as proc_hwm_mb  # noqa: E402
from stats import pct  # noqa: E402

POLL_S = 0.01
WAIT_S = 40.0          # longest wait for any one expected output
THINK_S = 0.25         # operator think time after a command completes


def now_ms():
    return time.time() * 1000.0


def ts_ms(column):
    """A parquet timestamp column (INT96 or INT64 of any unit) as epoch ms."""
    unit = column.type.unit
    div = {"s": 1e-3, "ms": 1.0, "us": 1e3, "ns": 1e6}[unit]
    return [None if v is None else v / div for v in column.cast(pa.int64()).to_pylist()]


def parts(d):
    try:
        return sorted(n for n in os.listdir(d) if n.startswith("part-") and n.endswith(".parquet"))
    except FileNotFoundError:
        return None


def read_table(path, columns):
    return pq.ParquetFile(path).read(columns=columns)


class Observer(threading.Thread):
    """Polls the detection sink, the tiles table, the ACK table and, when
    tracing, the drop directory; stamps the first time each thing shows."""

    def __init__(self, run, trace):
        super().__init__(name="observer", daemon=True)
        self.sink_dir = os.path.join(run, "out", "detections")
        self.tiles_dir = os.path.join(run, "out", "tiles")
        self.acks_dir = os.path.join(run, "out", "acks")
        self.drop_dir = os.path.join(run, "drop")
        self.trace = trace
        self.cv = threading.Condition()
        self.stopping = threading.Event()
        self.rows, self.first_seen, self.sink_files = [], {}, []
        self.known_sink, self.known_acks, self.spool = set(), set(), {}
        self.tile_name, self.tiles_existed = None, False
        self.tiles, self.tile_changes = {}, {}
        self.absent_reads = 0
        self.acks = []           # (seen_ms, file, [(command, status, ts_ms)])
        self.due = {}            # (sid, fid) -> due ms, set before publishing
        self.max_due_seen = float("-inf")

    def run(self):
        while not self.stopping.is_set():
            self.poll()
            time.sleep(POLL_S)

    def poll(self):
        t = now_ms()
        changed = self._poll_sink(t) | self._poll_tiles(t) | self._poll_acks(t)
        if self.trace:
            for n in os.listdir(self.drop_dir):
                if n.startswith("mqtt-") and n not in self.spool:
                    self.spool[n] = t
        if changed:
            with self.cv:
                self.cv.notify_all()

    def _poll_sink(self, t):
        names = parts(self.sink_dir) or []
        new = [n for n in names if n not in self.known_sink]
        for n in new:
            tbl = read_table(os.path.join(self.sink_dir, n), ["topic", "source_id", "payload"])
            batch = list(zip(*(tbl.column(c).to_pylist() for c in ("topic", "source_id", "payload"))))
            with self.cv:
                self.known_sink.add(n)
                self.sink_files.append((t, n, len(batch)))
                for topic, sid, body in batch:
                    m = check.FRAME.search(body)
                    key = (sid, int(m.group(1)) if m else None)
                    if key not in self.first_seen:
                        self.first_seen[key] = t
                        self.max_due_seen = max(self.max_due_seen, self.due.get(key, float("-inf")))
                self.rows.extend(batch)
        return bool(new)

    def _poll_tiles(self, t):
        names = parts(self.tiles_dir)
        if not names:
            if self.tiles_existed:
                self.absent_reads += 1
            return False
        self.tiles_existed = True
        if names[0] == self.tile_name:
            return False
        try:
            tbl = read_table(os.path.join(self.tiles_dir, names[0]), ["source_id", "frame_id", "labels"])
        except (OSError, pa.ArrowInvalid):
            self.absent_reads += 1
            return False
        self.tile_name = names[0]
        with self.cv:
            for sid, fid, labels in zip(*(tbl.column(c).to_pylist()
                                          for c in ("source_id", "frame_id", "labels"))):
                if self.tiles.get(sid, (None,))[0] != fid:
                    self.tile_changes.setdefault(sid, []).append((fid, t))
                self.tiles[sid] = (fid, labels)
        return True

    def _poll_acks(self, t):
        new = [n for n in parts(self.acks_dir) or [] if n not in self.known_acks]
        for n in new:
            tbl = read_table(os.path.join(self.acks_dir, n), ["command", "ack_status", "timestamp"])
            rows = list(zip(tbl.column("command").to_pylist(), tbl.column("ack_status").to_pylist(),
                            ts_ms(tbl.column("timestamp"))))
            with self.cv:
                self.known_acks.add(n)
                self.acks.append((t, n, rows))
        return bool(new)

    def wait_for(self, pred, timeout):
        deadline = time.time() + timeout
        with self.cv:
            while not pred():
                left = deadline - time.time()
                if left <= 0:
                    return False
                self.cv.wait(min(left, 0.05))
        return True

    def tile_time(self, sid, fid):
        """First time the tiles table held this frame or a newer one."""
        ch = self.tile_changes.get(sid, [])
        i = bisect.bisect_left([f for f, _ in ch], fid)
        return ch[i][1] if i < len(ch) else None


def read_retained(path, columns, tries=40):
    """One read of a retained table, retried across its rewrite window."""
    for _ in range(tries):
        names = parts(path)
        if names:
            try:
                return read_table(os.path.join(path, names[0]), columns)
            except (OSError, pa.ArrowInvalid):
                pass
        time.sleep(0.05)
    return None


def pinged_config(run, applied):
    """The config projection of the retained status row a `ping` applied at
    `applied` wrote (the status upsert lands just after the ACKs)."""
    deadline = time.time() + WAIT_S
    while time.time() < deadline:
        tbl = read_retained(os.path.join(run, "out", "status"), ["config", "pong", "timestamp"])
        if tbl is not None and tbl.column("pong").to_pylist()[0] and \
                abs(ts_ms(tbl.column("timestamp"))[0] - applied) < 1.0:
            cfg = tbl.column("config").to_pylist()[0]
            return dict(cfg) if cfg else None
        time.sleep(0.05)
    return None


class Operator:
    """The operator client: one command at a time, each written as a file
    renamed into the control directory, then waited for until its
    completed ACK is visible (and, for commands that rebuild the pipeline,
    until an event due after the command was applied is in the sink)."""

    RESTARTS = ("restart", "set_fps", "change_model")

    def __init__(self, run, obs):
        self.dir = os.path.join(run, "control")
        self.obs = obs
        self.seq = 0
        self.done = []

    def send(self, cmd):
        self.seq += 1
        name = "cmd-%06d.json" % self.seq
        tmp = os.path.join(self.dir, "." + name + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"command": cmd["command"], "params": cmd.get("params", {}),
                                 "target_instances": []}) + "\n")
        with self.obs.cv:
            seen_before = len(self.obs.acks)
        t0 = now_ms()
        os.rename(tmp, os.path.join(self.dir, name))
        rec = {"seq": self.seq, "command": cmd["command"], "sent": t0, "acks": [],
               "ack_ms": None, "done_ms": None}

        def mine():
            return [(t, f, r) for t, f, rows in self.obs.acks[seen_before:]
                    for r in rows if r[0] == cmd["command"]]

        def finished():
            return any(r[1] in ("completed", "error") for _, _, r in mine())

        if self.obs.wait_for(finished, WAIT_S):
            time.sleep(0.05)  # the job commit renames its part files one by one
            with self.obs.cv:
                got = sorted(mine(), key=lambda x: x[1])
            rec["acks"] = [r[1] for _, _, r in got]
            done = [(t, r) for t, _, r in got if r[1] in ("completed", "error")]
            rec["ack_ms"] = done[0][0] - t0
            rec["applied"] = applied = done[0][1][2]
            if cmd["command"] in self.RESTARTS and self.obs.wait_for(
                    lambda: self.obs.max_due_seen > applied, WAIT_S):
                with self.obs.cv:
                    first = min(t for k, t in self.obs.first_seen.items()
                                if self.obs.due.get(k, float("-inf")) > applied)
                rec["done_ms"] = max(done[0][0], first) - t0
        self.done.append(rec)
        return rec


def main():
    spec = json.load(open(sys.argv[1]))
    run, seconds, pids = spec["run"], spec["seconds"], spec["pids"]
    plan = gen.live_plan(spec["seed"])
    script = gen.commands(spec["seed"], spec["trace"])
    obs = Observer(run, spec["trace"])
    op = Operator(run, obs)
    obs.start()
    pub = Publisher(spec["port"])
    sent, out, closing = {}, {"errors": []}, {}

    def fail(why):
        out["fatal"] = why
        json.dump(out, open(spec["result"], "w"))
        sys.exit(1)

    def publish(m, due):
        if m["kind"] == "valid":
            with obs.cv:
                obs.due[(m["source_id"], m["frame_id"])] = due
        topic, body = gen.wire(m, due)
        sent[id(m)] = (due, now_ms(), pub.publish(topic, body))

    # set-up ends when the probe round is in the sink and in the tiles
    probe = [m for m in plan if m["phase"] == "probe"]
    t = now_ms()
    for m in probe:
        publish(m, t)
    if not obs.wait_for(lambda: all((m["source_id"], m["frame_id"]) in obs.first_seen
                                    for m in probe if m["kind"] == "valid")
                        and len(obs.tiles) >= gen.SOURCES, 120):
        fail("set-up: probe events never reached the sink and tiles")
    setup_t = now_ms()
    win0 = setup_t + 500.0
    round_done = threading.Event()

    def operator():
        # after the quiet window, one closed-loop round: each command goes
        # out a think time after the previous one completed
        time.sleep(max(0.0, (win0 + seconds * 1000.0 - now_ms()) / 1000.0))
        for cmd in script["round"]:
            time.sleep(THINK_S)
            op.send(cmd)
        round_done.set()

    opt = threading.Thread(target=operator, name="operator", daemon=True)
    opt.start()
    # open loop at the design rate: the quiet window of `seconds`, then on
    # until the operator's round is over (a rebuild completes only when an
    # event due after it is published)
    published, cpu = list(probe), {}
    time.sleep(max(0.0, (win0 - now_ms()) / 1000.0))
    cpu0 = {r: proc_cpu_ms(p) for r, p in pids.items()}
    for m in plan:
        if m["phase"] != "load":
            continue
        if m["offset_s"] >= seconds:
            if not cpu:
                cpu = {r: proc_cpu_ms(p) - cpu0[r] for r, p in pids.items()}
            if round_done.is_set():
                break
        due = win0 + m["offset_s"] * 1000.0
        time.sleep(max(0.0, (due - now_ms()) / 1000.0))
        publish(m, due)
        published.append(m)
    else:
        fail("the operator's command round outlasted the generated load")
    opt.join(WAIT_S)
    marks = {"setup": setup_t, "load_end": now_ms()}
    exp = gen.expected(published)
    keys = list(exp["published"])
    # closing commands, as the engines drain the load: `ping` reads back the
    # config the round set, `metrics` folds the whole published log once all
    # of it is in the sink, `stop` ends the processor; the wall goes on
    # catching up meanwhile
    for cmd in script["closing"]:
        if cmd["command"] == "metrics":
            if not obs.wait_for(lambda: all(k in obs.first_seen for k in keys), WAIT_S):
                out["errors"].append("timed out waiting for every expected event in the sink")
            marks["visible"] = now_ms()
        if cmd["command"] == "stop":
            closing["hwm"] = {r: proc_hwm_mb(p) for r, p in pids.items()}
        time.sleep(THINK_S)
        rec = op.send(cmd)
        if cmd["command"] == "ping" and rec["ack_ms"] is not None:
            closing["config"] = pinged_config(run, rec["applied"])
        if cmd["command"] == "metrics" and rec["ack_ms"] is not None:
            tbl = read_retained(os.path.join(run, "out", "metrics"), ["source_id", "n_frames"])
            closing["n_frames"] = {} if tbl is None else dict(zip(
                tbl.column("source_id").to_pylist(), tbl.column("n_frames").to_pylist()))
            with obs.cv:
                closing["rows"] = list(obs.rows)
    marks["closed"] = now_ms()
    if not obs.wait_for(lambda: all(obs.tiles.get(s, (None,))[0] == f
                                    for s, (f, _) in exp["tiles"].items()), WAIT_S):
        out["errors"].append("timed out waiting for every expected tile")
    marks["tiles"] = now_ms()
    obs.stopping.set()
    obs.join(5)
    pub.close()

    # ---- correctness, against the generator's own expected outputs
    errors, failed = check.check_live(exp, obs.rows, obs.tiles, op.done,
                                      closing.get("config"), script["final_config"])
    if "rows" in closing:
        errors += check.check_metrics(closing["n_frames"], closing["rows"])
    else:
        errors.append("the closing metrics command did not complete")
    errors = out["errors"] + errors

    # ---- end-to-end metrics over the quiet window
    window = [(m["source_id"], m["frame_id"]) for m in published
              if m["phase"] == "load" and m["kind"] == "valid" and m["offset_s"] < seconds]
    lat = [obs.first_seen[k] - obs.due[k] for k in window if k in obs.first_seen]
    view = [t - obs.due[k] for k in window for t in [obs.tile_time(*k)] if t is not None]
    e2e = {
        "setup_s": ((setup_t - spec["launched_ms"]) / 1000.0, "s", 1),
        # pinned near nproc * 1000 / 12 ms while the engines trigger back to
        # back (README "End-to-end metrics"): it shows a cheaper live path,
        # not a costlier one
        "cpu_ms_per_op": (sum(cpu.values()) / len(window), "ms", len(window)),
        "peak_rss_mb": (sum(closing.get("hwm", {}).values()), "MB", len(pids)),
    }
    info = {
        "detect_p50_ms": (pct(lat, 50), "ms", len(lat)),
        "detect_p90_ms": (pct(lat, 90), "ms", len(lat)),
        "tile_p50_ms": (pct(view, 50), "ms", len(view)),
        "tile_p90_ms": (pct(view, 90), "ms", len(view)),
    }

    # ---- per-layer metrics seen from outside the JVMs
    def by_cmd(kinds, field):
        v = [c[field] for c in op.done if c["command"] in kinds and c[field] is not None]
        return (pct(v, 50), "ms", len(v))

    pubacks = [pub.acked[p] * 1000.0 - t for (_, t, p) in sent.values() if p in pub.acked]
    n_rows = len(obs.rows)
    layer = {
        "pipeline.detect_p50_ms": info["detect_p50_ms"],
        "pipeline.detect_p90_ms": info["detect_p90_ms"],
        "wall.tile_p50_ms": info["tile_p50_ms"],
        "wall.tile_p90_ms": info["tile_p90_ms"],
        "bus.puback_p50_ms": (pct(pubacks, 50), "ms", len(pubacks)),
        "bus.spool_files": (sum(1 for n in os.listdir(os.path.join(run, "drop"))
                                if n.startswith("mqtt-")), "count", 1),
        "sinks.part_files": (len(obs.sink_files) * 1000.0 / max(1, n_rows), "count", n_rows),
        "sinks.dup_events": (n_rows - len(obs.first_seen), "count", n_rows),
        "wall.absent_reads": (obs.absent_reads, "count", 1),
        "control.ack_p50_ms": by_cmd(("ping", "metrics"), "ack_ms"),
        "gen.lag_max_ms": (max(t - d for (d, t, _) in sent.values()), "ms", len(sent)),
        "jvm.cpu_s.pipeline": (cpu["pipeline"] / 1000.0, "s", 1),
        "jvm.cpu_s.wall": (cpu["wall"] / 1000.0, "s", 1),
    }
    for kind in ("ping", "metrics"):
        layer["control.ack_ms." + kind] = by_cmd((kind,), "ack_ms")
    layer["control.restart_ms.change_model"] = by_cmd(("change_model",), "done_ms")

    out.update({
        "correct": not errors, "check_errors": errors[:20],
        "attempted": len(published) + len(op.done), "failed": failed,
        "e2e": e2e, "info": info, "layer": layer, "sink_rows": n_rows,
        "marks": {k: v - spec["launched_ms"] for k, v in marks.items()},
        "counts": "events %d (%d in the window, %d published rows), dropped inputs %s, "
                  "commands %d" % (len(keys), len(window), n_rows, exp["drops"], len(op.done)),
    })
    json.dump(out, open(spec["result"], "w"))

    if spec["trace"]:
        spans = []
        for m in published:
            d, t, p = sent[id(m)]
            k = "%s:%s" % (m["source_id"], m["frame_id"])
            spans.append({"name": "publish", "id": k, "start": d, "end": t})
            if p in pub.acked:
                spans.append({"name": "puback", "id": k, "parent": k, "start": t,
                              "end": pub.acked[p] * 1000.0})
        for k, t in obs.first_seen.items():
            if k in obs.due:
                sk = "%s:%s" % k
                spans.append({"name": "sink_visible", "id": sk, "start": obs.due[k], "end": t})
                tt = obs.tile_time(*k)
                if tt is not None:
                    spans.append({"name": "tile_visible", "id": sk, "start": obs.due[k], "end": tt})
        for n, t in obs.spool.items():
            spans.append({"name": "spool_visible", "id": n, "start": t, "end": t})
        for c in op.done:
            spans.append({"name": "command", "id": str(c["seq"]), "start": c["sent"],
                          "end": c["sent"] + (c["ack_ms"] or 0.0),
                          "attrs": {"command": c["command"], "done_ms": c["done_ms"]}})
        with open(os.path.join(run, "spans-loadgen.jsonl"), "w") as fh:
            for s in spans:
                s.setdefault("role", "loadgen")
                fh.write(json.dumps(s) + "\n")


if __name__ == "__main__":
    main()
