"""Seeded inputs and the expected outputs computed from them.

Everything here is a pure function of the seed: the engine
only ever sees the generated messages and tables, and the expected outputs
are derived from the generator's own source rows, never from the engine.
"""
import json
import os
import random
import time

CONFIDENCE = 0.5           # the pipeline's default --confidence
CLASSES = ["person", "car", "truck", "bicycle", "dog", "bus"]
INSTANCE = "cam-host-1"
TOPIC = "nvr/detections/{}"
MODELS = ["yolov8n-640", "yolov8s-640", "yolov8m-640"]

# the make-up of the live workload (README "Workloads")
SOURCES = 12                 # --n 12: the reference's 12 streams
FPS = 1.0                    # x 1 fps = 12 events/s
DETECTIONS = (0, 4)          # detections per event, uniform
DROP_SHARES = {"malformed": 0.02, "bad_topic": 0.01, "unconfigured": 0.01}
MAX_LOAD_S = 150             # the longest load the plan holds
INITIAL_CONFIG = {"max_fps": 1.0, "model_id": "yolov8x-640"}  # the CLI defaults


def iso_ms(ms):
    """Epoch milliseconds -> the ISO-8601 UTC form the engine parses."""
    s, milli = divmod(int(ms), 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + ".%03dZ" % milli


def label(d):
    """The wall's display label (EventOps.label): class, confidence to two
    decimals, then ' #tracker' when a tracker id is present. Confidences are
    generated with two decimals, so '%.2f' agrees with the JVM's rounding."""
    s = "%s %.2f" % (d["class_name"], d["confidence"])
    return s + (" #%d" % d["tracker_id"] if d["tracker_id"] is not None else "")


def _detections(rng, lo, hi):
    out = []
    for _ in range(rng.randint(lo, hi)):
        out.append({
            "class_name": rng.choice(CLASSES),
            # two decimals, straddling the 0.5 threshold (0.50 itself is kept)
            "confidence": rng.randint(30, 70) / 100.0,
            "bbox": {"x": rng.randint(0, 1920) / 10.0, "y": rng.randint(0, 1080) / 10.0,
                     "width": rng.randint(10, 400) / 10.0, "height": rng.randint(10, 400) / 10.0},
            "tracker_id": rng.randint(1, 500) if rng.random() < 0.8 else None,
        })
    return out


def payload(ev, ts_ms):
    """The wire JSON of one valid event, stamped with its due time."""
    return json.dumps({
        "instance_id": INSTANCE, "source_id": ev["source_id"], "frame_id": ev["frame_id"],
        "timestamp": iso_ms(ts_ms), "model_id": "yolov8x-640",
        "inference_time_ms": ev["inference_time_ms"], "detections": ev["detections"],
        "fps": 1.0, "latency_ms": ev["inference_time_ms"] + 3.0,
    }, separators=(",", ":"))


def _message(rng, kind, sid, fid):
    """One generated bus message: a valid event or one of the three input
    kinds the pipeline must drop."""
    ev = {"kind": kind, "source_id": sid, "frame_id": fid,
          "inference_time_ms": rng.randint(150, 900) / 10.0,
          "detections": _detections(rng, *DETECTIONS)}
    if kind == "malformed":
        # half not JSON at all, half JSON without the required timestamp
        ev["raw"] = ("garbage frame %d of %d {" % (fid, sid)) if rng.random() < 0.5 else None
    return ev


def live_plan(seed):
    """The live_design message list, in publish order: a probe round (frame
    0 of every source, and one message of each kind the pipeline must drop)
    that ends set-up, then open-loop load at SOURCES x FPS, each message due
    `offset_s` after the measured window starts. Each valid load slot may be
    joined by one message of a kind to drop, at the DROP_SHARES rates."""
    rng = random.Random("live_design:%d" % seed)
    frame = [0] * (SOURCES + 4)
    msgs = []

    def add(kind, sid, phase, offset):
        m = _message(rng, kind, sid, frame[sid])
        frame[sid] += 1
        m["phase"], m["offset_s"] = phase, offset
        msgs.append(m)

    for sid in range(SOURCES):
        add("valid", sid, "probe", 0.0)
    # one message of each kind to drop in every run, however short
    for kind in DROP_SHARES:
        add(kind, SOURCES if kind == "unconfigured" else rng.randrange(SOURCES), "probe", 0.0)
    for i in range(int(MAX_LOAD_S * SOURCES * FPS)):
        off = i / (SOURCES * FPS)
        add("valid", i % SOURCES, "load", off)
        u, acc = rng.random(), 0.0
        for kind, share in DROP_SHARES.items():
            acc += share
            if u < acc:
                add(kind, SOURCES + rng.randrange(4) if kind == "unconfigured"
                    else rng.randrange(SOURCES), "load", off)
                break
    return msgs


def wire(m, ts_ms):
    """(topic, payload) of a message as published on the bus."""
    if m["kind"] == "malformed":
        if m["raw"] is not None:
            return TOPIC.format(m["source_id"]), m["raw"]
        body = json.loads(payload(m, ts_ms))
        del body["timestamp"]
        return TOPIC.format(m["source_id"]), json.dumps(body, separators=(",", ":"))
    topic = "nvr/detections" if m["kind"] == "bad_topic" else TOPIC.format(m["source_id"])
    return topic, payload(m, ts_ms)


def expected(msgs):
    """The outputs the engine must produce, from the generator's rows alone:
    every published (source_id, frame_id) with its confidence-filtered
    detections, the drop count per reason, and the final tile per source."""
    published, drops, tiles = {}, {"malformed": 0, "bad_topic": 0, "unconfigured": 0}, {}
    for m in msgs:
        if m["kind"] != "valid":
            drops[m["kind"]] += 1
            continue
        kept = [d for d in m["detections"] if d["confidence"] >= CONFIDENCE]
        key = (m["source_id"], m["frame_id"])
        published[key] = kept
        # timestamps rise with frame_id within a source, so the newest
        # frame is the tile
        if m["source_id"] not in tiles or m["frame_id"] > tiles[m["source_id"]][0]:
            tiles[m["source_id"]] = (m["frame_id"], "|".join(label(d) for d in kept))
    return {"published": published, "drops": drops, "tiles": tiles}


def commands(seed, trace):
    """The operator's script. A traced run sends, after the quiet measured
    window, a round of one `change_model`, which rebuilds the pipeline with
    the new config (its completion needs events after it, so the load runs
    on until the round is over), and closes with `ping`, whose status
    carries that config. `set_fps` and `restart` take the same rebuild path
    as `change_model`, and `status` the same ACK path as `ping`; they are
    left out because each command under load takes 10-30 s, and a round of
    all five took the traced run past its time limit. Every run ends with
    `metrics` (fold the whole published log) and `stop`, one command at a
    time."""
    rng = random.Random("ops:%d" % seed)
    model = rng.choice(MODELS)
    if not trace:
        return {"round": [], "final_config": None,
                "closing": [{"command": "metrics"}, {"command": "stop"}]}
    return {"round": [{"command": "change_model", "params": {"model_id": model}}],
            "final_config": {"max_fps": INITIAL_CONFIG["max_fps"], "model_id": model},
            "closing": [{"command": "ping"}, {"command": "metrics"}, {"command": "stop"}]}


# ------------------------------------------------------------ batch tables

VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en"] * 8 + ["zh", "de", "es", "fr"] * 3
DOCUMENTS = 1000  # sf0.1 has 5000; the curation funnel runs 6 s warm at that size


def batch_tables(seed, out_dir):
    """The `events` (sf0.1: 100k rows), `documents` (DOCUMENTS rows) and
    `embeddings` (sf0.1: 2k rows) tables, with the schema and value shapes
    of the repo's sf testdata, drawn from the seed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rs = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = 100_000
    base_us = 1704067200 * 10**6  # 2024-01-01
    ts = np.sort(rs.choice(30 * 86400 * 10**6, size=n, replace=False)) + base_us
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rs.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rs.integers(0, 5, n)]),
        "value": pa.array(np.round(rs.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rs.integers(0, 100, n)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    nd = DOCUMENTS
    texts = []
    for i in range(nd):
        if i > 50 and rs.random() < 0.05:
            # near-duplicate of an earlier document, as in the testdata
            texts.append(texts[int(rs.integers(0, i))] + " dup")
            continue
        words = rs.integers(0, len(VOCAB), int(rs.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rs.integers(0, len(LANGS), nd)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    ne, dim = 2000, 64
    labels = rs.integers(0, 10, ne).astype(np.int32)
    centers = rs.normal(0, 1, (10, dim))
    x = rs.normal(0, 1, (ne, dim)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
