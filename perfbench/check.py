"""Correctness checks, computed apart from the program.

The live check compares what the engine wrote (sink rows, tiles table,
ACKs, retained status, metrics table) with the expected outputs that
`gen.expected` derives from the generator's own rows. The batch check
runs tools/compare.py, which compares each query's output with its
registered DuckDB oracle.

Each check returns (errors, failed): `failed` counts operations that never
completed (an event never published, a command without its completed ACK);
`errors` lists wrong outputs of the operations that did complete.
"""
import json
import os
import re
import subprocess
import sys

FRAME = re.compile(r'"frame_id":(\d+)')


def _norm_dets(dets):
    return sorted(json.dumps(d, sort_keys=True) for d in dets)


def check_sink(exp, rows):
    """rows: (topic, source_id, payload) as read from the detection sink.
    Deduplicated by (source_id, frame_id): the sink is at-least-once."""
    errors, seen = [], {}
    for topic, sid, body in rows:
        ev = json.loads(body)
        key = (ev.get("source_id"), ev.get("frame_id"))
        if topic != "nvr/detections/%s" % ev.get("source_id") or sid != ev.get("source_id"):
            errors.append("topic %r for source %r" % (topic, ev.get("source_id")))
        if key not in exp["published"]:
            errors.append("published an event that must be dropped: %r" % (key,))
            continue
        got = [{k: d.get(k) for k in ("class_name", "confidence", "bbox", "tracker_id")}
               for d in ev.get("detections") or []]
        if _norm_dets(got) != _norm_dets(exp["published"][key]):
            errors.append("detections of %r differ from the confidence-filtered input" % (key,))
        seen[key] = True
    missing = [k for k in exp["published"] if k not in seen]
    return errors, missing


def check_tiles(exp, tiles):
    """tiles: {source_id: (frame_id, labels)} read from the tiles table."""
    errors = []
    for sid, want in sorted(exp["tiles"].items()):
        got = tiles.get(sid)
        if got is None:
            errors.append("no tile for source %d" % sid)
        elif tuple(got) != tuple(want):
            errors.append("tile of source %d is %r, expected %r" % (sid, tuple(got), tuple(want)))
    for sid in tiles:
        if sid not in exp["tiles"]:
            errors.append("tile for a source that published nothing: %r" % (sid,))
    return errors


def check_acks(commands):
    """commands: [{"command", "acks": [ack_status, ...]}] in send order.
    Each command needs exactly one `received` and then one `completed`."""
    errors, failed = [], 0
    for c in commands:
        if c["acks"] != ["received", "completed"]:
            failed += 1
            errors.append("%s ACKs were %r" % (c["command"], c["acks"]))
    return errors, failed


def check_status(config, want):
    """config: the retained status's config projection after the last ping;
    want: the config the round leaves: the last change_model and the
    default max_fps (None: no ping was sent)."""
    if want is None:
        return []
    if config is None:
        return ["retained status carries no config"]
    errors = []
    if config.get("model_id") != want["model_id"]:
        errors.append("status model_id %r, last change_model %r"
                      % (config.get("model_id"), want["model_id"]))
    try:
        fps = float(config.get("max_fps"))
    except (TypeError, ValueError):
        fps = None
    if fps != want["max_fps"]:
        errors.append("status max_fps %r, expected %r" % (config.get("max_fps"), want["max_fps"]))
    return errors


def check_metrics(n_frames, rows):
    """n_frames: {source_id: n} from the metrics table; rows: sink rows.
    The fold reads every published row, duplicates included."""
    counts = {}
    for _, sid, _ in rows:
        counts[sid] = counts.get(sid, 0) + 1
    if n_frames != counts:
        return ["metrics n_frames %r != sink rows per source %r"
                % (sorted(n_frames.items())[:4], sorted(counts.items())[:4])]
    return []


def check_live(exp, rows, tiles, commands, status_config, want_config):
    """Everything but the metrics table, which is read mid-run."""
    errors, missing = check_sink(exp, rows)
    if not missing:
        errors += check_tiles(exp, tiles)
    ack_errors, ack_failed = check_acks(commands)
    return errors + ack_errors + check_status(status_config, want_config), \
        len(missing) + ack_failed


# ------------------------------------------------------------------ batch

COMPARE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "tools", "compare.py")


def check_batch(data_dir, out_dir):
    """Each listed query's output (OUT_DIR/NAME) against its registered
    DuckDB oracle (OUT_DIR/oracle_sql.json), by the repo's own
    tools/compare.py in its strict mode. Returns its FAIL lines; any
    non-zero exit is an error."""
    res = subprocess.run([sys.executable, COMPARE, data_dir, out_dir], stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if res.returncode == 0:
        return []
    lines = res.stdout.splitlines()
    return [ln for ln in lines if ln.startswith("FAIL")] or \
        ["tools/compare.py exited %d: %s" % (res.returncode, " | ".join(lines[-3:]))]
