"""Tests of the benchmark's correctness checks: a faithful engine output
passes, and each corrupted output is caught.

    python3 perfbench/test_check.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402


def engine_output(msgs):
    """What a correct engine writes for these messages: sink rows with the
    confidence-filtered detections (to_json drops null fields) and the
    latest tile per source."""
    exp = gen.expected(msgs)
    rows = []
    for m in msgs:
        if m["kind"] != "valid":
            continue
        body = json.loads(gen.payload(m, 1767225600000 + 1000 * m["frame_id"]))
        body["topic_source_id"] = m["source_id"]
        body["detections"] = [{k: v for k, v in d.items() if v is not None}
                              for d in body["detections"] if d["confidence"] >= gen.CONFIDENCE]
        rows.append((gen.TOPIC.format(m["source_id"]), m["source_id"], json.dumps(body)))
    return exp, rows, dict(exp["tiles"])


class LiveCheckTest(unittest.TestCase):
    def setUp(self):
        self.msgs = gen.live_plan(7)[:200]
        self.exp, self.rows, self.tiles = engine_output(self.msgs)
        self.cmds = [{"command": "ping", "acks": ["received", "completed"]},
                     {"command": "stop", "acks": ["received", "completed"]}]
        self.want = {"max_fps": 1.0, "model_id": "yolov8s-640"}
        self.config = {"max_fps": "1.0", "model_id": "yolov8s-640"}

    def run_check(self):
        return check.check_live(self.exp, self.rows, self.tiles, self.cmds,
                                self.config, self.want)

    def test_faithful_output_passes(self):
        self.assertEqual(self.run_check(), ([], 0))
        self.assertTrue(sum(self.exp["drops"].values()) > 0)
        self.assertEqual(check.check_metrics(
            {sid: sum(1 for r in self.rows if r[1] == sid) for sid in self.tiles}, self.rows), [])

    def test_duplicate_rows_are_tolerated(self):
        self.rows.append(self.rows[0])
        self.assertEqual(self.run_check(), ([], 0))

    def test_dropped_event_fails(self):
        del self.rows[5]
        errors, failed = self.run_check()
        self.assertEqual(failed, 1)

    def test_kept_subthreshold_detection_fails(self):
        topic, sid, body = self.rows[3]
        ev = json.loads(body)
        ev["detections"].append({"class_name": "car", "confidence": 0.49,
                                 "bbox": {"x": 1.0, "y": 1.0, "width": 2.0, "height": 2.0}})
        self.rows[3] = (topic, sid, json.dumps(ev))
        errors, _ = self.run_check()
        self.assertTrue(any("confidence-filtered" in e for e in errors), errors)

    def test_stale_tile_fails(self):
        sid = sorted(self.tiles)[0]
        fid, labels = self.tiles[sid]
        self.tiles[sid] = (fid - 1, labels)
        errors, _ = self.run_check()
        self.assertTrue(any("tile of source %d" % sid in e for e in errors), errors)

    def test_missing_ack_fails(self):
        self.cmds[0]["acks"] = ["received"]
        errors, failed = self.run_check()
        self.assertEqual(failed, 1)
        self.assertTrue(errors)

    def test_dropped_input_published_fails(self):
        bad = next(m for m in self.msgs if m["kind"] == "unconfigured")
        self.rows.append((gen.TOPIC.format(bad["source_id"]), bad["source_id"],
                          gen.payload(bad, 1767225600000)))
        errors, _ = self.run_check()
        self.assertTrue(any("must be dropped" in e for e in errors), errors)

    def test_wrong_topic_fails(self):
        topic, sid, body = self.rows[0]
        self.rows[0] = ("nvr/detections/999", sid, body)
        errors, _ = self.run_check()
        self.assertTrue(any("topic" in e for e in errors), errors)

    def test_stale_status_config_fails(self):
        self.config = {"max_fps": "1.0", "model_id": "yolov8x-640"}
        errors, _ = self.run_check()
        self.assertTrue(any("model_id" in e for e in errors), errors)

    def test_metrics_count_mismatch_fails(self):
        counts = {sid: sum(1 for r in self.rows if r[1] == sid) for sid in self.tiles}
        counts[0] -= 1
        self.assertTrue(check.check_metrics(counts, self.rows))


class BatchCheckTest(unittest.TestCase):
    """check_batch runs tools/compare.py on the layout BatchRunner writes:
    OUT/oracle_sql.json and one parquet directory per query."""

    def test_oracle_comparison(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(build.build_dir(), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.build_dir()) as d:
            events = pa.table({"event_id": pa.array([1, 2, 3], pa.int64()),
                               "value": pa.array([0.5, 1.25, 2.0])})
            pq.write_table(events, os.path.join(d, "events.parquet"))
            out = os.path.join(d, "out")
            os.makedirs(os.path.join(out, "q"))
            with open(os.path.join(out, "oracle_sql.json"), "w") as fh:
                json.dump({"q": "SELECT event_id, value * 2 AS v FROM events"}, fh)

            def check_with(v):
                pq.write_table(pa.table({"event_id": pa.array([3, 1, 2], pa.int64()), "v": v}),
                               os.path.join(out, "q", "part-0.parquet"))
                return check.check_batch(d, out)

            self.assertEqual(check_with(pa.array([4.0, 1.0, 2.5])), [])
            self.assertEqual(len(check_with(pa.array([4.0, 1.0, 2.25]))), 1)  # changed value
            self.assertEqual(len(check_with(pa.array([4, 1, 2], pa.int64()))), 1)  # int for double


if __name__ == "__main__":
    unittest.main()
