"""Tests of the benchmark's Python side (no JVM): input determinism, the
plan's shape invariants, and the DuckDB output checks.

    python3 -m unittest discover perfbench/tests
"""
import fnmatch
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402
import inputs  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class InputsTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        for w in ("dashboard_read", "batch_dedup"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                inputs.generate(w, 7, a, ingest_ops=3)
                inputs.generate(w, 7, b, ingest_ops=3)
                self.assertEqual(digest(a), digest(b), w)

    def test_other_seed_other_inputs_same_shape(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            pa_ = inputs.generate("dashboard_read", 1, a, ingest_ops=2)
            pb = inputs.generate("dashboard_read", 2, b, ingest_ops=2)
            self.assertNotEqual(digest(a), digest(b))
            self.assertEqual(pa_["corpus_points"], pb["corpus_points"])
            self.assertEqual([r["kind"] for r in pa_["requests"]], [r["kind"] for r in pb["requests"]])

    def test_render_globs_match_the_planned_series_counts(self):
        with tempfile.TemporaryDirectory() as d:
            plan = inputs.generate("dashboard_read", 3, d, ingest_ops=0)
        names = [inputs.locator(s, h, m) for s in range(inputs.SERVICES)
                 for h in range(inputs.HOSTS) for m in inputs.METRICS]
        raw = next(r for r in plan["requests"] if r["kind"] == "render_raw")
        glob = raw["path"].split("target=")[1].split("&")[0].replace("%2A", "*")
        self.assertEqual(len(fnmatch.filter(names, glob)), raw["expect"]["series"])

    def test_every_locator_has_points_in_every_day(self):
        rng = inputs.random.Random(0)
        rows = inputs.gen_points(rng, ["t1"])
        per = {}
        for _, name, ts, _ in rows:
            per.setdefault(name, set()).add((inputs.NOW_MS - ts - 1) // inputs.DAY_MS)
        self.assertTrue(all(days == set(range(inputs.CORPUS_DAYS)) for days in per.values()))

    def test_ingest_plan_tracks_the_probe_bucket(self):
        with tempfile.TemporaryDirectory() as d:
            plan = inputs.generate("dashboard_read", 4, d, ingest_ops=4)
        for op in plan["ingest"]:
            body = json.loads(op["body"])
            self.assertEqual(len(body), inputs.POST_POINTS)
            probe = body[-1]
            self.assertEqual(probe["metricName"], op["probe"])
            self.assertEqual(probe["collectionTime"] - probe["collectionTime"] % inputs.SLOT_MS, op["slot"])
            self.assertGreaterEqual(op["num_points"], 1)


class ChecksTest(unittest.TestCase):

    def test_views_5m_against_duckdb(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "points.parquet")
            t0 = inputs.NOW_MS - inputs.DAY_MS
            inputs.write_points(path, [("t", "a.b", t0 + 1000, 1.0), ("t", "a.b", t0 + 2000, 3.0),
                                       ("t", "a.b", t0 + inputs.SLOT_MS, 5.0)])
            con = checks.duckdb.connect()
            con.execute(f"CREATE VIEW points AS SELECT * FROM read_parquet('{path}')")
            oracle = {"tenant": "t", "name": "a.b", "from": t0, "to": inputs.NOW_MS}
            good = {"metrics": [{"values": [
                {"timestamp": t0, "average": 2.0, "num_points": 2, "min_v": 1.0, "max_v": 3.0},
                {"timestamp": t0 + inputs.SLOT_MS, "average": 5.0, "num_points": 1, "min_v": 5.0, "max_v": 5.0}]}]}
            self.assertEqual(checks.views_5m(con, json.dumps(good), oracle), [])
            good["metrics"][0]["values"][0]["num_points"] = 3
            self.assertEqual(len(checks.views_5m(con, json.dumps(good), oracle)), 1)


if __name__ == "__main__":
    unittest.main()
