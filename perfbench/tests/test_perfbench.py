"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests     # from the repository root
"""
import contextlib
import filecmp
import io
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import analyze  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from stats import percentile, summary  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


class Scratch(unittest.TestCase):
    def setUp(self):
        base = os.path.join(ROOT, ".bench_work")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertFalse(cmp.left_only or cmp.right_only or cmp.diff_files)
        for f in cmp.common_files:
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False))
        for d in cmp.common_dirs:
            self.same_tree(os.path.join(a, d), os.path.join(b, d))


class GeneratedInput(Scratch):
    def test_same_seed_same_backlog_bytes(self):
        a, b, c = (os.path.join(self.dir, x) for x in "abc")
        la = gen.write_backlog(a, 7, 6, 4)
        lb = gen.write_backlog(b, 7, 6, 4)
        gen.write_backlog(c, 8, 6, 4)
        self.same_tree(a, b)
        self.assertEqual(la, lb)
        self.assertNotEqual(open(os.path.join(a, "b000000.json")).read(),
                            open(os.path.join(c, "b000000.json")).read())
        # modification times fix the file source's read order
        mt = [os.path.getmtime(os.path.join(a, f)) for f in sorted(os.listdir(a))]
        self.assertEqual(mt, sorted(set(mt)))

    def test_same_seed_same_history_bytes(self):
        a, b = os.path.join(self.dir, "a"), os.path.join(self.dir, "b")
        gen.write_history(a, 3, 500)
        gen.write_history(b, 3, 500)
        self.same_tree(a, b)

    def test_trade_keys_unique(self):
        log = gen.write_backlog(os.path.join(self.dir, "k"), 1, 20, 20, late_from=5)
        keys = [(s, t) for s, t, _, _, _, _ in log]
        self.assertEqual(len(keys), len(set(keys)))

    def test_late_trades_only_from_late_file_and_beyond_watermarks(self):
        log = gen.write_backlog(os.path.join(self.dir, "l"), 2, 30, 20, late_from=10)
        late = [(k, r) for k, r in enumerate(log) if r[5]]
        self.assertGreater(len(late), 5)
        self.assertLess(len(late), 3 * gen.LATE_SHARE * len(log))
        for k, (_, t_ms, _, _, fi, _) in late:
            self.assertGreaterEqual(fi, 10)
            # trade k is due 5 ms apart (200 trades/s of event time)
            self.assertLessEqual(t_ms, gen.BACKLOG_BASE_MS + 5 * k - gen.LATE_MS)
        on_time = gen.write_backlog(os.path.join(self.dir, "m"), 2, 30, 20)
        self.assertFalse(any(r[5] for r in on_time))


class Percentiles(unittest.TestCase):
    def test_summary_reports_sample_counts(self):
        s = summary([5.0, 1.0, 3.0, 2.0, 4.0], effective=2)
        self.assertEqual((s["p50"], s["n"], s["n_eff"]), (3.0, 5, 2))
        self.assertAlmostEqual(s["p90"], 4.6)
        empty = summary([])
        self.assertEqual((empty["p50"], empty["n"]), (None, 0))

    def test_percentile_interpolates(self):
        self.assertEqual(percentile([10.0], 90), 10.0)
        self.assertEqual(percentile([0.0, 10.0], 50), 5.0)
        with self.assertRaises(ValueError):
            percentile([], 50)


class Expectations(unittest.TestCase):
    def test_sliding_windows_skip_late_trades(self):
        t = lambda s, ms, late=0: {"symbol": s, "t_ms": ms, "price": 2.0, "volume": 0.5,
                                   "late": late, "created_ms": ms + 1.0, "phase": "measure"}
        w = analyze.expected_windows([t("A", 25_000), t("A", 26_000, late=1)], 30_000, 10_000)
        # a trade at 25 s lies in the 30 s windows starting at 0, 10 and 20 s
        self.assertEqual(sorted(w), [("A", 0), ("A", 10_000), ("A", 20_000)])
        self.assertEqual({v["n"] for v in w.values()}, {1})
        self.assertEqual(w[("A", 0)]["usd"], 1.0)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 1, "parent": 0, "name": "a", "start_ms": 0.0, "end_ms": 10.0},
                 {"id": 2, "parent": 1, "name": "b", "start_ms": 1.0, "end_ms": 4.0},
                 {"id": 3, "parent": 1, "name": "b", "start_ms": 3.0, "end_ms": 6.0}]
        self.assertEqual(analyze.self_times(spans), {"a": 5.0, "b": 6.0})


def layer_fixture(work, workload):
    """run.layers() over a minimal traced run: one data batch per query,
    empty stores, one round of the backfill set (a probe round outside
    backfill_batch)."""
    dur = {k: 10 for k in analyze.PHASES + ["triggerExecution"]}
    state = [{"numRowsTotal": 1, "memoryUsedBytes": 2, "commitTimeMs": 3,
              "numRowsDroppedByWatermark": 4}]
    batches = {q: [{"id": 0, "start": 0.0, "commit": 100.0, "rows": 5, "dur": dur,
                    "state": state, "watermark": None}] for q in analyze.QUERIES}
    with open(os.path.join(work, "engine.json"), "w") as f:
        json.dump({"by_tag": {}, "by_batch": []}, f)
    r = 0 if workload == "backfill_batch" else -1
    rounds = [{"round": r, "query": n, "ms": 1.0, "ok": True}
              for n in run.BACKFILL_QUERIES + ("_round",)]
    jvm = {"extra": {"decode": {"ms": 5.0, "rows_in": 4, "rows_out": 40},
                     "backfill": rounds,
                     "local1_ms": "10"}, "rewrites": {}}
    inp = {"log": [("S", 1, 1.0, 1.0, 0, 0)] * 10, "gen_ms": [1.0, 1.0, 1.0]}

    class A:
        trace, seed = 1, 0
    A.workload = workload
    return run.layers(A, work, jvm, batches, inp, [1.0, 2.0], 0, 100.0)


class MetricNames(Scratch):
    def report(self):
        e2e = {n: (1.5, "u", 3) for n in run.E2E_METRICS}
        layers, spans = layer_fixture(self.dir, "replay_backlog")
        return {"e2e": e2e, "named": {}, "checks": [], "errors": [], "hygiene": {},
                "attempted": 3, "failed": 0, "correct": True, "layers": layers, "spans": spans}

    def printed(self, trace):
        class A:
            workload, seed = "replay_backlog", 0
        A.trace = trace
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            run.emit(A, self.report(), SPEC, self.dir)
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def test_end_to_end_names_match_benchmark_json(self):
        got = self.printed(0)
        self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(got["metrics"]), [m["name"] for m in SPEC["end_to_end"]])
        for m in SPEC["end_to_end"]:
            self.assertEqual(got["metrics"][m["name"]]["unit"], m["unit"])

    def test_per_layer_names_match_benchmark_json(self):
        want = sorted(m["name"] for m in SPEC["per_layer"])
        for w in run.WORKLOADS:
            self.assertEqual(sorted(layer_fixture(self.dir, w)[0]), want, w)
        got = self.printed(1)
        self.assertEqual(list(got["metrics"]), [m["name"] for m in SPEC["per_layer"]])

    def test_setup_metric_contract(self):
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in SPEC["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
