"""Tests of the benchmark itself:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import shutil
import subprocess
import unittest

import run

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def canned_records():
    """Raw JVM records of a small traced run: a job, an API request, a view."""
    layers = {"jobs": 3, "stages": 3, "tasks": 6, "task_ms": 40, "catalyst_ms": 5.0,
              "shuffle_bytes": 10, "input_bytes": 2000, "input_records": 50,
              "output_bytes": 300, "spill_bytes": 0, "job_ms": 30.0,
              "driver_gap_ms": 70.0, "files_written": 4, "bytes_written": 900}
    etl = {f"etl.{s}_ms": 10.0 + k for k, s in enumerate(run.ETL_STAGES)}

    def op(i, kind, ms, traced, extra=None, rows=0):
        r = {"type": "op", "i": i, "kind": kind, "id": f"op{i}", "ms": ms,
             "traced": traced, "error": None, "csv_bytes": 100, "rows": rows}
        r.update(extra or {})
        return r

    return ([{"type": "setup", "rep": k, "warmup": k == 0, "s": s}
             for k, s in enumerate((9.0, 2.0, 2.5, 3.0, 2.2))]
            + [op(0, "job", 100.0, True, dict(layers, **etl)),
               op(1, "job", 90.0, False),
               op(2, "api.data.study", 20.0, True, layers, rows=25),
               op(3, "api.view.low_quality", 30.0, False, rows=7),
               {"type": "summary", "cores": 4, "failed_ids": [], "errors": [],
                "live_files": 12, "live_bytes": 3400, "cache_mb": 0.0}])


class PercentileTest(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(run.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(run.percentile([7], 0.95), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(run.beyond(40, 0.75), 10)
        self.assertEqual(run.beyond(39, 0.75), 9)
        self.assertIsNone(run.tail_percentile(list(range(39)), 0.75))
        self.assertEqual(run.tail_percentile(list(range(40)), 0.75), 29.25)
        self.assertIsNone(run.tail_percentile(list(range(199)), 0.95))
        self.assertAlmostEqual(run.tail_percentile(list(range(200)), 0.95), 189.05)


class ResultTest(unittest.TestCase):
    def check(self, result, specs):
        line = json.loads(json.dumps(result))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(line["attempted"], int)
        self.assertIsInstance(line["failed"], int)
        self.assertGreaterEqual(line["attempted"], 1)
        self.assertEqual(set(line["metrics"]), {m["name"] for m in specs})
        for m in specs:
            got = line["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_untraced_result_carries_every_end_to_end_metric(self):
        result = run.summarise(canned_records(), trace=False)
        self.check(result, SPEC["end_to_end"])
        self.assertTrue(result["correct"])
        # the median of the set-ups after the warm-up
        self.assertEqual(result["metrics"]["setup_s"]["value"], 2.35)

    def test_traced_result_carries_every_per_layer_metric(self):
        result = run.summarise(canned_records(), trace=True)
        self.check(result, SPEC["per_layer"])
        self.assertEqual(result["metrics"]["etl.ingest_ms"]["value"], 11.0)
        self.assertEqual(result["metrics"]["api.records_read_per_row"]["value"], 2.0)

    def test_failed_operation_is_counted_and_not_timed(self):
        records = canned_records()
        next(r for r in records if r.get("i") == 0)["error"] = "status failed"
        result = run.summarise(records, trace=False)
        self.assertFalse(result["correct"])
        self.assertEqual((result["attempted"], result["failed"]), (4, 1))
        self.assertEqual(result["metrics"]["op_p50_ms"]["value"], 30.0)

    def test_self_time_subtracts_children(self):
        spans = [{"type": "span", "id": 0, "parent": -1, "start": 0.0, "end": 100.0},
                 {"type": "span", "id": 1, "parent": 0, "start": 10.0, "end": 40.0},
                 {"type": "span", "id": 2, "parent": 0, "start": 30.0, "end": 60.0}]
        out = run.trace_file(spans)["spans"]
        self.assertEqual([s["self_ms"] for s in out], [50.0, 30.0, 30.0])


class GeneratorTest(unittest.TestCase):
    def gen(self, classes, jars, seed, out):
        subprocess.run(run.java_cmd(classes, jars, ["--gen-only", str(out), "--seed", str(seed)],
                                    out.parent), check=True, stderr=subprocess.DEVNULL)
        return sorted(p.name for p in out.iterdir())

    def test_same_seed_gives_identical_bytes(self):
        classes, jars = run.build()
        base = run.BUILD / "tmp" / "gen-test"
        shutil.rmtree(base, ignore_errors=True)
        base.mkdir(parents=True)
        try:
            a = self.gen(classes, jars, 7, base / "a")
            b = self.gen(classes, jars, 7, base / "b")
            c = self.gen(classes, jars, 8, base / "c")
            self.assertEqual(a, b)
            match, mismatch, errors = filecmp.cmpfiles(base / "a", base / "b", a, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertEqual(len(match), len(a))
            _, differ, _ = filecmp.cmpfiles(base / "a", base / "c", a, shallow=False)
            self.assertTrue(differ)
        finally:
            shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
