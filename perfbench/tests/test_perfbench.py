"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests

Fast tests cover the record schema, the correctness judge and the seeded
inputs. Set PERFBENCH_SLOW=1 to also run the benchmark end to end with a
planted wrong result (builds the program on first use).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import fingerprint  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


def digest(directory):
    h = hashlib.sha256()
    for f in sorted(os.listdir(directory)):
        with open(os.path.join(directory, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


def table_fingerprints(directory):
    return {f: fingerprint.of(tuple(r.values()) for r in pq.read_table(os.path.join(directory, f)).to_pylist())
            for f in sorted(os.listdir(directory)) if f.endswith(".parquet")}


def catalog_record(workload, expected, traced=False):
    """A harness record with two queries per pass, as CatalogRun writes it."""
    names = list(expected)

    def query(n, i):
        q = {"name": n, "latency_ms": 100.0 + i, "build_ms": 10.0, "plan_ms": 2.0,
             "action_ms": 80.0 + i, "driver_gc_ms": 1, "release_ms": 3.0, "check_ms": 1.0,
             "fingerprint": json.dumps(expected[n])}
        if traced:
            q.update({"build_jobs": 1, "barrier_count": 0, "barrier_mb": 0.0, "driver_gap_ms": 40.0,
                      "slot_busy_frac": 0.2, "jobs": 3, "stages": 4, "tasks": 8, "task_run_ms": 50,
                      "task_cpu_ms": 40.0, "task_gc_ms": 0, "shuffle_read_bytes": 10,
                      "shuffle_write_bytes": 10, "spill_bytes": 0, "records_written": 0,
                      "bytes_written": 0})
        return q

    def one_pass(t):
        p = {"pass_ms": 250.0, "cpu_s": 0.8, "retained_heap_mb": 90.0, "settle_ms": 300.0, "traced": t,
             "disk_bytes": 4000, "queries": [query(n, i) for i, n in enumerate(names)]}
        if t:
            p.update({"loads": [{"table": "orders", "ms": 5.0, "jobs": 1}],
                      "spans": [{"id": 1, "parent": 0, "name": "pass", "kind": "pass",
                                 "start_ms": 0.0, "dur_ms": 250.0, "self_ms": 10.0}]})
        return p

    passes = [one_pass(False)] + ([one_pass(True), one_pass(False)] if traced else [])
    return {"workload": workload, "seed": 7, "cores": 4, "conf": {"spark.sql.adaptive.enabled": "true"},
            "setup_s": 9.5, "cold_loads": [{"table": "orders", "ms": 50.0}], "order": names,
            "passes": passes, "ingest": {"rows": 100, "ms": 50.0}, "input_rows": 100}


class SchemaTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        self.expected = {"q1": {"rows": 3, "hash": "00000000000000aa"},
                         "q2": {"rows": 1, "hash": "00000000000000bb"}}

    def test_benchmark_json_names_the_metrics_the_harness_reports(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in self.bench["workloads"]], workloads.WORKLOADS)

    def test_end_to_end_record_schema(self):
        rec = catalog_record("catalog", self.expected)
        values = metrics.end_to_end(rec, "catalog")
        self.assertEqual(set(values), set(metrics.END_TO_END))
        for k, v in values.items():
            self.assertIsInstance(v, float, k)
            self.assertGreater(v, 0, k)

    def test_per_layer_record_schema(self):
        rec = catalog_record("catalog", self.expected, traced=True)
        values = metrics.per_layer(rec, "catalog")
        self.assertEqual(set(values), set(metrics.PER_LAYER))
        self.assertAlmostEqual(values["trace.overhead_frac"], 0.0)
        self.assertEqual(values["exec.jobs"], 6.0)
        verdict = {"attempted": 4, "failed": 0, "mismatches": []}
        out = metrics.layer_record(rec, "catalog", verdict, values)
        for key in ("workload", "seed", "conf", "metrics", "entries", "spans"):
            self.assertIn(key, out)
        self.assertEqual([e["name"] for e in out["entries"]], ["q1", "q2"])
        json.dumps(out)

    def test_latencies_of_all_passes_are_pooled(self):
        rec = catalog_record("catalog", self.expected, traced=True)
        self.assertEqual(len(metrics.query_latencies(rec, "catalog")), 6)


class JudgeTest(unittest.TestCase):
    rows = [(1, "a", 2.5), (2, "b", None), (3, "c", 1e-9)]

    def record(self, got_rows):
        expected = {"q1": fingerprint.of(self.rows)}
        rec = catalog_record("catalog", expected)
        rec["passes"][0]["queries"][0]["fingerprint"] = json.dumps(fingerprint.of(got_rows))
        return rec, expected

    def judge(self, rec, expected):
        saved = metrics.load_expected
        metrics.load_expected = lambda: expected
        try:
            return metrics.judge(rec, "catalog")
        finally:
            metrics.load_expected = saved

    def test_same_rows_in_another_order_pass(self):
        # one query and the run's source ingest
        v = self.judge(*self.record(list(reversed(self.rows))))
        self.assertEqual((v["attempted"], v["failed"]), (2, 0))

    def test_planted_wrong_result_one_row_dropped_is_failed(self):
        v = self.judge(*self.record(self.rows[:-1]))
        self.assertEqual((v["attempted"], v["failed"]), (2, 1))

    def test_source_ingest_short_of_rows_is_failed(self):
        rec, expected = self.record(self.rows)
        rec["ingest"]["rows"] = 99
        self.assertEqual(self.judge(rec, expected)["failed"], 1)

    def test_query_that_threw_is_failed(self):
        rec, expected = self.record(self.rows)
        q = rec["passes"][0]["queries"][0]
        del q["fingerprint"]
        q["error"] = "boom"
        self.assertEqual(self.judge(rec, expected)["failed"], 1)

    def test_floats_are_rounded_before_hashing(self):
        self.assertEqual(fingerprint.of([(0.1 + 0.2,)]), fingerprint.of([(0.3,)]))
        self.assertNotEqual(fingerprint.of([(0.3001,)]), fingerprint.of([(0.3,)]))

    def test_failed_batches_when_end_state_check_fails(self):
        rec = {"passes": [{"end_state": {"ok": False}, "batches": [{}, {}, {"error": "x"}]}]}
        v = metrics.judge(rec, "medallion_stream")
        self.assertEqual((v["attempted"], v["failed"]), (3, 3))
        # an unchecked pass (traced runs check their first pass only)
        rec["passes"].append({"end_state": {}, "batches": [{}, {"error": "y"}]})
        v = metrics.judge(rec, "medallion_stream")
        self.assertEqual((v["attempted"], v["failed"]), (5, 4))


class SeedTest(unittest.TestCase):
    def tmp(self):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d, ignore_errors=True)
        return d

    def gen_stream(self, seed):
        d = self.tmp()
        meta = datagen.stream_batches(d, seed, 3, 500)
        return d, meta

    def test_same_seed_gives_identical_inputs_and_fingerprints(self):
        (a, ma), (b, mb) = self.gen_stream(5), self.gen_stream(5)
        self.assertEqual(ma, mb)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(table_fingerprints(a), table_fingerprints(b))
        c, d = self.tmp(), self.tmp()
        datagen.catalog_tables(c, 0.001, workloads.CATALOG_DATA_SEED)
        datagen.catalog_tables(d, 0.001, workloads.CATALOG_DATA_SEED)
        self.assertEqual(digest(c), digest(d))
        self.assertEqual(table_fingerprints(c), table_fingerprints(d))
        for full in (False, True):
            self.assertEqual(workloads.query_order(5, full), workloads.query_order(5, full))

    def test_other_seed_changes_stream_and_order_not_query_set(self):
        (a, _), (b, _) = self.gen_stream(5), self.gen_stream(6)
        self.assertNotEqual(table_fingerprints(a), table_fingerprints(b))
        for full in (False, True):
            o5, o6 = workloads.query_order(5, full), workloads.query_order(6, full)
            self.assertNotEqual(o5, o6)
            self.assertEqual(sorted(o5), sorted(o6))
            self.assertEqual(len(set(o5)), len(o5))

    def test_stream_plants_invalid_and_replayed_rows(self):
        d, meta = self.gen_stream(9)
        rows = [r for f in sorted(os.listdir(d)) if f.endswith(".parquet")
                for r in pq.read_table(os.path.join(d, f)).to_pylist()]
        self.assertEqual(sum(r["event_timestamp"] is None for r in rows), meta["invalid"])
        self.assertGreater(meta["invalid"], 0)
        self.assertEqual(len(rows) - len({r["value"] for r in rows}), meta["replayed"])
        self.assertGreater(meta["replayed"], 0)


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "set PERFBENCH_SLOW=1")
class EndToEndTest(unittest.TestCase):
    def run_bench(self, workload, *extra):
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                              "--seed", "3", "--seconds", "1", "--trace", "0", *extra],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(out.returncode, 0)
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_planted_wrong_stream_result_is_failed(self):
        res = self.run_bench("medallion_stream", "--plant", "drop_row")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])

    def test_planted_wrong_query_result_is_failed(self):
        res = self.run_bench("catalog", "--plant", "drop_row")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertEqual(set(res["metrics"]), set(metrics.END_TO_END))


if __name__ == "__main__":
    unittest.main()
