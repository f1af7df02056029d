"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests   (from a checkout root)

The smoke tests build graft and run each workload at a tiny input scale, so
they take a few minutes; the others take seconds.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

TMP = os.path.join(build.BUILD, "test-tmp")


def digest_tree(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_same_seed_same_inputs(self):
        for w in gen.GENERATORS:
            a, meta_a = gen.ensure(os.path.join(TMP, "a"), w, 7, 0.02)
            b, meta_b = gen.ensure(os.path.join(TMP, "b"), w, 7, 0.02)
            c, _ = gen.ensure(os.path.join(TMP, "c"), w, 8, 0.02)
            self.assertEqual(meta_a, meta_b, w)
            self.assertEqual(digest_tree(a), digest_tree(b), w)
            self.assertNotEqual(digest_tree(a), digest_tree(c), w)

    def test_cache_hit_returns_same_set(self):
        d1, m1 = gen.ensure(TMP, "curation", 3, 0.02)
        mtime = os.path.getmtime(os.path.join(d1, "meta.json"))
        d2, m2 = gen.ensure(TMP, "curation", 3, 0.02)
        self.assertEqual((d1, m1), (d2, m2))
        self.assertEqual(mtime, os.path.getmtime(os.path.join(d2, "meta.json")))

    def test_expected_index_matches_corpus(self):
        d, meta = gen.ensure(TMP, "text-index", 5, 0.02)
        index = {}
        for name in meta["files"]:
            with open(os.path.join(d, "text", name)) as f:
                for tok in "".join(c if c.isalnum() else " "
                                   for c in f.read()).lower().split():
                    index.setdefault(tok, set()).add(name)
        want = [f"{w} -> [{', '.join(sorted(fs))}]"
                for w, fs in sorted(index.items())]
        with open(os.path.join(d, "expected_index.txt")) as f:
            self.assertEqual(f.read().splitlines(), want)

    def test_table_model_digest_is_incremental_checksum(self):
        import random
        rng = random.Random(1)
        rows = [gen.lc_row(rng, k) for k in range(50)]
        model = gen.TableModel(rows)
        for k in range(0, 50, 3):
            model.pop(k)
        model.put(gen.lc_row(rng, 7))
        model.put(gen.lc_row(rng, 99))
        self.assertEqual(model.digest, gen.checksum(model.rows.values()))

    def test_lifecycle_expectations_replay(self):
        """Replaying the generated ops on a plain dict gives the recorded
        read digests and table digests."""
        import pyarrow.parquet as pq
        d, _ = gen.ensure(TMP, "table-lifecycle", 9, 0.02)
        t = pq.read_table(os.path.join(d, "base.parquet")).to_pylist()
        rows = {r["k"]: (r["k"], r["b"], r["v"], r["qty"], r["flag"])
                for r in t}
        with open(os.path.join(d, "ops.jsonl")) as f:
            ops = [json.loads(line) for line in f]
        for op in ops:
            kind = op["op"]
            if kind in ("append", "upsertBatch", "mergeCoW"):
                for k in op.get("remove", []):
                    rows.pop(k, None)
                for r in op["rows"]:
                    rows[r[0]] = tuple(r)
            elif kind == "deleteWhere":
                for k in range(op["lo"], op["hi"]):
                    rows.pop(k, None)
            elif kind == "updateWhere":
                for k in range(op["lo"], op["hi"]):
                    if k in rows:
                        r = rows[k]
                        rows[k] = (r[0], r[1], r[2] + 1, r[3], r[4])
            elif kind == "point":
                hit = [r for r in rows.values() if r[1] == op["b"]]
                self.assertEqual(gen.checksum(hit), op["expect"])
            elif kind == "range":
                hit = [r for k, r in rows.items() if op["lo"] <= k <= op["hi"]]
                self.assertEqual(gen.checksum(hit), op["expect"])
            elif kind == "sql_where":
                hit = [r for k, r in rows.items() if k == op["k"]]
                self.assertEqual(gen.checksum(hit), op["expect"])
            self.assertEqual(gen.checksum(rows.values()), op["table_after"])


class ArithmeticTest(unittest.TestCase):
    def test_percentiles(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(metrics.median(xs), 2.5)
        self.assertAlmostEqual(metrics.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(metrics.percentile([5], 90), 5)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 4)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_spread(self):
        self.assertAlmostEqual(metrics.spread([10] * 10), 0.0)
        vals = [9, 10, 10, 10, 10, 10, 10, 10, 10, 11]
        self.assertAlmostEqual(metrics.spread(vals), 0.0)

    def test_union_and_self_time(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        # children overlap each other and stick out of the parent
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 5), (9, 12)]),
                         10 - 4 - 1)
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_record_attribution(self):
        def span(i, parent, name, layer, t0, t1):
            return {"id": i, "parent": parent, "name": name, "layer": layer,
                    "phase": "measure", "pass": 1, "traced": True,
                    "t0": t0, "t1": t1, "ok": True, "error": "", "attrs": {}}
        rec = metrics.Record({
            "meta": {"peak_rss_kb": 1024, "cores": 2, "workload": "x",
                     "finish": {}},
            "spans": [span(0, -1, "pass", "bench", 0, 10),
                      span(1, 0, "a", "api", 1, 5),
                      span(2, 0, "b", "sources", 6, 9)],
            "jobs": [{"id": 0, "group": "pb-1", "t0": 1.5, "t1": 3,
                      "stages": [0]},
                     {"id": 1, "group": "pb-2", "t0": 6, "t1": 8,
                      "stages": [1]},
                     {"id": 2, "group": "", "t0": 0, "t1": 10,
                      "stages": [2]}],
            "stages": [{"id": i, "cpu_ns": 1e9, "tasks": 2} for i in (0, 1, 2)],
        })
        self.assertEqual(len(rec.jobs(rec.spans[0])), 2)
        self.assertEqual(rec.driver_gap(rec.spans[1]), 4 - 1.5)
        self.assertEqual(rec.driver_gap(rec.spans[0]), 10 - 3.5)
        self.assertEqual(rec.stat(rec.spans[0], "tasks"), 4)
        self.assertEqual(rec.self_by_layer(rec.spans[0]),
                         {"bench": 3, "api": 4, "sources": 3})

    def test_benchmark_json_lists_every_metric(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(spec["per_layer"], metrics.layer_units())
        self.assertLessEqual(len(spec["per_layer"]), 128)
        fake = metrics.Record({"meta": {"peak_rss_kb": 1, "cores": 1,
                                        "workload": "", "finish": {}},
                               "spans": [], "jobs": [], "stages": []})
        with self.assertRaises(ValueError):  # no passes, no metrics
            metrics.end_to_end(fake)
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         ["setup_s", "pass_s", "peak_rss_mb"])


class SmokeTest(unittest.TestCase):
    """Each workload end to end at a tiny scale: the run must finish, check
    its outputs and print a well-formed result line."""

    def run_bench(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
             "--scale", "0.5"],
            cwd=build.ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(res["correct"], r.stdout)
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in
                 spec["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(res["metrics"]), sorted(names))
        return res

    def test_text_index(self):
        res = self.run_bench("text-index", 0)
        self.assertGreater(res["metrics"]["pass_s"]["value"], 0)

    def test_text_index_traced_with_curation_probe(self):
        res = self.run_bench("text-index", 1)
        m = res["metrics"]
        self.assertGreater(m["api.emits"]["value"], 0)
        self.assertGreater(m["operators.q154_suffix_refresh_s"]["value"], 0)
        self.assertGreater(m["Artifacts.pqIndex_s"]["value"], 0)

    def test_table_lifecycle_traced(self):
        res = self.run_bench("table-lifecycle", 1)
        m = res["metrics"]
        self.assertGreater(m["sources.mergeCoW.jobs"]["value"], 0)
        self.assertGreater(m["streaming.upsert_batch_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
