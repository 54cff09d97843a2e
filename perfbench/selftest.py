"""Self-tests of the benchmark's own machinery (no Spark session):

    python3 perfbench/selftest.py

* the fixed star schema matches its recorded checksums, and seeded
  input generation is a pure function of the seed;
* the correctness gate counts a perturbed result as failed, through the
  same path a timed operation takes;
* BENCHMARK.json lists exactly the metrics the runner reports;
* SQL-metric parsing and span self-time arithmetic.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from check import Outcomes, digest  # noqa: E402
from spark_stats import metric_total  # noqa: E402
from spans import Tracer  # noqa: E402

_TMP = os.path.join(HERE, ".work", "selftest")
_SPEC = {"copies": 2, "changes": {"n_files": 2, "periods_per_file": 2, "rows_per_period": 5}}


class Generation(unittest.TestCase):
    def test_star_schema_matches_its_checksums(self):
        gen.verify_star()

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        os.makedirs(_TMP, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=_TMP) as a, tempfile.TemporaryDirectory(dir=_TMP) as b:
            _, m1 = gen.materialize(a, 7, _SPEC)
            _, m2 = gen.materialize(b, 7, _SPEC)
            _, m3 = gen.materialize(b, 8, _SPEC)
        self.assertEqual(m1["digest"], m2["digest"])
        self.assertNotEqual(m1["digest"], m3["digest"])
        base = gen.read_star(["documents"])["documents"].num_rows
        self.assertEqual(m1["rows"]["documents"], 2 * base)

    def test_seed_changes_documents_and_feed_not_embeddings(self):
        base = gen.read_star(["customer", "orders", "documents", "embeddings"])
        a, b = gen.enlarge(1, base, 2), gen.enlarge(2, base, 2)
        self.assertFalse(a["documents"].equals(b["documents"]))
        self.assertTrue(a["embeddings"].equals(b["embeddings"]))
        fa = gen.change_files(1, base, 1, 2, 5)
        fb = gen.change_files(2, base, 1, 2, 5)
        self.assertFalse(fa[0][1].equals(fb[0][1]))
        self.assertTrue(fa[0][0].equals(fb[0][0]))  # the initial dimension

    def test_inputs_are_reused_per_seed(self):
        os.makedirs(_TMP, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=_TMP) as root:
            d1, _ = gen.materialize(root, 3, _SPEC)
            stamp = os.path.getmtime(os.path.join(d1, "star", "documents.parquet"))
            d2, _ = gen.materialize(root, 3, _SPEC)
            self.assertEqual(d1, d2)
            self.assertEqual(stamp, os.path.getmtime(os.path.join(d2, "star", "documents.parquet")))

    def test_tile_order_follows_the_seed(self):
        from workloads import BiDashboard

        class _Ctx:
            seed = 5

        w = BiDashboard()
        self.assertEqual(w.order(_Ctx, 1), w.order(_Ctx, 1))
        orders = {tuple(w.order(_Ctx, i)) for i in range(5)}
        self.assertGreater(len(orders), 1)
        self.assertEqual(sorted(w.order(_Ctx, 2)), sorted(w.ops))

    def test_enlarged_copies_are_disjoint_and_keep_cosines(self):
        import numpy as np

        t = gen.enlarge(1, gen.read_star(["documents", "embeddings"]), 3)
        docs = t["documents"].to_pandas()
        self.assertEqual(docs.doc_id.nunique(), len(docs))
        vocab = [set(" ".join(docs.text[docs.doc_id // 100_000_000 == c]).split())
                 for c in range(3)]
        self.assertFalse(vocab[0] & vocab[1] or vocab[1] & vocab[2])
        emb = t["embeddings"].to_pandas()
        n = len(emb) // 3
        v = np.stack(emb.embedding.values)
        np.testing.assert_allclose(v[:n] @ v[:n].T, v[2 * n:] @ v[2 * n:].T, atol=1e-5)


class CorrectnessGate(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({"b": [2.5, 1.0, None], "a": [3, 1, 2],
                             "d": pd.to_datetime(["2020-01-01", "2020-01-02", None])})

    def test_digest_ignores_row_and_column_order_and_int_float_repr(self):
        f = self.frame()
        g = f[["d", "a", "b"]].iloc[::-1].copy()
        g["a"] = g["a"].astype(float)
        self.assertEqual(digest(f), digest(g))

    def test_perturbed_result_is_counted_as_failed(self):
        """Drive query_op, the timed path, with a registry entry whose
        result has one value changed."""
        from business_intelligence_and_data_warehouse_spark.plans import QUERIES
        from workloads import Ctx, query_op

        good = self.frame()
        bad = good.copy()
        bad.loc[0, "b"] = 2.5000001
        results = {"good": good, "bad": bad}

        class _DF:
            def __init__(self, pdf):
                self._pdf = pdf

            def toPandas(self):
                return self._pdf

        outcomes = Outcomes()
        ctx = Ctx(None, "/nonexistent", {}, 1, "/nonexistent", Tracer("t", False), None, outcomes)
        saved = dict(QUERIES)
        try:
            for name in results:
                QUERIES[f"selftest_{name}"] = lambda spark, star, n=name: _DF(results[n])
            want = digest(good)
            self.assertIsNotNone(query_op(ctx, "selftest_good", want))
            self.assertEqual((outcomes.attempted, outcomes.failed), (1, 0))
            self.assertIsNotNone(query_op(ctx, "selftest_bad", want))
            self.assertEqual((outcomes.attempted, outcomes.failed), (2, 1))
            QUERIES["selftest_raises"] = lambda spark, star: 1 / 0
            self.assertIsNone(query_op(ctx, "selftest_raises", want))
        finally:
            QUERIES.clear()
            QUERIES.update(saved)
        self.assertEqual((outcomes.attempted, outcomes.failed), (3, 2))
        self.assertAlmostEqual(outcomes.failed_share, 2 / 3)


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        import run

        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         run.per_layer_units())
        from workloads import WORKLOADS

        for w in bench["workloads"]:
            self.assertIn(w["name"], WORKLOADS)


class Layers(unittest.TestCase):
    def test_metric_total(self):
        self.assertAlmostEqual(metric_total("1.5 s"), 1.5)
        self.assertAlmostEqual(metric_total("total (min, med, max (stageId: taskId))\n"
                                            "250 ms (10 ms, 20 ms, 30 ms (stage 1.0: task 2))"),
                               0.25)
        self.assertEqual(metric_total("total (min, med, max)\n3.0 MiB (1.0 MiB, ...)"), 3 << 20)
        self.assertEqual(metric_total(None), 0.0)

    def test_self_time_subtracts_covered_child_intervals(self):
        tr = Tracer("t", True)
        with tr.span("op", "op") as op:
            pass
        op["start"], op["end"] = 0.0, 10.0
        tr.child(op, "a", "build", 1.0, 4.0)
        tr.child(op, "b", "exec", 3.0, 6.0)  # overlaps a by 1 s
        self.assertAlmostEqual(tr.self_seconds()["op"], 10.0 - 5.0)


if __name__ == "__main__":
    unittest.main()
