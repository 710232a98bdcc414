#!/usr/bin/env python3
"""Tests of the benchmark's own code: the percentile rule, span self-time
arithmetic, and seed determinism of the generated inputs and the draws.

    python3 perfbench/test_bench.py      (from the repository root)

The draw tests build the benchmark JVM first if needed (perfbench/build.py).
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 9 + [20.0]), 0.0)
        vals = [float(v) for v in range(1, 11)]
        self.assertAlmostEqual(stats.spread(vals), (8.25 - 2.75) / 5.5)


def span(i, parent, name, t0, t1, op=0, **attrs):
    return dict(id=i, parent=parent, op=op, name=name, t0=t0, t1=t1, **attrs)


def job(i, parent, t0, t1, op=0, **kw):
    base = dict(stages=1, tasks=4, failed_tasks=0, task_s=1.0, task_cpu_s=0.5,
                shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
    base.update(kw)
    return span(i, parent, "job", t0, t1, op, **base)


class ReferenceCompare(unittest.TestCase):
    def test_float_tolerances(self):
        import check
        import duckdb
        con = duckdb.connect()

        def rel(*vals):
            return " UNION ALL ".join(f"SELECT 'a' AS k, CAST({v!r} AS DOUBLE) AS corr" for v in vals)
        ref = rel(-0.00014458987429023055, 0.5)
        # one ulp of a moment sum apart: 4.4e-12 relative, 6.4e-16 absolute
        near = rel(-0.00014458987428959006, 0.5)
        self.assertIsNotNone(check.compare(con, ref, near))
        self.assertIsNone(check.compare(con, ref, near, abs_tol={"corr": 1e-13}))
        self.assertIsNone(check.compare(con, ref, rel(-0.00014458987429023055, 0.5 + 1e-14)))
        self.assertIsNotNone(check.compare(con, ref, rel(-0.00014458987429023055, 0.5 + 1e-11)))
        self.assertIsNotNone(check.compare(con, ref, rel(-0.00014459, 0.5), abs_tol={"corr": 1e-13}))
        self.assertIsNotNone(check.compare(con, ref, rel(-0.00014458987429023055), abs_tol={"corr": 1e-13}))


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children_clipped_to_parent(self):
        self.assertEqual(stats.covered([(10, 20), (15, 30)], 0, 100), 20)
        self.assertEqual(stats.covered([(10, 20), (30, 40)], 0, 100), 20)
        self.assertEqual(stats.covered([(-10, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(stats.covered([(10, 20), (12, 18), (20, 25)], 0, 100), 15)
        self.assertEqual(stats.covered([], 0, 100), 0)

    def test_nested_spans(self):
        spans = [span(0, -1, "op", 0, 100), span(1, 0, "build", 0, 40),
                 job(2, 1, 10, 20), job(3, 1, 15, 30), span(4, 0, "exec", 50, 90),
                 job(5, 4, 55, 85)]
        kids = stats.children_of(spans)
        self.assertEqual(stats.self_time(spans[0], kids), 100 - 40 - 40)
        self.assertEqual(stats.self_time(spans[1], kids), 40 - 20)
        self.assertEqual(stats.self_time(spans[4], kids), 40 - 30)
        self.assertEqual(stats.self_time(spans[2], kids), 10)

    def test_per_layer_uses_self_time_and_files_orphan_jobs(self):
        ns = 1_000_000_000
        spans = [span(0, -1, "op", 0, 10 * ns, item="q"),
                 span(1, 0, "build", 0, 4 * ns, alloc_mb=8.0),
                 job(2, 1, 1 * ns, 3 * ns),
                 span(3, 0, "exec", 5 * ns, 9 * ns, gc_s=0.5, storage_mb=3.0, storage_blocks=2),
                 job(4, -1, 6 * ns, 8 * ns, task_s=8.0)]
        m = stats.per_layer(spans, cores=4)
        self.assertAlmostEqual(m["chain.build_s"], 4.0)
        self.assertAlmostEqual(m["chain.driver_s"], 2.0)
        self.assertAlmostEqual(m["chain.job_s"], 2.0)
        self.assertEqual(m["chain.jobs"], 1)
        self.assertEqual(m["exec.jobs"], 1)  # the orphan job lands under exec
        self.assertAlmostEqual(m["exec.driver_gap_s"], 2.0)
        self.assertAlmostEqual(m["exec.util"], 8.0 / (4.0 * 4))
        self.assertAlmostEqual(m["storage.peak_mb"], 3.0)
        self.assertEqual(m["trace.ops"], 1)
        self.assertFalse([k for k in m if k.startswith("kernel.")])

    def test_kernel_cpu_per_pass_over_a_pipeline(self):
        # two passes over pipeline "p" (items a and b) and one op of "r"
        spans = [span(0, -1, "op", 0, 10, op=0, item="a", pipeline="p"),
                 job(1, 0, 1, 2, op=0, task_cpu_s=1.0), job(2, 0, 2, 3, op=0, task_cpu_s=2.0),
                 span(3, -1, "op", 10, 20, op=1, item="b", pipeline="p"),
                 job(4, 3, 11, 12, op=1, task_cpu_s=4.0),
                 span(5, -1, "op", 20, 30, op=2, item="a", pipeline="p"),
                 job(6, 5, 21, 22, op=2, task_cpu_s=5.0),
                 span(7, -1, "op", 30, 40, op=3, item="c", pipeline="r")]
        m = stats.per_layer(spans, cores=4)
        self.assertAlmostEqual(m["kernel.p_cpu_s"], (3.0 + 5.0) / 2 + 4.0)
        self.assertAlmostEqual(m["kernel.r_cpu_s"], 0.0)


class SeedDeterminism(unittest.TestCase):
    SIZES = {"lineitem": (3000, 3), "orders": (800, 2), "documents": (50, 2), "embeddings": (60, 2)}

    def generate(self, seed):
        scratch = os.path.join(ROOT, ".bench_build", "test-tmp")
        os.makedirs(scratch, exist_ok=True)
        d = tempfile.mkdtemp(prefix="gen-", dir=scratch)
        self.addCleanup(shutil.rmtree, d, True)
        gen.generate(d, seed, self.SIZES)
        return d

    @staticmethod
    def files(d):
        return sorted(os.path.relpath(os.path.join(b, f), d)
                      for b, _, fs in os.walk(d) for f in fs)

    def test_generated_inputs(self):
        a, b, c = self.generate(7), self.generate(7), self.generate(8)
        names = self.files(a)
        self.assertEqual(len(names), 9)
        self.assertEqual(names, self.files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
        self.assertEqual(sorted(mismatch), names)

    def draw(self, workload, seed, count=60):
        import build
        cp, _ = build.build(ROOT)
        out = subprocess.run(
            ["java", "-cp", cp, "graftbench.Main", "draw", "--workload", workload,
             "--seed", str(seed), "--count", str(count),
             "--costs", os.path.join(HERE, "catalog_costs.tsv")],
            cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout
        return out.split()

    def test_draws(self):
        for w in ("catalog", "bulk_etl"):
            with self.subTest(workload=w):
                a, b, c = self.draw(w, 11), self.draw(w, 11), self.draw(w, 12)
                self.assertEqual(len(a), 60)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_catalog_blocks_are_stratified(self):
        costs = {}
        with open(os.path.join(HERE, "catalog_costs.tsv")) as f:
            for line in f:
                if not line.startswith("#"):
                    q, s = line.split()
                    costs[q] = float(s)
        ranked = sorted(costs, key=lambda q: (costs[q], q))
        strata = 12
        draw = self.draw("catalog", 5, count=3 * strata)
        for i in range(3):
            block = draw[i * strata:(i + 1) * strata]
            classes = sorted(ranked.index(q) * strata // len(ranked) for q in block)
            self.assertEqual(classes, list(range(strata)))


if __name__ == "__main__":
    unittest.main()
