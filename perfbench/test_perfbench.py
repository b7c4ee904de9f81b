"""Self-tests of the benchmark's own logic (no JVM, no build):

    python3 perfbench/test_perfbench.py

They cover the median and tail rule, the attempted/failed accounting of
the checks, that every metric name printed matches BENCHMARK.json (and
that BENCHMARK.json keeps the driver's format limits), and that the
generators are deterministic per seed.
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen     # noqa: E402
import oracle  # noqa: E402
import run     # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))


def fake_result(workload, passes=4):
    """A harness result.json as the JVM writes it, with made-up times."""
    r = {"workload": workload, "setup_s": 6.0, "ops_per_pass": 6,
         "warm_up": 2, "layers": {"spark.jobs": 12.0, "trace.iter_s": 3.0},
         "passes": [{"wall_s": 10.0 - i, "steps": [{"name": "x", "s": 1.0}],
                     "gc_s": 0.1, "compile_ms": 50.0} for i in range(passes)]}
    if workload == "corpus_pipeline":
        r["table_bytes"] = 2_000_000
    if workload == "gseg_upsert":
        r["rounds"] = [{"round": i, "merge_s": 0.5, "lag_s": 0.3, "read_s": 0.2,
                        "changes": {"insert": 5}, "written_bytes": 10**6,
                        "files_rewritten": 2, "count": 1, "sum": 1}
                       for i in range(passes)]
        r["final"] = {"files_live": 30, "table_bytes": 3 * 10**7, "dir_bytes": 4 * 10**7,
                      "count": 1, "sum": 1, "mix": 1}
    return r


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(run.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(run.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(run.median([]), 0.0)

    def test_no_tail_below_forty_samples(self):
        for n in (1, 10, 39):
            self.assertIsNone(run.tail(list(range(n))))

    def test_tail_keeps_ten_samples_beyond(self):
        for n in (40, 57, 100, 1000):
            xs = [float(i) for i in range(n)]
            q, v = run.tail(xs)
            self.assertAlmostEqual(q, 1 - 10 / n)
            self.assertGreaterEqual(sum(x > v for x in xs), 10 - 1)
            self.assertLessEqual(sum(x > v for x in xs), 10)


class Accounting(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _write(self, expected, d):
        os.makedirs(d, exist_ok=True)
        for name, (rows, _) in expected.items():
            with open(f"{d}/{name}", "w") as fh:
                json.dump(rows, fh)

    def test_eth_failures_count_jobs_not_files(self):
        expected = {name: ([["01-2016", 1.5]], True)
                    for files in oracle.ETH_FILES.values() for name in files}
        d = f"{self.tmp}/pass0"
        self._write(expected, d)
        self.assertEqual(oracle.check_eth(expected, d), [])
        # two wrong files of one job are one failed operation
        for name in oracle.ETH_FILES["scams"][:2]:
            with open(f"{d}/{name}", "w") as fh:
                json.dump([["01-2016", 2.5]], fh)
        os.remove(f"{d}/minerTop.txt")
        fails = oracle.check_eth(expected, d)
        self.assertEqual(len(fails), 2)
        self.assertTrue(fails[0].startswith("topMiners") or fails[1].startswith("topMiners"))

    def test_close_tolerates_float_order_only(self):
        self.assertTrue(oracle._rows_equal([["a", 0.1 + 0.2]], [["a", 0.3]], True))
        self.assertFalse(oracle._rows_equal([["a", 0.31]], [["a", 0.3]], True))
        self.assertTrue(oracle._rows_equal([["b", 1], ["a", 2]], [["a", 2], ["b", 1]], False))
        self.assertFalse(oracle._rows_equal([["b", 1], ["a", 2]], [["a", 2], ["b", 1]], True))

    def test_gseg_model_checks_each_round(self):
        saved = dict(gen.SIZES["gseg_upsert"])
        gen.SIZES["gseg_upsert"].update(rows=2000, feed=50, band=200, read_band=500, rounds=3)
        try:
            gen.gseg(7, self.tmp)
        finally:
            gen.SIZES["gseg_upsert"] = saved
        truth = oracle.GsegModel(self.tmp)
        rounds = []
        for r in range(3):
            changes = truth.apply(r)
            count, total = truth.range_read(r)
            rounds.append({"round": r, "changes": changes, "count": count, "sum": total})
        final = truth.digest()
        self.assertEqual(oracle.check_gseg(oracle.GsegModel(self.tmp), rounds, final), [])
        rounds[1]["count"] += 1
        rounds[2]["changes"] = {"insert": 1}
        fails = oracle.check_gseg(oracle.GsegModel(self.tmp), rounds, final)
        self.assertEqual(len(fails), 2)

    def test_quotas_follow_the_temperature_formula(self):
        q = oracle._quotas({"en": 400, "de": 100, "fr": 25}, 60)
        # weights isqrt(n) = 20, 10, 5 of 35: 34.28, 17.14, 8.57
        self.assertEqual(q, {"en": 34, "de": 17, "fr": 9})
        self.assertEqual(sum(q.values()), 60)


class Names(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_format(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(self.NAME.match(n) for n in names))
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]), sorted(gen.GENERATORS))
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25 and self.UNIT.match(m["unit"]))
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertTrue(self.UNIT.match(m["unit"]))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in SPEC["end_to_end"]))

    def test_printed_names_match(self):
        e2e = {m["name"] for m in SPEC["end_to_end"]}
        layers = [m["name"] for m in SPEC["per_layer"]]
        for w in gen.GENERATORS:
            r = fake_result(w)
            got = run.end_to_end(w, r)
            self.assertEqual(set(got), e2e)
            self.assertTrue(all(v > 0 for v in got.values()))
            self.assertEqual(set(run.per_layer(w, r, layers)), set(layers))

    def test_harness_names_are_declared(self):
        """Every metric-shaped name the harness emits is a per_layer metric."""
        layers = {m["name"] for m in SPEC["per_layer"]}
        src = ""
        for f in ("Harness.scala", "Tracer.scala"):
            src += open(os.path.join(BENCH, "harness", "src", "main", "scala",
                                     "perfbench", f)).read()
        emitted = set(re.findall(r'"((?:spark|trace|streaming|[A-Z][A-Za-z]+)\.[A-Za-z_]+)"', src))
        emitted |= {f"streaming.{p}_ms" for p in re.findall(
            r'"(latestOffset|getBatch|queryPlanning|addBatch|walCommit|commitOffsets)"', src)}
        emitted = {n for n in emitted if not n.startswith(("EthParity.jobs", "Workload."))}
        self.assertTrue(emitted)
        self.assertEqual(emitted - layers, set())


class Generators(unittest.TestCase):
    def test_same_seed_same_files(self):
        a, b, c = (tempfile.mkdtemp() for _ in range(3))
        try:
            gen.corpus(3, a)
            gen.corpus(3, b)
            gen.corpus(4, c)
            for f in ("documents.parquet", "planted.json"):
                self.assertEqual(open(f"{a}/{f}", "rb").read(), open(f"{b}/{f}", "rb").read())
            self.assertNotEqual(open(f"{a}/planted.json").read(), open(f"{c}/planted.json").read())
            planted = json.load(open(f"{a}/planted.json"))
            self.assertTrue(planted["contaminated"])
            self.assertEqual({g["kind"] for g in planted["groups"]}, {"exact", "near"})
        finally:
            for d in (a, b, c):
                shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
