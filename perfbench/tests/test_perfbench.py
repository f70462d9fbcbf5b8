"""Tests of the benchmark itself: seeded-input determinism and listener
attribution.

Run from the repository root:  python3 -m unittest discover perfbench/tests
The listener test builds the engine (about a minute the first time) and
runs one JVM for about two minutes.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen_fixture  # noqa: E402
import gen_months  # noqa: E402
import run  # noqa: E402


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.fixture = os.path.join(cls.tmp.name, "fixture")
        gen_fixture.write(cls.fixture, 0.001)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def months(self, name, seed):
        out = os.path.join(self.tmp.name, name)
        return out, gen_months.write(self.fixture, out, seed, 8, 2)

    def test_fixture_is_byte_identical(self):
        again = os.path.join(self.tmp.name, "fixture-again")
        gen_fixture.write(again, 0.001)
        names = [f"{t}.parquet" for t in gen_fixture.TABLES]
        match, mismatch, errors = filecmp.cmpfiles(
            self.fixture, again, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_same_seed_same_month_files(self):
        a, ma = self.months("a", 7)
        b, mb = self.months("b", 7)
        self.assertEqual(
            [(d["month"], d["redelivery"]) for d in ma["deliveries"]],
            [(d["month"], d["redelivery"]) for d in mb["deliveries"]])
        for d in ma["deliveries"]:
            name = os.path.basename(d["file"])
            self.assertTrue(filecmp.cmp(os.path.join(a, name),
                                        os.path.join(b, name), shallow=False))

    def test_other_seed_other_months(self):
        _, ma = self.months("c", 7)
        _, mb = self.months("d", 8)
        self.assertNotEqual([d["month"] for d in ma["deliveries"]],
                            [d["month"] for d in mb["deliveries"]])

    def test_redeliveries_follow_their_first_delivery(self):
        _, m = self.months("e", 9)
        seq = [(d["month"], d["redelivery"]) for d in m["deliveries"]]
        self.assertEqual(sum(again for _, again in seq), 2)
        for i, (month, again) in enumerate(seq):
            if again:
                self.assertIn((month, False), seq[:i])

    def test_seed_is_recorded(self):
        out, m = self.months("f", 11)
        self.assertEqual(m["seed"], 11)
        with open(os.path.join(out, "manifest.json")) as f:
            self.assertEqual(json.load(f)["seed"], 11)
        meta = pq.read_schema(m["deliveries"][0]["file"]).metadata
        self.assertEqual(meta[b"perfbench.seed"], b"11")

    def test_query_order(self):
        for w in ("warehouse_sql", "stream_state", "iterative_graph"):
            self.assertEqual(run.query_order(w, 3), run.query_order(w, 3))
            self.assertEqual(sorted(run.query_order(w, 3)),
                             sorted(run.WORKLOADS[w]["queries"]))
        self.assertNotEqual(run.query_order("warehouse_sql", 1),
                            run.query_order("warehouse_sql", 2))


class ListenerAttribution(unittest.TestCase):
    """Runs graftperf.SelfTest: attaching the traced run's listeners changes
    no optimized plan and no result; every job lands in exactly one span;
    q05_source shuffles nothing while q11_join_sortmerge does; every
    stream_state query reports micro-batches."""

    def test_self_test(self):
        jars = run.spark_jars()
        classpath = run.build(jars) + [f"{jars}/*"]
        fx_dir, _ = run.fixture()
        out = run.WORK / "selftest"
        (out / "tmp").mkdir(parents=True, exist_ok=True)
        proc = subprocess.run(
            ["java"] + run.jvm_opts(out) +
            ["-cp", ":".join(str(c) for c in classpath), "graftperf.SelfTest",
             str(fx_dir), str(out), str(run.cpus())],
            cwd=out, capture_output=True, text=True, timeout=600)
        lines = [ln for ln in proc.stdout.splitlines()
                 if ln.startswith(("PASS", "FAIL"))]
        failures = [ln for ln in lines if ln.startswith("FAIL")]
        self.assertTrue(lines, proc.stdout[-2000:] + proc.stderr[-2000:])
        self.assertEqual(failures, [])
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
