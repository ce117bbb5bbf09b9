"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout (they build the program like the benchmark
does). Inputs are generated at a small scale, so the whole file takes a few
minutes.
"""

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gate  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCALE = 0.05


def input_hash(d):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class PerfbenchTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        os.makedirs(build.BUILD, exist_ok=True)
        cls.cp = build.build()
        cls.tmp = tempfile.mkdtemp(dir=build.BUILD, prefix="test-")

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def reference(self, workload, seed, tag):
        d = os.path.join(self.tmp, f"{tag}-{workload}-{seed}")
        gen.generate(workload, seed, d, SCALE)
        con = gate.connect(self.tmp)
        return input_hash(d), gate.reference(con, workload, d, build.ORACLES)["result"]

    def harness(self, workload, seed, scale=SCALE):
        work = os.path.join(self.tmp, f"h-{workload}-{seed}")
        gen.generate(workload, seed, os.path.join(work, "data"), scale)
        h = run.Harness(workload, work, None, self.cp)
        h.ref = gate.reference(h.con, workload, h.data, build.ORACLES)
        return h

    def test_seed_determines_inputs_and_checksums(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = (self.reference(w, s, t) for s, t in ((7, "a"), (7, "b"), (8, "c")))
                self.assertEqual(a, b)
                self.assertNotEqual(a[0], c[0])
                self.assertNotEqual(a[1], c[1])

    def test_asof_rewrite_matches_shipped_oracle(self):
        d = os.path.join(self.tmp, "asof")
        gen.generate("consume_refresh_skewed", 3, d, 0.01)
        con = gate.connect(self.tmp)
        gate.register(con, d, ["events", "customer", "orders", "nation"])
        with open(os.path.join(build.ORACLES, "pipe_consume_e2e.sql")) as f:
            shipped = f.read()
        self.assertEqual(gate.checksum(con, shipped),
                         gate.checksum(con, gate.consume_oracle(shipped)))

    def test_planted_truth_matches_shipped_oracle(self):
        d = os.path.join(self.tmp, "d6")
        gen.generate("corpus_neardup", 3, d, 0.1)
        con = gate.connect(self.tmp)
        gate.register(con, d, ["documents"])
        with open(os.path.join(build.ORACLES, "d6_neardup_dedup.sql")) as f:
            exact = f.read()
        self.assertEqual(gate.checksum(con, exact),
                         gate.checksum(con, f"SELECT * FROM read_parquet('{d}/expected_kept.parquet')"))

    def test_gate_passes_real_and_fails_corrupted_daily_output(self):
        h = self.harness("consume_daily", 5, 0.1)
        h.jvm(runs=1)
        run0 = h.runs[0]
        self.assertTrue(run0["ok"], run0["problems"])
        out = run0["out"]
        month = os.path.join(out, "table", f"partition_month={gate.MONTH}")
        part = glob.glob(os.path.join(month, "*.parquet"))[0]
        h.con.execute(f"COPY (SELECT * FROM read_parquet('{part}') OFFSET 1) "
                      f"TO '{part}.tmp' (FORMAT PARQUET)")
        os.replace(f"{part}.tmp", part)
        self.assertTrue(any(p.startswith(f"month {gate.MONTH}")
                            for p in gate.check_daily(h.con, out, h.ref)))
        seeded = os.path.join(out, "table", f"partition_month={gate.SEEDED_MONTHS[0]}")
        shutil.rmtree(seeded)
        os.makedirs(seeded)
        h.con.execute(f"COPY (SELECT 1 AS user_id) TO '{seeded}/x.parquet' (FORMAT PARQUET)")
        self.assertTrue(any(p.startswith("seeded month") for p in gate.check_daily(h.con, out, h.ref)))
        for path in glob.glob(os.path.join(out, "csv", "it1", "*.csv.gz")):
            os.remove(path)
        self.assertTrue(any("export rows" in p for p in gate.check_daily(h.con, out, h.ref)))

    def test_gate_passes_real_and_fails_corrupted_results(self):
        for w in ("consume_refresh_skewed", "corpus_neardup"):
            with self.subTest(workload=w):
                h = self.harness(w, 5)
                h.jvm(runs=1)
                r = h.runs[0]
                self.assertTrue(r["ok"], r["problems"])
                bad = list(r["checksum"])
                bad[1] += 1
                self.assertTrue(gate.check_result(bad, h.ref))
                self.assertTrue(gate.check_result([bad[0] - 1] + bad[1:], h.ref))

    def test_every_declared_metric_is_printed(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(spec["command"][:2], ["python3", "perfbench/run.py"])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        for trace, key, w in ((0, "end_to_end", "corpus_neardup"),
                              (1, "per_layer", "consume_refresh_skewed")):
            with self.subTest(trace=trace):
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "2",
                     "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
                    capture_output=True, text=True, cwd=build.ROOT, timeout=600)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                last = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(last["correct"])
                self.assertEqual(last["failed"], 0)
                declared = {m["name"]: m["unit"] for m in spec[key]}
                printed = {k: v["unit"] for k, v in last["metrics"].items()}
                self.assertEqual(declared, printed)
                for name in declared:
                    self.assertIn(f"metric {name} = ", p.stdout)


if __name__ == "__main__":
    unittest.main()
