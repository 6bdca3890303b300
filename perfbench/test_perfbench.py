"""The benchmark's own tests: seeded inputs, metric names, and that the
correctness gates reject corrupted outputs. They need no Spark:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import hashlib
import os
import re
import shutil
import tempfile
import unittest

import pandas as pd

import check
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def tree_digest(root):
    h = hashlib.sha256()
    for dp, dns, fs in sorted(os.walk(root)):
        dns.sort()
        for f in sorted(fs):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Scratch(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def path(self, *parts):
        return os.path.join(self.tmp, *parts)


class SeededInputs(Scratch):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = (self.path(w, x) for x in ("a", "b", "c"))
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                self.assertEqual(tree_digest(a), tree_digest(b))
                self.assertNotEqual(tree_digest(a), tree_digest(c))


class MetricNames(unittest.TestCase):
    def test_names_are_plain(self):
        names = [m["name"] for m in run.BENCH["end_to_end"] + run.BENCH["per_layer"]]
        self.assertTrue(names)
        for n in names:
            self.assertRegex(n, NAME)


class CorruptedOutputsFail(Scratch):
    def write_csv(self, rows_by_type):
        """The wide quote-all CSV the flatten stage writes: one header of
        partition_id plus the sorted key union, nulls as empty cells."""
        for t, rows in rows_by_type.items():
            keys = sorted({k for r in rows for k in r} - {"partition_id"})
            d = self.path("csv", f"type={t}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "part-00000.csv"), "w", newline="") as f:
                w = csv.writer(f, quoting=csv.QUOTE_ALL)
                w.writerow(["partition_id"] + keys)
                for r in rows:
                    w.writerow([r["partition_id"]] + [r.get(k) or "" for k in keys])

    def test_etl_gate(self):
        rows = {}
        expected = gen.gen_etl(3, self.path("in"), rows)
        self.write_csv(rows)
        self.assertEqual(check.check_etl(self.path("csv"), expected), [])
        t = gen.SELECTED_TYPES[0]
        rows[t][5]["vehicleIdentifier"] = "corrupted"
        self.write_csv(rows)
        self.assertEqual(len(check.check_etl(self.path("csv"), expected)), 1)
        rows[t].pop()
        self.write_csv(rows)
        self.assertIn("rows", check.check_etl(self.path("csv"), expected)[0])

    def test_replay_gate(self):
        expected = gen.gen_replay(3, self.path("in"))
        acks = [(k, h, 1) for k, h, _ in expected["records"]]
        self.assertEqual(check.check_acks(acks, expected), [])
        self.assertTrue(check.check_acks(acks + [acks[0]], expected))  # acked twice
        self.assertTrue(check.check_acks(acks[1:], expected))  # never acked
        bad = acks[:]
        bad[3] = (bad[3][0], "0" * 64, 1)  # payload digest mismatch
        self.assertTrue(check.check_acks(bad, expected))

    def test_paced_recording_offers_100_records_per_s(self):
        expected = gen.gen_pipeline(3, self.path("in"))
        paced = expected["paced"]["records"]
        self.assertEqual(len(paced), gen.PACED_GROUPS * gen.PACED_GROUP_RECORDS)
        span_s = (paced[-1][2] - paced[0][2] + gen.REPLAY_GROUP_GAP_MS) / 1000.0
        self.assertAlmostEqual(len(paced) / span_s, 100.0)
        self.assertTrue(os.path.exists(self.path("in", "replay", "paced.parquet")))
        # its records are not the drained recording's
        drained = {(k, h) for k, h, _ in expected["replay"]["records"]}
        self.assertFalse(drained & {(k, h) for k, h, _ in paced})

    def test_paced_latency_runs_from_due_time(self):
        expected = {"base_ts": 1000, "records": [["k", "a", 1000], ["k", "b", 1500]]}
        acks = [("k", "a", 10_000_000), ("k", "b", 10_600_000)]  # µs
        self.assertEqual(check.paced_latencies_ms(acks, expected, 9000.0, 1.0), [1000.0, 1100.0])

    def test_registry_gate(self):
        want = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 0.25, 0.125]})
        self.assertEqual(check.compare_frames("k", want, want.iloc[::-1].copy()), [])
        bad = want.copy()
        bad.loc[1, "score"] = 0.3
        self.assertTrue(check.compare_frames("k", want, bad))
        self.assertTrue(check.compare_frames("k", want, want.iloc[:2]))
        self.assertTrue(check.compare_frames("k", want, want.rename(columns={"id": "ID"})))


if __name__ == "__main__":
    unittest.main()
