"""Tests of the benchmark itself (not of graft).

    python3 -m unittest discover -s graftbench/tests -v

The JVM tests build the engine on first use, like run.py, and run short
fixed schedules (no warm-up, one or two timed cycles); expect a few
minutes. Everything is written under .bench_build/tests/ in the checkout.
"""
import json
import os
import shutil
import sys
import time
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(BENCH)
SCRATCH = os.path.join(ROOT, ".bench_build", "tests")


def scratch(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b, c = scratch("in_a"), scratch("in_b"), scratch("in_c")
        self.assertEqual(gen.csr_drop_zone(a, 7), gen.csr_drop_zone(b, 7))
        gen.csr_drop_zone(c, 8)
        self.assertEqual(gen.sha1_list(a), gen.sha1_list(b))
        self.assertNotEqual(gen.sha1_list(a), gen.sha1_list(c))
        for d in (a, b):
            gen.query_tables(os.path.join(d, "data"), 7, 0.002)
        self.assertEqual(gen.sha1_list(a), gen.sha1_list(b))
        self.assertEqual(run.query_order(7), run.query_order(7))
        self.assertEqual(sorted(run.query_order(7)), sorted(run.QUERY_MIX))

    def test_sha1_companions_match(self):
        d = scratch("in_sha")
        gen.csr_drop_zone(d, 3)
        for sub in ("drop", "deliveries"):
            for f in os.listdir(os.path.join(d, sub)):
                if f.endswith(".sha1"):
                    with open(os.path.join(d, sub, f)) as fh:
                        declared = fh.read().split()[0]
                    with open(os.path.join(d, sub, f[:-5]), "rb") as fh:
                        self.assertEqual(declared, gen._sha1(fh.read()), f)

    def test_oracle_catches_a_tampered_result(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = scratch("oracle")
        data, out = os.path.join(d, "data"), os.path.join(d, "out")
        os.makedirs(data)
        os.makedirs(os.path.join(out, "q"))
        pq.write_table(pa.table({"k": [1, 2, 2], "v": [1.5, 2.0, 3.0]}), os.path.join(data, "t.parquet"))
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"q": "SELECT k, SUM(v) AS s FROM t GROUP BY k"}, f)
        result = os.path.join(out, "q", "part-0.parquet")
        pq.write_table(pa.table({"k": [2, 1], "s": [5.0, 1.5]}), result)
        self.assertEqual(oracle.check(data, out), {"q": ""})
        pq.write_table(pa.table({"k": [2, 1], "s": [5.0, 1.25]}), result)
        self.assertTrue(oracle.check(data, out)["q"])


class Jvm(unittest.TestCase):
    """Short csr_etl runs: two traced runs of one seed, one tampered run."""

    @classmethod
    def setUpClass(cls):
        out = os.path.join(ROOT, ".bench_build")
        os.makedirs(out, exist_ok=True)
        cls.cp = run.build(ROOT, out)
        cls.runs = []
        for name in ("a", "b"):
            d = os.path.join(SCRATCH, f"csr_{name}")
            run.prepare(d, "csr_etl", 5)
            res = run.launch(cls.cp, d, "csr_etl", ([], run.CSR_CYCLE * 2), 1, time.monotonic() + 170)
            with open(os.path.join(d, "spans.json")) as f:
                cls.runs.append((res, json.load(f)))

    def test_runs_pass_their_checks(self):
        for res, _ in self.runs:
            self.assertEqual(res["failures"], [])
            self.assertEqual(res["attempted"], len(res["ops"]))

    def test_two_runs_record_the_same_op_sequence(self):
        (a, _), (b, _) = self.runs
        self.assertEqual(a["ops"], b["ops"])
        self.assertIn("timed7/delta", a["ops"])

    def test_counts_repeat_across_runs(self):
        (a, _), (b, _) = self.runs
        counts = [k for k in a["samples"] if k.startswith(("spark.jobs.", "spark.tasks."))]
        counts.append("pipeline.tasks_ran.delta")
        for k in counts:
            self.assertEqual(a["samples"][k], b["samples"][k], k)

    def test_spans_nest_and_cover_each_phase(self):
        _, spans = self.runs[0]
        by_id = {s["id"]: s for s in spans}
        ops = [s for s in spans if s["kind"] in ("cold", "noop", "delta")]
        self.assertEqual({s["kind"] for s in ops}, {"cold", "noop", "delta"})
        for s in spans:
            if s["kind"] in ("cold", "noop", "delta"):
                self.assertEqual(s["parent"], 0)
                continue
            parent = by_id[s["parent"]]
            # job times are whole milliseconds
            self.assertLessEqual(parent["start_us"] - 1000, s["start_us"], s)
            self.assertLessEqual(s["end_us"], parent["end_us"] + 1000, s)
            self.assertGreaterEqual(s["self_s"], 0)
            want = {"task": ("cold", "delta"), "job": ("cold", "noop", "delta", "task")}[s["kind"]]
            self.assertIn(parent["kind"], want, s)
        for op in ops:
            kids = [s for s in spans if s["parent"] == op["id"]]
            tasks = [s for s in kids if s["kind"] == "task"]
            self.assertEqual(len(tasks), 0 if op["kind"] == "noop" else 5, op["name"])
            jobs = [s for s in spans if s["kind"] == "job" and (s["parent"] == op["id"]
                    or by_id[s["parent"]]["parent"] == op["id"])]
            self.assertTrue(jobs, op["name"])
            child = sum(s["end_us"] - s["start_us"] for s in tasks)
            self.assertLessEqual(child, op["end_us"] - op["start_us"])

    def test_tampered_drop_zone_file_is_caught(self):
        d = os.path.join(SCRATCH, "csr_tampered")
        run.prepare(d, "csr_etl", 5)
        with open(os.path.join(d, "drop", "individuals.csv"), "a") as f:
            f.write("999999;Mallory 999999;1;01-01-1990\n")
        res = run.launch(self.cp, d, "csr_etl", ([], run.CSR_CYCLE), 0, time.monotonic() + 170)
        self.assertGreater(len(res["failures"]), 0)
        self.assertIn("checksum", res["failures"][0])


if __name__ == "__main__":
    unittest.main()
