#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py

Smoke: every workload runs end to end at the tiny "smoke" size, untraced and
traced, with every output check on. Checker cases: each checker is handed a
deliberately wrong output (merge rules min/max swapped, a dropped key, a
message produced twice, one altered registry row) and must reject it.
"""
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

SEED = 7
RUNS = {}


def run(workload, trace):
    """Run the benchmark at smoke size; returns (result line, work dir)."""
    key = (workload, trace)
    if key not in RUNS:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
                            "--size", "smoke", "--keep"],
                           capture_output=True, text=True, timeout=900)
        if p.returncode != 0:
            raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
        work = re.search(r"kept work directory (\S+)", p.stderr).group(1)
        RUNS[key] = (json.loads(p.stdout.strip().splitlines()[-1]), work)
    return RUNS[key]


def tearDownModule():
    for _, work in RUNS.values():
        shutil.rmtree(work, ignore_errors=True)


class Smoke(unittest.TestCase):
    def check_run(self, workload, trace):
        res, _ = run(workload, trace)
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        self.assertEqual(list(res["metrics"]), names)

    def test_edi_feeds(self):
        self.check_run("edi_feeds", 0)

    def test_edi_feeds_traced(self):
        self.check_run("edi_feeds", 1)

    def test_registry_full(self):
        self.check_run("registry_full", 0)

    def test_registry_full_traced(self):
        self.check_run("registry_full", 1)


class CheckersReject(unittest.TestCase):
    def edi(self):
        _, work = run("edi_feeds", 0)
        with open(os.path.join(work, "result.json")) as f:
            facts = json.load(f)["facts"]
        inputs, _ = gen.inputs("edi_feeds", SEED, "smoke")
        names = sorted(n[:-5] for n in os.listdir(os.path.join(inputs, "messages")))
        out = os.path.join(work, "corrupt")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(facts["last_round_out"], out)
        return inputs, names, facts, out

    def test_correct_output_passes(self):
        inputs, names, facts, out = self.edi()
        self.assertEqual(check.check_feeds(inputs, out, names), [])
        self.assertEqual(check.check_exactly_once(names, facts["produced_rounds"], []), [])

    def test_min_max_swap(self):
        inputs, names, _, out = self.edi()
        name = "b1_csv"
        with open(os.path.join(inputs, "messages", name + ".json")) as f:
            cfg = json.load(f)
        with open(os.path.join(inputs, "truth", name + ".json")) as f:
            truth = json.load(f)
        swapped = json.loads(json.dumps(cfg))
        for v in swapped["column_map_rules"].values():
            if isinstance(v, list) and v[1] in ("min", "max"):
                v[1] = {"min": "max", "max": "min"}[v[1]]
        con = check.duckdb.connect()
        right = con.execute(check.expected_sql(con, "a", truth, cfg)).fetchall()
        con = check.duckdb.connect()
        cur = con.execute(check.expected_sql(con, "a", truth, swapped))
        cols = [d[0] for d in cur.description]
        wrong = cur.fetchall()
        self.assertNotEqual(set(right), set(wrong))
        for p in glob.glob(os.path.join(out, name, "part-*")):
            os.remove(p)
        with open(os.path.join(out, name, "part-00000.txt"), "w") as f:
            for r in wrong:
                f.write(json.dumps({k: v for k, v in zip(cols, r) if k != "msg" and v is not None}) + "\n")
        self.assertTrue(check.check_feeds(inputs, out, names))

    def test_dropped_key(self):
        inputs, names, _, out = self.edi()
        part = max(glob.glob(os.path.join(out, "b2_xlsx", "part-*")), key=os.path.getsize)
        with open(part) as f:
            lines = f.readlines()
        with open(part, "w") as f:
            f.writelines(lines[1:])
        problems = check.check_feeds(inputs, out, names)
        self.assertTrue(any("missing from" in p for p in problems), problems)

    def test_message_produced_twice(self):
        _, names, facts, _ = self.edi()
        rounds = [list(r) for r in facts["produced_rounds"]]
        rounds[-1].append(rounds[-1][0])
        self.assertTrue(check.check_exactly_once(names, rounds, []))
        self.assertTrue(check.check_exactly_once(names, facts["produced_rounds"], [{"op": "message"}]))

    def test_altered_registry_row(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        _, work = run("registry_full", 0)
        with open(os.path.join(work, "result.json")) as f:
            facts = json.load(f)["facts"]
        tables, _ = gen.inputs("registry_full", SEED, "smoke")
        self.assertEqual(check.check_registry(tables, facts["out_dir"], facts["oracle_sql"]), [])
        out = os.path.join(work, "corrupt")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(facts["out_dir"], out)
        q = "q1_pricing_summary"
        t = pq.read_table(os.path.join(out, q))
        i = t.schema.get_field_index("sum_qty")
        values = t.column(i).to_pylist()
        values[0] += 1
        t = t.set_column(i, t.schema.field(i), pa.array(values, t.schema.field(i).type))
        for p in glob.glob(os.path.join(out, q, "*.parquet")):
            os.remove(p)
        pq.write_table(t, os.path.join(out, q, "part-0.parquet"))
        problems = check.check_registry(tables, out, {q: facts["oracle_sql"][q]})
        self.assertTrue(any("value hash" in p for p in problems), problems)


if __name__ == "__main__":
    unittest.main(verbosity=2)
