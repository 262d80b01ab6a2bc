"""Tests of the benchmark itself (not of the program it drives).

    python3 -m unittest discover -s perfbench/tests

They need Python, pyarrow and duckdb, but no JVM.
"""
import csv
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen_logs  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def data_rows(path):
    """Tokens of the data lines (quoted User-Agent kept as one token)."""
    with open(path) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                yield re.findall(r'"[^"]*"|\S+', line)


def summary_csv(path, rows):
    """The columns of a miw_summary CSV the checker reads, aggregated in
    Python the way the format says: key = date + hour + user."""
    groups = {}
    for t in rows:
        g = groups.setdefault(f"{t[0]}_{t[1][:2]}_{t[14]}", [0, 0, 0])
        g[0] += 1
        g[1] += int(t[2])
        g[2] += int(t[6])
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "logs", "sc-bytes", "time-taken"])
        for k, (n, taken, sc) in sorted(groups.items()):
            w.writerow([k, n, f"{sc / n:.6g}", taken])


class GeneratorTest(unittest.TestCase):
    def test_logs_are_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen_logs.generate(f"{d}/a.log", 7, 3000)
            b = gen_logs.generate(f"{d}/b.log", 7, 3000)
            c = gen_logs.generate(f"{d}/c.log", 8, 3000)
            with open(f"{d}/a.log", "rb") as fa, open(f"{d}/b.log", "rb") as fb:
                self.assertEqual(fa.read(), fb.read())
            self.assertEqual(a, b)
            self.assertNotEqual(a["sha256"], c["sha256"])

    def test_log_tallies_match_the_file(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen_logs.generate(f"{d}/a.log", 3, 5000)
            with open(f"{d}/a.log") as f:
                lines = f.read().splitlines()
            self.assertEqual(len(lines), t["lines"])
            self.assertEqual(sum(1 for x in lines if x.startswith("#")), t["comment_lines"])
            self.assertEqual(sum(1 for x in lines if not x.strip()), t["blank_lines"])
            self.assertGreater(t["comment_lines"], 0)
            self.assertGreater(t["blank_lines"], 0)
            rows = list(data_rows(f"{d}/a.log"))
            self.assertEqual(len(rows), t["data_lines"])
            self.assertTrue(all(len(r) == 24 for r in rows))
            self.assertTrue(any(" " in r[19] for r in rows))  # quoted User-Agent
            self.assertEqual(sum(int(r[2]) for r in rows), t["sum_time_taken"])
            self.assertEqual(len({(r[1][:2], r[14]) for r in rows}), t["groups"])

    def test_tables_are_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen_tables.generate(f"{d}/a", 5, 0.001)
            b = gen_tables.generate(f"{d}/b", 5, 0.001)
            c = gen_tables.generate(f"{d}/c", 6, 0.001)
            self.assertEqual(a, b)
            self.assertNotEqual(a["sha256"], c["sha256"])
            self.assertEqual(a["rows"]["orders"], 1500)
            self.assertEqual(a["rows"]["documents"], 50)

    def test_kcore_stays_nonempty_at_the_gate_scale(self):
        """q189_kcore_peel peels the customer-supplier graph at k = 25 for
        three rounds; at the gate's scale some nodes must survive, or the
        oracle check could not tell a wrong peel from a right one."""
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen_tables.generate(d, 1, run.WORKLOADS["gate_iterative"]["sf"])
            cust = dict(zip(*pq.read_table(f"{d}/orders.parquet",
                                            columns=["o_orderkey", "o_custkey"])
                              .to_pydict().values()))
            li = pq.read_table(f"{d}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"])
            edges = {(("c", cust[o]), ("s", s)) for o, s in zip(*li.to_pydict().values())}
            edges |= {(b, a) for a, b in edges}
            alive = {a for a, _ in edges}
            removed = []
            for _ in range(3):
                deg = {}
                for a, b in edges:
                    if a in alive and b in alive:
                        deg[a] = deg.get(a, 0) + 1
                nxt = {n for n, k in deg.items() if k >= 25}
                removed.append(len(alive) - len(nxt))
                alive = nxt
            self.assertGreater(len(alive), 0)
            self.assertGreater(removed[0], 0)


class MiwCheckTest(unittest.TestCase):
    def setUp(self):
        self.d = tempfile.TemporaryDirectory()
        self.addCleanup(self.d.cleanup)

    def make(self):
        log = f"{self.d.name}/a.log"
        tally = gen_logs.generate(log, 11, 4000)
        out = f"{self.d.name}/s.csv"
        summary_csv(out, list(data_rows(log)))
        return out, tally

    def test_summary_check_accepts_then_rejects_corruption(self):
        out, tally = self.make()
        self.assertEqual(checks.check_summary_csv(out, tally), [])

        def edit(col, fn):
            def f(rows):
                rows[1][col] = fn(rows[1][col])
                return rows
            return f

        for corrupt in (lambda rows: rows[:-1],  # a group lost
                        edit(1, lambda v: str(int(v) + 1)),  # logs
                        edit(3, lambda v: str(int(v) - 1)),  # time-taken
                        edit(2, lambda v: str(float(v) * 2))):  # mean sc-bytes
            out, tally = self.make()
            with open(out, newline="") as f:
                rows = corrupt(list(csv.reader(f)))
            with open(out, "w", newline="") as f:
                csv.writer(f).writerows(rows)
            self.assertNotEqual(checks.check_summary_csv(out, tally), [])
        self.assertNotEqual(checks.check_summary_csv(f"{self.d.name}/missing.csv", tally), [])


class GateCheckTest(unittest.TestCase):
    def test_gate_check_rejects_wrong_missing_and_unoracled(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen_tables.generate(f"{d}/t", 1, 0.001)
            sql = {"q": "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1"}
            import duckdb
            con = duckdb.connect()
            rows = con.sql(
                f"SELECT l_returnflag, count(*) AS n FROM '{d}/t/lineitem.parquet' "
                "GROUP BY 1 ORDER BY 2").fetchall()
            os.makedirs(f"{d}/dump/q")

            def dump(rs):
                pq.write_table(pa.table({"n": [r[1] for r in rs],
                                         "l_returnflag": [r[0] for r in rs]}),
                               f"{d}/dump/q/part-0.parquet")

            dump(rows)
            self.assertEqual(checks.check_gate(f"{d}/dump", f"{d}/t", sql, ["q"]), {"q": None})
            dump([(rows[0][0], rows[0][1] + 1)] + rows[1:])
            self.assertIsNotNone(checks.check_gate(f"{d}/dump", f"{d}/t", sql, ["q"])["q"])
            dump(rows[1:])
            self.assertIsNotNone(checks.check_gate(f"{d}/dump", f"{d}/t", sql, ["q"])["q"])
            dump(rows)
            self.assertIsNotNone(checks.check_gate(f"{d}/dump", f"{d}/t", {}, ["q"])["q"])
            self.assertIsNotNone(checks.check_gate(f"{d}/dump", f"{d}/t", sql, ["r"])["r"])


class MetricSetTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_benchmark_json_names_what_run_reports(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         run.PER_LAYER)

    def test_every_metric_is_reported_for_every_workload(self):
        fake = {"walls_s": [2.0, 1.0, 3.0], "setup_s": [5.0, 4.0, 4.5],
                "input_bytes": 10_000_000, "layers": {"scan.self_s": 0.5}}
        for _ in run.WORKLOADS:
            e2e = run.compose_metrics(fake, 0)
            self.assertEqual(list(e2e), [n for n, _ in run.END_TO_END])
            self.assertEqual(e2e["wall_s"]["value"], 2.0)
            self.assertEqual(e2e["input_mb_s"]["value"], 5.0)
            layers = run.compose_metrics(fake, 1)
            self.assertEqual(list(layers), [n for n, _ in run.PER_LAYER])
            self.assertEqual(layers["scan.self_s"]["value"], 0.5)

    def test_harness_produces_every_per_layer_metric(self):
        with open(os.path.join(BENCH, "harness", "Harness.scala")) as f:
            src = f.read()
        for name, _ in run.PER_LAYER:
            if name == "tracing.overhead_s" or name.startswith("gate.q"):
                pattern = name if name == "tracing.overhead_s" else \
                    "gate.$q." + name.rsplit(".", 1)[1]
            else:
                pattern = name
            self.assertIn(f'"{pattern}"' if "$" not in pattern else f's"{pattern}"', src,
                          name)


if __name__ == "__main__":
    unittest.main()
