"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The conf-set test compiles the benchmark's JVM side (sbt) on first use, like
a first benchmark run does.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, rank, pct in ((11, 0, 0.0), (21, 10, 50.0), (101, 90, 90.0)):
            xs = [float(i) for i in range(n)]
            value, p, count = stats.tail(list(reversed(xs)))
            self.assertEqual((value, p, count), (float(rank), pct, n))
            self.assertEqual(sum(x > value for x in xs), 10)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)

    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0, 10.0]), 2.5)


class SelfTimes(unittest.TestCase):
    def test_children_are_subtracted(self):
        tree = ("q", 10.0, [("a", 4.0, [("a1", 1.5, [])]), ("b", 5.0, [])])
        got = dict(stats.self_times(tree))
        self.assertEqual(got, {"q": 1.0, "q/a": 2.5, "q/a/a1": 1.5,
                               "q/b": 5.0})
        self.assertAlmostEqual(sum(got.values()), 10.0)

    def test_query_span_accounts_for_wall(self):
        s = {"wall_s": 2.0, "build_s": 0.5, "analyze_s": 0.1,
             "optimize_s": 0.2, "physical_s": 0.1, "stages_s": 0.9,
             "final_s": 0.25}
        got = stats.self_times(stats.query_span(s))
        self.assertAlmostEqual(sum(v for _, v in got), 2.0)
        self.assertAlmostEqual(dict(got)["query"], 0.05)
        self.assertAlmostEqual(dict(got)["query/build"], 0.4)


def fake_pass(kind, traced, scale=1.0):
    exec_ = {k: 1 for k in (
        "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
        "fetch_wait_s", "shuffle_write_bytes", "shuffle_read_bytes",
        "spill_disk_bytes", "spill_memory_bytes", "input_bytes", "input_rows",
        "peak_execution_bytes")}
    exec_["job_starts_ms"] = [100, 900]
    plan = {k: 1 for k in ("nodes", "exchanges", "scan_s", "scan_rows",
                           "sort_s", "agg_s", "join_build_s", "join_rows_max",
                           "generate_rows_max")}
    samples = [dict(key=k, ok=True, rows=1, error=None, wall_s=scale,
                    start_ms=0, build_end_ms=500, build_s=0.2, analyze_s=0.1,
                    optimize_s=0.1, physical_s=0.1, stages_s=0.3, final_s=0.2,
                    exec=exec_, plan=plan)
               for k in ("text_minhash_neardup", "other")]
    return {"kind": kind, "traced": traced, "wall_s": 2 * scale, "gc_s": 0.1,
            "train_s": {"kmeans_coarse": 0.5} if kind == "cold" else {},
            "heap_after_gc_mb": 70.0, "samples": samples}


class MetricNames(unittest.TestCase):
    """The metrics a run prints are exactly those BENCHMARK.json lists."""

    def test_names_and_units(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        passes = [fake_pass("cold", True, 5.0), fake_pass("warmup", False),
                  fake_pass("warm", False), fake_pass("warm", True, 1.1)]
        e2e, extra = run.end_to_end(6.5, passes)
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in bench["end_to_end"]})
        self.assertEqual(e2e["setup_s"][0], 6.5)
        self.assertEqual(e2e["first_pass_s"][0], 10.0)
        self.assertEqual(e2e["pass_s"][0], 2.1)
        self.assertEqual(extra["latency_tail"], {"samples": 4})
        res = {"cpus": 4, "setup": {"build_s": 5.0, "register_s": 0.4},
               "probes": {"empty_tasks_s": 0.3, "sql_1stage_s": 0.2,
                          "sql_2stage_s": 0.3}}
        layer = run.per_layer(res, passes, {"materialize_writes": 0,
                                            "leaked_bytes": 0})
        self.assertEqual({k: u for k, (_, u) in layer.items()},
                         {m["name"]: m["unit"] for m in bench["per_layer"]})
        self.assertEqual(layer["operators.build_jobs"][0], 2)
        self.assertEqual(layer["train.kmeans_coarse_s"][0], 0.5)
        self.assertEqual(layer["train.warm_pass_s"][0], 0)
        self.assertEqual(layer["trace.pass_s"][0], 2.2)
        self.assertEqual(layer["trace.untraced_pass_s"][0], 2.0)


class WarmPasses(unittest.TestCase):
    def test_count_follows_seconds_not_run_speed(self):
        w = {"nominal_pass_s": 2.5}
        self.assertEqual(run.warm_passes(w, 10), 4)
        self.assertEqual(run.warm_passes(w, 1), 3)
        self.assertEqual(run.warm_passes(w, 60), 24)


class ConfSet(unittest.TestCase):
    """The benchmark session is built with exactly graft.Bench's confs."""

    def bench_confs(self):
        src = open(os.path.join(run.ROOT, "src", "main", "scala", "graft",
                                "Bench.scala")).read()
        main = src[src.index("def main("):src.index(".getOrCreate()")]
        confs = dict(re.findall(r'\.config\("([^"]+)",\s*("[^"]*"|[^)\n]+)',
                                main))
        self.assertIn('.master(s"local[$cpus]")', main)
        confs["spark.master"] = "local[$cpus]"
        return confs

    def test_same_keys_and_literal_values(self):
        bench = self.bench_confs()
        with tempfile.TemporaryDirectory() as d:
            out = subprocess.run(
                ["java", "-cp", run.build(), "graft.perfbench.Main", "confs",
                 "4", d], check=True, stdout=subprocess.PIPE, text=True,
                env=dict(os.environ, GRAFT_ADVISORY_MB="16")).stdout
        ours = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(ours), set(bench))
        for k, v in bench.items():
            if v.startswith('"'):
                self.assertEqual(ours[k], v.strip('"'), k)
        self.assertEqual(ours["spark.master"], "local[4]")
        self.assertEqual(ours["spark.sql.shuffle.partitions"], "4")
        self.assertEqual(
            ours["spark.sql.adaptive.advisoryPartitionSizeInBytes"], "16m")
        # an empty dir sizes to Sessions.initialPartitions' floor, 8 x cpus
        self.assertEqual(ours[
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"], "32")


class SeededData(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            datagen.make_base(a, 0.001)
            datagen.make_base(b, 0.001)
            self.assertEqual(datagen.digest(a), datagen.digest(b))
            g = {}
            for name, seed in (("g1", 7), ("g2", 7), ("g3", 8)):
                g[name] = os.path.join(d, name)
                datagen.make_grown(a, g[name], 3, seed, run.SCALE_UP)
            self.assertEqual(datagen.digest(g["g1"]), datagen.digest(g["g2"]))
            self.assertNotEqual(datagen.digest(g["g1"]),
                                datagen.digest(g["g3"]))

            def table_bytes(d, t):
                with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
                    return f.read()
            # the seed salts only events and lineitem; replica 0 is the base
            for t in datagen.TABLES:
                same = table_bytes(g["g1"], t) == table_bytes(g["g3"], t)
                self.assertEqual(same, t not in ("events", "lineitem"), t)
            base = pq.read_table(os.path.join(a, "events.parquet"))
            grown = pq.read_table(os.path.join(g["g3"], "events.parquet"))
            self.assertTrue(grown.slice(0, base.num_rows).equals(base))


class OutputCheck(unittest.TestCase):
    """A doctored expected value makes the check fail."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, "data")
        datagen.make_base(cls.data, 0.001)
        cls.dump = os.path.join(cls.tmp.name, "dump")
        n = pq.read_metadata(os.path.join(cls.data, "lineitem.parquet")).num_rows
        for key, table in (("count_key", pa.table({"n": pa.array([n],
                                                                 pa.int64())})),
                           ("pinned_key", pa.table({"x": [3, 1, 2]}))):
            os.makedirs(os.path.join(cls.dump, key))
            pq.write_table(table, os.path.join(cls.dump, key, "part-0.parquet"))
        cls.n = n

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def expectations(self, sql, pin):
        return checks.Expectations(run.ROOT, self.data, self.tmp.name,
                                   {"count_key": sql}, {"pinned_key": pin})

    def run_checks(self, exp, rows=None):
        rows = rows or {"count_key": 1, "pinned_key": 3}
        passes = [{"kind": "warm", "samples": [
            {"key": k, "ok": True, "rows": r, "error": None}
            for k, r in rows.items()]}]
        return checks.check_run(exp, passes, sorted(rows), self.dump)

    def test_right_values_pass_and_doctored_ones_fail(self):
        pin = dict(zip(("rows", "sha256"), checks.fingerprint(
            os.path.join(self.dump, "pinned_key"))))
        good = self.expectations("SELECT count(*) AS n FROM lineitem", pin)
        self.assertEqual(self.run_checks(good), (4, 0, {}))
        doctored_oracle = self.expectations(
            "SELECT count(*) + 1 AS n FROM lineitem", pin)
        attempted, failed, problems = self.run_checks(doctored_oracle)
        self.assertEqual((attempted, failed), (4, 1))
        self.assertIn("count_key", problems)
        doctored_pin = self.expectations("SELECT count(*) AS n FROM lineitem",
                                         dict(pin, sha256="0" * 64))
        self.assertEqual(self.run_checks(doctored_pin)[1], 1)
        wrong_rows = self.run_checks(good, {"count_key": 1, "pinned_key": 4})
        self.assertEqual(wrong_rows[1], 1)

    def test_fingerprint_ignores_row_order(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"x": [1, 2, 3]}),
                           os.path.join(d, "part-0.parquet"))
            self.assertEqual(checks.fingerprint(d), checks.fingerprint(
                os.path.join(self.dump, "pinned_key")))


if __name__ == "__main__":
    unittest.main()
