"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The harness test compiles the engine on first use (about half a minute) and
starts one JVM.
"""
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

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

# Row counts and arrow schemas of the sf0.01 test tables (FIXTURES.md).
SF001_COUNTS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
    "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
    "embeddings": 500,
}
I32, I64, F64, STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us")
TABLE_SCHEMAS = {
    "region": [("r_regionkey", I32), ("r_name", STR)],
    "nation": [("n_nationkey", I32), ("n_name", STR), ("n_regionkey", I32)],
    "customer": [("c_custkey", I64), ("c_name", STR), ("c_nationkey", I32),
                 ("c_acctbal", F64), ("c_mktsegment", STR)],
    "supplier": [("s_suppkey", I64), ("s_name", STR), ("s_nationkey", I32),
                 ("s_acctbal", F64)],
    "part": [("p_partkey", I64), ("p_name", STR), ("p_brand", STR), ("p_type", STR),
             ("p_size", I32), ("p_retailprice", F64)],
    "orders": [("o_orderkey", I64), ("o_custkey", I64), ("o_orderstatus", STR),
               ("o_totalprice", F64), ("o_orderdate", TS), ("o_orderpriority", STR)],
    "lineitem": [("l_orderkey", I64), ("l_partkey", I64), ("l_suppkey", I64),
                 ("l_linenumber", I32), ("l_quantity", F64), ("l_extendedprice", F64),
                 ("l_discount", F64), ("l_tax", F64), ("l_returnflag", STR),
                 ("l_linestatus", STR), ("l_shipdate", TS)],
    "events": [("event_id", I64), ("ts", TS), ("user_id", I64), ("event_type", STR),
               ("value", F64), ("props", STR)],
    "documents": [("doc_id", I64), ("text", STR), ("lang", STR), ("source", STR),
                  ("n_chars", I64)],
    "embeddings": [("vec_id", I64), ("embedding", pa.list_(pa.float32())), ("label", I32)],
}
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


class SnapshotTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.base = datagen.base_tables()

    def test_same_seed_gives_identical_snapshots(self):
        a, b = datagen.derive(self.base, 7), datagen.derive(self.base, 7)
        for name in datagen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        with tempfile.TemporaryDirectory() as d:
            datagen.write(a, f"{d}/a")
            datagen.write(b, f"{d}/b")
            for name in datagen.TABLES:
                with open(f"{d}/a/{name}.parquet", "rb") as fa, \
                        open(f"{d}/b/{name}.parquet", "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), name)

    def test_different_seeds_relabel_every_key_domain(self):
        a, b = datagen.derive(self.base, 1), datagen.derive(self.base, 2)
        for domain, cols in datagen.DOMAINS.items():
            table, col = cols[0]
            # same key set, different labels for the same base row
            ka = sorted(a[table].column(col).to_pylist())
            kb = sorted(b[table].column(col).to_pylist())
            self.assertEqual(ka, kb, domain)
            self.assertNotEqual(a[table].column(col).to_pylist(),
                                b[table].column(col).to_pylist(), domain)
        # a row keeps its values under relabelling: customer names move
        # with their keys, so the name -> key map differs between seeds
        name_a = dict(zip(a["customer"]["c_name"].to_pylist(), a["customer"]["c_custkey"].to_pylist()))
        name_b = dict(zip(b["customer"]["c_name"].to_pylist(), b["customer"]["c_custkey"].to_pylist()))
        self.assertNotEqual(name_a, name_b)

    def test_relabelling_keeps_join_and_skew_structure(self):
        def shape(t):
            orders = t["orders"].to_pydict()
            cust_of = dict(zip(orders["o_orderkey"], orders["o_custkey"]))
            lines = t["lineitem"]["l_orderkey"].to_pylist()
            per_order = sorted(_counts(lines).values())
            per_cust = sorted(_counts(cust_of[o] for o in lines).values())
            users = set(t["customer"]["c_custkey"].to_pylist())
            return per_order, per_cust, all(u in users for u in t["events"]["user_id"].to_pylist())
        self.assertEqual(shape(datagen.derive(self.base, 1)), shape(datagen.derive(self.base, 9)))
        self.assertTrue(shape(datagen.derive(self.base, 1))[2])

    def test_schemas_and_row_counts_match_the_sf001_test_tables(self):
        with tempfile.TemporaryDirectory() as d:
            datagen.write(datagen.derive(self.base, 3), d)
            self.assertEqual(sorted(os.listdir(d)), sorted(f"{t}.parquet" for t in SF001_COUNTS))
            for name, fields in TABLE_SCHEMAS.items():
                f = pq.ParquetFile(f"{d}/{name}.parquet")
                got = [(x.name, x.type) for x in f.schema_arrow]
                self.assertEqual(got, fields, name)
                self.assertEqual(f.metadata.num_rows, SF001_COUNTS[name], name)
                self.assertEqual(f.metadata.num_row_groups, 1, name)


class MetricsTest(unittest.TestCase):
    def test_tail_rank_leaves_ten_samples_beyond(self):
        for n in range(11, 80):
            k, pct = run.tail_rank(n)
            self.assertEqual(n - 1 - k, 10)
            self.assertAlmostEqual(pct, 100.0 * (k + 1) / n)
        self.assertEqual(run.tail_rank(27), (16, 100.0 * 17 / 27))
        with self.assertRaises(ValueError):
            run.tail_rank(10)

    def test_failed_execution_is_counted_and_never_timed(self):
        result = _synthetic_result()
        result["execs"].append({"pass": 1, "query": "boom", "ok": False, "error": "RuntimeException: x",
                                "construct_s": None, "execute_s": None, "release_s": 0.001,
                                "ckpt_rdds": 0, "downgrade": False, "builds": 0, "build_s": 0.0})
        attempted, failed, named = run.failure_counts(result, ["q1: rows spark=1 duck=2"], setup_ops=2)
        self.assertEqual(attempted, 2 + len(result["execs"]) + len(result["gate"]))
        self.assertEqual(failed, 2)
        self.assertTrue(any("boom" in n for n in named))
        self.assertEqual(len(run.query_times(result, 3)), len(result["execs"]) - 1)

    def test_every_metric_name_is_well_formed_and_declared(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        for name in list(declared_e2e) + list(declared_layer) + [w["name"] for w in bench["workloads"]]:
            self.assertRegex(name, NAME)
        result = _synthetic_result()
        e2e = run.end_to_end(result, launch_s=0.0, rss_mb=900.0, attempted=10, failed=0)
        layer = run.per_layer(result, spark_errors=0)
        self.assertEqual({k: u for k, (_, u) in e2e.items()}, declared_e2e)
        self.assertEqual({k: u for k, (_, u) in layer.items()}, declared_layer)
        self.assertEqual(set(json.load(open(os.path.join(BENCH, "workloads.json")))["workloads"]),
                         {w["name"] for w in bench["workloads"]})

    def test_spark_errors_count_log_events_not_stack_lines(self):
        with tempfile.NamedTemporaryFile("w", suffix=".err", delete=False) as fh:
            fh.write("10:21:32.920 WARN Utils: loopback\n"
                     "10:21:40.001 ERROR DAGScheduler: non-existent accumulator 7\n"
                     "\tat org.apache.spark.scheduler.DAGScheduler.run(DAGScheduler.scala:1)\n"
                     "10:21:41.500 ERROR Executor: task failed\n")
        try:
            self.assertEqual(run.count_errors(fh.name), 2)
        finally:
            os.unlink(fh.name)

    def test_self_times_add_up_to_the_pass_wall_time(self):
        p = {"pass": 2, "start_ms": 0.0, "end_ms": 100.0}
        sp = [_span("pass", 2, 0, 100), _span("query", 2, 1, 90), _span("construct", 2, 1, 40),
              _span("execute", 2, 40, 90), _span("job", -1, 10, 30), _span("job", -1, 20, 60),
              _span("catalyst.planning", -1, 41, 45), _span("job", -1, 95, 120)]
        mine = spans.in_pass(sp, p)
        selfs = spans.self_times(mine, 0.0, 100.0)
        self.assertAlmostEqual(sum(selfs.values()), 100.0)
        # jobs cover [10, 60] and the clipped [95, 100], less the planning
        # phase that started inside a job at the same depth
        self.assertAlmostEqual(selfs["job"], 55 - 4)
        self.assertAlmostEqual(selfs["catalyst.planning"], 4)
        self.assertAlmostEqual(selfs["construct"], 9)
        self.assertAlmostEqual(spans.covered_s(mine, "job", 0.0, 100.0), 0.055)
        self.assertEqual(spans.jobs_inside(mine, "construct"), 2)
        parents = {s["kind"] + str(s["start"]): s["parent"] for s in spans.with_parents(mine)}
        self.assertIsNone(parents["pass0.0"])


class HarnessTest(unittest.TestCase):
    def test_throwing_query_lands_in_failed_and_is_not_timed(self):
        import build
        os.chdir(ROOT)
        build.build()
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, build.BUILD_DIR)) as d:
            os.makedirs(f"{d}/tmp")
            datagen.write(datagen.derive(datagen.base_tables(), 1), f"{d}/input")
            props = {"trace": 0, "cores": 2, "queries": "top_spenders,no_such_query",
                     "warmup": "", "prebuild": "", "setup.reps": 1, "snapshot": f"{d}/input",
                     "seconds": 0, "passes.min": 1, "root": d, "gate.dir": f"{d}/gate",
                     "out": f"{d}/result.json"}
            with open(f"{d}/h.properties", "w") as fh:
                fh.writelines(f"{k}={v}\n" for k, v in props.items())
            run.run_jvm(f"{d}/h.properties", d)
            with open(f"{d}/result.json") as fh:
                result = json.load(fh)
        bad = [e for e in result["execs"] if e["query"] == "no_such_query"]
        self.assertEqual(len(bad), 1)
        self.assertFalse(bad[0]["ok"])
        self.assertIsNone(bad[0]["construct_s"])
        self.assertIsNone(bad[0]["execute_s"])
        gate = {g["query"]: g["ok"] for g in result["gate"]}
        self.assertEqual(gate, {"top_spenders": True, "no_such_query": False})
        attempted, failed, _ = run.failure_counts(result, [], setup_ops=0)
        self.assertEqual((attempted, failed), (4, 1))
        self.assertEqual(run.query_times(result, 1), [
            e["construct_s"] + e["execute_s"] for e in result["execs"] if e["query"] == "top_spenders"])


def _counts(xs):
    out = {}
    for x in xs:
        out[x] = out.get(x, 0) + 1
    return out


def _span(kind, p, a, b):
    return {"kind": kind, "name": kind, "pass": p, "start": float(a), "end": float(b)}


def _synthetic_result():
    """A harness result with three passes (cold traced, warm bare, warm
    traced) of seven queries each, shaped like Harness.scala's output."""
    layers = {"jobs": 5, "stages": 6, "tasks": 20, "task_cpu_ns": 10**9, "input_b": 2**20,
              "input_rows": 1000, "catalyst_analysis_ms": 3, "catalyst_optimization_ms": 4,
              "catalyst_planning_ms": 5, "janino_ms": 50, "janino_classes": 7, "gc_ms": 9,
              "hotspot_compile_ms": 90, "microbatches": 2, "microbatch_planning_ms": 8,
              "microbatch_addbatch_ms": 30, "shuffle_write_b": 2**20, "shuffle_read_b": 2**20,
              "spill_b": 0}
    passes, execs, sp = [], [], []
    for n in range(3):
        t0 = 1000.0 * n
        traced = n != 1
        passes.append({"pass": n, "wall_s": 0.7 + 0.01 * n, "traced": traced, "start_ms": t0,
                       "end_ms": t0 + 700.0 + 10 * n, "layers": layers if traced else None})
        sp.append(_span("pass", n, t0, t0 + 700.0 + 10 * n))
        for i in range(7):
            a = t0 + 100.0 * i
            execs.append({"pass": n, "query": f"q{i}", "ok": True, "error": None,
                          "construct_s": 0.02, "execute_s": 0.07 + 0.001 * i, "release_s": 0.001,
                          "ckpt_rdds": 1, "downgrade": False, "builds": 0, "build_s": 0.0})
            sp += [_span("query", n, a, a + 95), _span("construct", n, a, a + 20),
                   _span("execute", n, a + 20, a + 90), _span("job", -1, a + 25, a + 85)]
    return {"session_ready_ms": 4000.0, "setup_reps": [{"s": 1.0, "builds": 2, "build_s": 0.5}] * 3,
            "setup_errors": [], "passes": passes, "execs": execs, "layout_bytes": 2**20,
            "gate": [{"query": f"q{i}", "ok": True, "downgrade": False, "oracle": True}
                     for i in range(7)],
            "gate_s": 1.0, "spans": sp}


if __name__ == "__main__":
    unittest.main()
