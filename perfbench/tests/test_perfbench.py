"""Tests of the benchmark's own arithmetic, seeding and output checks.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import pathlib
import sys
import tempfile
import types
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


class SeedTest(unittest.TestCase):
    NAMES = ["a", "b", "c", "d", "e", "f"]

    def test_same_seed_same_op_orders(self):
        self.assertEqual(workloads.pass_orders(self.NAMES, 7), workloads.pass_orders(self.NAMES, 7))
        self.assertEqual(workloads.restore_routes(7, 20), workloads.restore_routes(7, 20))

    def test_other_seed_other_op_orders(self):
        self.assertNotEqual(workloads.pass_orders(self.NAMES, 7), workloads.pass_orders(self.NAMES, 8))

    def test_each_order_is_a_permutation(self):
        for order in workloads.pass_orders(self.NAMES, 3):
            self.assertEqual(sorted(order), self.NAMES)

    def test_same_seed_same_tables(self):
        a = datagen.make_tables(5, 0.0005)
        b = datagen.make_tables(5, 0.0005)
        for name in datagen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a = datagen.make_tables(5, 0.0005)
        b = datagen.make_tables(6, 0.0005)
        for name in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
            self.assertFalse(a[name].equals(b[name]), name)

    def test_tables_keep_the_fixture_schemas(self):
        t = datagen.make_tables(1, 0.0005)
        self.assertEqual(t["orders"].schema.field("o_orderdate").type, pa.timestamp("us"))
        self.assertEqual(t["events"].schema.field("ts").type, pa.timestamp("us"))
        self.assertEqual(t["embeddings"].schema.field("embedding").type, pa.list_(pa.float32()))
        self.assertEqual(t["nation"].schema.field("n_nationkey").type, pa.int32())
        self.assertEqual(t["lineitem"].schema.field("l_orderkey").type, pa.int64())
        texts = t["documents"].column("text").to_pylist()
        self.assertEqual(t["documents"].column("n_chars").to_pylist(), [len(x) for x in texts])

    def test_backup_ticks_are_seeded(self):
        a = datagen.backup_ticks(3, 6, 4, 50, 2, 3)
        b = datagen.backup_ticks(3, 6, 4, 50, 2, 3)
        c = datagen.backup_ticks(4, 6, 4, 50, 2, 3)
        self.assertEqual(a[1], b[1])
        self.assertTrue(all(a[0][k].equals(b[0][k]) for k in a[0]))
        self.assertNotEqual(
            [a[0][k].column("value").to_pylist() for k in sorted(a[0])],
            [c[0][k].column("value").to_pylist() for k in sorted(c[0])])

    def test_each_tick_adds_a_day_and_rewrites_older_ones(self):
        versions, ticks = datagen.backup_ticks(3, 6, 5, 50, 2, 3)
        for t in range(1, len(ticks)):
            days = [int(k[1:4]) for k in ticks[t]]
            self.assertEqual(days, list(range(t, t + 5)))
            fresh = set(ticks[t]) - set(ticks[t - 1])
            self.assertEqual(len(fresh), 3)  # the new day and two rewrites
            self.assertIn(f"d{t + 4:03d}_v00", fresh)
            # rewrites stay within the 3 days before the new one
            self.assertTrue(all(int(k[1:4]) > t for k in fresh))
        ids = pa.concat_tables(versions.values()).column("event_id").to_pylist()
        self.assertEqual(len(ids), len(set(ids)))


class ChecksTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = pathlib.Path(self.tmp.name)
        self.data = self.dir / "data"
        self.data.mkdir()
        datagen.write_tables(datagen.make_tables(2, 0.0005), self.data)
        self.check = self.dir / "check"
        (self.check / "oracle").mkdir(parents=True)

    def tearDown(self):
        self.tmp.cleanup()

    def _output(self, name, table, oracle=None):
        (self.check / name).mkdir()
        pq.write_table(table, self.check / name / "part-0.parquet")
        if oracle:
            (self.check / "oracle" / f"{name}.sql").write_text(oracle)

    def test_oracle_match_mismatch_and_missing(self):
        nations = pq.read_table(self.data / "nation.parquet").select(["n_nationkey", "n_name"])
        self._output("q_ok", nations, "SELECT n_name, n_nationkey FROM nation ORDER BY n_nationkey")
        self._output("q_bad", nations.slice(1), "SELECT n_nationkey, n_name FROM nation")
        v = checks.check_queries(["q_ok", "q_bad", "q_none"], self.check, self.data)
        self.assertIsNone(v["q_ok"])
        self.assertIn("shape differs", v["q_bad"])
        self.assertEqual(v["q_none"], "no output written")

    def test_rows_only_queries_need_a_row(self):
        self._output("q_sketch", pa.table({"x": [1]}))
        self._output("q_empty", pa.table({"x": pa.array([], pa.int64())}))
        v = checks.check_queries(["q_sketch", "q_empty"], self.check, self.data)
        self.assertIsNone(v["q_sketch"])
        self.assertEqual(v["q_empty"], "no rows")

    def _digest_output(self, name, digests):
        days = sorted(digests)
        self._output(name, pa.table({
            "bucket_day": days,
            "n_rows": [digests[d][0] for d in days],
            "sum_event_id": [digests[d][1] for d in days],
            "sum_value_cents": [digests[d][2] for d in days]}))

    def test_backup_digests(self):
        versions, ticks = datagen.backup_ticks(1, 3, 3, 40, 1, 2)
        source = [versions[k] for k in ticks[1]]
        want = checks.day_digests(source)
        self.assertEqual(len(want), 3)
        self.assertEqual(sum(n for n, _, _ in want.values()), 120)
        self._digest_output("restored", want)
        newest = max(want)
        off = dict(want)
        off[newest] = (off[newest][0], off[newest][1] + 1, off[newest][2])
        self._digest_output("latest", {newest: off[newest]})
        v = checks.check_backup(self.check, source)
        self.assertIsNone(v["restored"])
        self.assertIn("differ", v["latest"])

    def test_output_the_harness_could_not_compute_fails_its_check(self):
        versions, ticks = datagen.backup_ticks(1, 3, 3, 40, 1, 2)
        inputs = self.dir / "inputs"
        inputs.mkdir()
        datagen.write_tables(versions, inputs)
        (inputs / "ticks.json").write_text(json.dumps(ticks))
        self._digest_output("restored", checks.day_digests([versions[k] for k in ticks[1]]))
        records = [
            {"kind": "setup", "jvm": 0, "check_dir": str(self.dir / "other")},
            {"kind": "check_error", "jvm": 0, "name": "restored", "error": "earlier set-up"},
            {"kind": "setup", "jvm": 1, "check_dir": str(self.check)},
            {"kind": "check_error", "jvm": 1, "name": "latest", "error": "boom"},
        ]
        args = types.SimpleNamespace(workload="backup_cycle")
        verdicts, bad_ops = run.run_checks(args, records, inputs)
        self.assertEqual(verdicts, {"restored": None, "latest": "boom"})
        self.assertEqual(bad_ops, {"backup_all", "read_latest"})


class MetricsTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(run.ratio(3, 4), 0.75)
        self.assertEqual(run.ratio(0, 0), 0.0)
        with self.assertRaises(ZeroDivisionError):
            run.ratio(1, 0)

    def _records(self):
        recs = [{"kind": "setup", "rep": i, "setup_s": s, "codegen_compiles": 10 + i}
                for i, s in enumerate([9.0, 6.0, 6.5])]
        walls = [0.1, 0.3, 0.2, 0.4]
        recs += [{"kind": "op", "pass": 0, "name": f"q{i}", "op_kind": "query", "ok": True,
                  "wall_s": w, "traced": False} for i, w in enumerate(walls)]
        recs.append({"kind": "op", "pass": 0, "name": "q9", "op_kind": "query", "ok": False,
                     "error": "boom", "traced": False})
        recs.append({"kind": "window", "wall_s": 2.0, "passes": 1, "gc_ms": 0,
                     "host_other_cpu_ratio": 0.1})
        recs.append({"kind": "end", "rss_peak_mb": 900.0, "storage_files": 3})
        return recs

    def test_failed_ops_are_counted_not_timed(self):
        recs = self._records()
        ops, valid = run.window_ops(recs, bad_ops={"q3"})
        self.assertEqual((len(ops), len(valid)), (5, 3))
        m = run.end_to_end(recs, valid)
        self.assertAlmostEqual(m["ops_per_s"][0], 1.5)
        self.assertAlmostEqual(m["op_p50_s"][0], 0.2)
        self.assertEqual(m["setup_s"][0], 6.5)
        self.assertEqual(m["rss_peak_mb"][0], 900.0)

    def _trace_records(self):
        recs = self._records()
        recs += [{"kind": "pass", "pass": p, "traced": p % 2 == 1, "wall_s": w}
                 for p, w in enumerate([1.0, 1.1, 1.2, 1.3])]
        layers = {k: 1.0 for k in run.PER_OP}
        layers.update({"construct.analysis_ms": 0.5, "exec.run_ms": 400.0,
                       "snapshot.backup_ms": 30.0, "storage.spark_ms": 0.0})
        recs += [{"kind": "layers", "name": "q0", "op_kind": "query", "wall_s": 0.1,
                  "layers": dict(layers, **{"exec.ms": 90.0})},
                 {"kind": "layers", "name": "q1", "op_kind": "query", "wall_s": 0.3,
                  "layers": dict(layers, **{"exec.ms": 10.0})}]
        return recs

    def test_per_layer_means_and_ratios(self):
        recs = self._trace_records()
        ops, valid = run.window_ops(recs, bad_ops=set())
        m = run.per_layer(recs, ops, valid)
        self.assertEqual(m["exec.ms"][0], 50.0)
        self.assertEqual(m["snapshot.backup_ms"][0], 30.0)
        self.assertEqual(m["snapshot.gc_ms"][0], 0.0)
        self.assertAlmostEqual(m["exec.slot_busy_ratio"][0], 800.0 / (400.0 * run.CORES))
        self.assertAlmostEqual(m["trace.overhead_ratio"][0], (1.1 + 1.3) / (1.0 + 1.2))
        self.assertAlmostEqual(m["run.pass_drift_ratio"][0], 1.2)
        self.assertAlmostEqual(m["failed_ratio"][0], 0.2)
        self.assertEqual(m["codegen.setup_compiles"][0], 11)
        # q0 closes (94.5 of its 100 ms); q1 does not (14.5 of 300 ms)
        self.assertEqual(m["trace.closure_ok_ratio"][0], 0.5)

    def test_metrics_are_the_declared_ones(self):
        recs = self._trace_records()
        ops, valid = run.window_ops(recs, bad_ops=set())
        for trace, m in ((0, run.end_to_end(recs, valid)), (1, run.per_layer(recs, ops, valid))):
            self.assertEqual({k: u for k, (_, u) in m.items()}, run.declared_metrics(trace))

    def test_closure_sums_layer_self_times_over_wall(self):
        query = {"construct.ms": 40.0, "construct.analysis_ms": 5.0,
                 "catalyst.analysis_ms": 6.0, "catalyst.optimize_ms": 3.0,
                 "catalyst.plan_ms": 2.0, "exec.ms": 40.0, "exec.driver_ms": 10.0,
                 "storage.spark_ms": 0.0}
        self.assertAlmostEqual(run.closure(query, 100.0), 0.96)
        # a storage span of 400 ms holding 300 ms of Spark work, then a
        # 60 ms aggregate: storage self-time is the span's other 100 ms
        storage = {"snapshot.restore_ms": 400.0, "storage.wall_ms": 400.0,
                   "storage.spark_ms": 300.0, "catalyst.analysis_ms": 2.0,
                   "catalyst.optimize_ms": 3.0, "catalyst.plan_ms": 5.0, "exec.ms": 250.0,
                   "exec.driver_ms": 100.0}
        self.assertEqual(run.storage_self_ms(storage), 100.0)
        self.assertAlmostEqual(run.closure(storage, 500.0), 0.92)
        # a span taken up by its Spark work adds no storage self-time
        self.assertAlmostEqual(run.closure(dict(storage, **{"storage.wall_ms": 300.0}), 500.0),
                               0.72)

    def test_op_p50_weighs_each_op_once(self):
        ops = [{"name": n, "wall_s": w} for n, w in
               [("a", 1.0), ("a", 1.0), ("a", 10.0), ("a", 1.0), ("b", 2.0), ("c", 3.0)]]
        self.assertEqual(run.op_p50(ops), 2.0)  # medians 1, 2, 3; all samples: 1.5


if __name__ == "__main__":
    unittest.main()
