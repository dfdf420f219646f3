"""Tests of the benchmark's generator and truth comparators (no Spark needed).

Run from the root of a checkout of the repository:

    python3 -m unittest discover -s pipebench -p 'test_*.py'
"""
import importlib.util
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import compare
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data", "sf0.01")


def _tmp() -> str:
    os.makedirs(WORK, exist_ok=True)
    return tempfile.mkdtemp(dir=WORK, prefix="test-")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = _tmp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def _files(self, seed, days, sub):
        gen.write_days(seed, os.path.join(self.dir, sub), days)
        d = os.path.join(self.dir, sub, "events.parquet")
        return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}

    def test_same_seed_gives_identical_files(self):
        self.assertEqual(self._files(3, range(5), "a"), self._files(3, range(5), "b"))

    def test_other_seed_changes_prices_not_times(self):
        a, b = gen.day_table(3, 4), gen.day_table(4, 4)
        self.assertEqual(a.column("ts"), b.column("ts"))
        self.assertNotEqual(a.column("value"), b.column("value"))

    def test_day_count_and_tiles_neither_overlap_nor_collide(self):
        files = self._files(1, range(20), "a")
        self.assertEqual(len(files), 20)
        tables = [gen.day_table(1, i) for i in range(20)] + [gen.restated_table(1, 7)]
        ids = pa.concat_arrays([t.column("event_id").combine_chunks() for t in tables])
        self.assertEqual(len(pc.unique(ids)), len(ids) - len(tables[7]))  # restated day 7 reuses ids
        for i in range(19):
            self.assertLess(pc.max(tables[i].column("ts")).as_py(),
                            pc.min(tables[i + 1].column("ts")).as_py())
        for t in tables:
            self.assertEqual(len(pc.unique(t.column("ts"))), len(t))

    def test_restatement_keeps_every_tick_and_adds_late_ones(self):
        orig, rest = gen.day_table(5, 30), gen.restated_table(5, 30)
        old = set(orig.column("event_id").to_pylist())
        self.assertTrue(old <= set(rest.column("event_id").to_pylist()))
        self.assertGreater(len(rest), len(orig))
        by_id = dict(zip(rest.column("event_id").to_pylist(), rest.column("value").to_pylist()))
        changed = sum(by_id[i] != v for i, v in zip(orig.column("event_id").to_pylist(),
                                                    orig.column("value").to_pylist()))
        self.assertGreater(changed, 0)
        day = gen.day_date(30)
        self.assertTrue(all(ts.date() == day for ts in rest.column("ts").to_pylist()))


def _write_table(root, name, table):
    for d in set(table.column("p_date").to_pylist()):
        part = table.filter(pc.equal(table.column("p_date"), d)).drop_columns(["p_date"])
        path = os.path.join(root, name, f"p_date={d}")
        os.makedirs(path, exist_ok=True)
        pq.write_table(part, os.path.join(path, "part-0.parquet"))


def _warehouse(root, gold_rows, silver_rows):
    ts = pa.timestamp("us", tz="UTC")
    gold = pa.table({
        "unique_id": [r[0] for r in gold_rows],
        "candle_start": pa.array([r[1] for r in gold_rows], ts),
        "sma_50": [r[2] for r in gold_rows],
        "dbt_updated_at": pa.array([0] * len(gold_rows), ts),
        "p_date": [r[1].date().isoformat() for r in gold_rows],
    })
    silver = pa.table({
        "observed_at": pa.array([r[0] for r in silver_rows], ts),
        "close_price": [r[1] for r in silver_rows],
        "dbt_updated_at": pa.array([len(silver_rows)] * len(silver_rows), ts),
        "p_date": [r[0].date().isoformat() for r in silver_rows],
    })
    _write_table(root, "fct_timeframes", gold)
    _write_table(root, "stg_ticks", silver)
    return root


class ComparatorTest(unittest.TestCase):
    def setUp(self):
        import datetime as dt
        self.dir = _tmp()
        t = [dt.datetime(2024, 1, 1 + i // 3, i % 3) for i in range(6)]
        self.gold = [(f"id{i}", t[i], 1.0 + i) for i in range(6)]
        self.silver = [(t[i], 1.1 + i) for i in range(6)]
        self.truth = _warehouse(os.path.join(self.dir, "truth"), self.gold, self.silver)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_equal_warehouses_compare_clean(self):
        # the audit column differs (dbt_updated_at) and must not count
        wh = _warehouse(os.path.join(self.dir, "wh"), self.gold, self.silver[::-1])
        self.assertEqual(compare.silver_diff(wh, self.truth), 0)
        self.assertEqual(compare.gold_diff(wh, self.truth),
                         {"missing": 0, "stale": 0, "extra": 0, "truth_rows": 6})

    def test_deleted_row_is_missing_and_changed_sma_is_stale(self):
        gold = [g for g in self.gold if g[0] != "id2"]
        gold = [(i, t, v + 1e-9 if i == "id4" else v) for i, t, v in gold]
        wh = _warehouse(os.path.join(self.dir, "wh"), gold, self.silver)
        self.assertEqual(compare.gold_diff(wh, self.truth),
                         {"missing": 1, "stale": 1, "extra": 0, "truth_rows": 6})

    def test_extra_row_and_silver_change_are_counted(self):
        import datetime as dt
        gold = self.gold + [("id9", dt.datetime(2024, 1, 2, 9), 3.0)]
        silver = self.silver[:-1] + [(self.silver[-1][0], 9.9)]
        wh = _warehouse(os.path.join(self.dir, "wh"), gold, silver)
        self.assertEqual(compare.gold_diff(wh, self.truth)["extra"], 1)
        self.assertEqual(compare.silver_diff(wh, self.truth), 2)


class OracleTest(unittest.TestCase):
    """The query_mix gate, over the benchmark's own copy of the tables."""

    def setUp(self):
        import duckdb
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
        self.check_oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.check_oracle)
        self.dir = _tmp()
        sql = "SELECT n_nationkey, n_name FROM nation"
        nation = os.path.join(DATA, "nation.parquet")
        con = duckdb.connect()
        for name, where in (("same", ""), ("changed", " WHERE n_nationkey <> 3")):
            os.makedirs(os.path.join(self.dir, name))
            con.execute(f"COPY (SELECT n_nationkey, n_name FROM read_parquet('{nation}'){where}) "
                        f"TO '{os.path.join(self.dir, name, 'part-0.parquet')}' (FORMAT parquet)")
        with open(os.path.join(self.dir, "oracle_sql.json"), "w") as f:
            json.dump({"same": sql, "changed": sql, "missing": sql, "no_sql": ""}, f)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_only_matching_outputs_pass(self):
        bad = compare.query_failures(self.check_oracle, DATA, self.dir)
        self.assertEqual(sorted(bad), ["changed", "missing", "no_sql"])
        self.assertIn("ROWCOUNT", bad["changed"])


if __name__ == "__main__":
    unittest.main()
