"""Self-tests of the benchmark: every output check passes on correct output
and fails on a deliberately corrupted one, and the generator is a pure
function of its seed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Needs duckdb and pyarrow, and tools/check.py at the checkout root; no JVM.
"""
import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

PATTERNS_SQL = """
SELECT user_id, CAST(ts AS DATE) AS d, 'Trend Patterns' AS pattern_category,
       CASE WHEN max(value) > 100 THEN 'Bullish Trend' ELSE 'Bearish Trend' END AS pattern
FROM events GROUP BY 1, 2"""


def digest(root):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)):
        if os.path.isdir(f):
            continue
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def write_partitioned(con, sql, out):
    con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET, PARTITION_BY (d))")


def corrupt_first(path, column, fn):
    """Rewrite the first parquet file under `path` with `fn` applied to the
    first row's `column`."""
    f = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))[0]
    t = pq.read_table(f)
    col = t.column(column).to_pylist()
    col[0] = fn(col[0])
    pq.write_table(t.set_column(t.schema.get_field_index(column), column,
                                [col]), f)


class ChecksTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.sf = os.path.join(cls.tmp, "sf")
        gen.generate(3, cls.sf, os.path.join(cls.tmp, "staged"), n_symbols=12,
                     history_days=25, replay_days=0, n_docs=40, n_vecs=20)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def fresh(self, name):
        d = os.path.join(self.tmp, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def lake(self, name):
        lake = self.fresh(name)
        os.makedirs(lake)
        con = duckdb.connect()
        checks.events_view(con, self.sf)
        write_partitioned(con, checks.HISTORY_SQL, os.path.join(lake, "stock_price_history"))
        write_partitioned(con, PATTERNS_SQL, os.path.join(lake, "trading_patterns"))
        write_partitioned(con, checks.ANALYSIS_SQL, os.path.join(lake, "news_stock_analysis"))
        return lake

    def test_generator_is_seeded(self):
        a, b, c = self.fresh("ga"), self.fresh("gb"), self.fresh("gc")
        for root, seed in ((a, 9), (b, 9), (c, 10)):
            gen.generate(seed, os.path.join(root, "sf"), os.path.join(root, "staged"), n_symbols=8,
                         history_days=4, replay_days=2, n_docs=30, n_vecs=10)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))
        self.assertEqual(len(glob.glob(os.path.join(a, "sf", "events.parquet", "*.parquet"))), 4)
        self.assertEqual(len(glob.glob(os.path.join(a, "staged", "*.parquet"))), 2)

    def test_lake_check(self):
        lake = self.lake("lake_ok")
        self.assertTrue(checks.lake_matches_oracles(self.sf, lake, PATTERNS_SQL)[0])
        for table, column, fn in (("stock_price_history", "close", lambda x: x + 0.01),
                                  ("stock_price_history", "prev_close", lambda x: -0.0 if x == 0.0 else 0.0),
                                  ("trading_patterns", "pattern", lambda x: "Golden Cross"),
                                  ("news_stock_analysis", "news_count", lambda x: x + 1)):
            lake = self.lake("lake_bad")
            corrupt_first(os.path.join(lake, table), column, fn)
            ok, detail = checks.lake_matches_oracles(self.sf, lake, PATTERNS_SQL)
            self.assertFalse(ok, f"{table}.{column} corruption went unnoticed")
            self.assertIn(table, detail)

    def test_lake_check_counts_rows(self):
        lake = self.lake("lake_short")
        os.remove(sorted(glob.glob(os.path.join(lake, "news_stock_analysis", "*", "*.parquet")))[-1])
        self.assertFalse(checks.lake_matches_oracles(self.sf, lake, PATTERNS_SQL)[0])

    def test_view_checks(self):
        con = duckdb.connect()
        checks.events_view(con, self.sf)
        twin = {
            "topGainers": """SELECT user_id, CAST(ts AS DATE) AS d, round(max(value), 2) AS close,
                                    round(min(value), 4) AS pct_change
                             FROM events GROUP BY 1, 2 ORDER BY pct_change DESC, user_id LIMIT 10""",
            "companyList": "SELECT user_id, count(*) AS n FROM events GROUP BY 1 ORDER BY 1",
        }
        view = {
            "topGainers": f"SELECT user_id, d, close + 0.001 AS close, pct_change FROM ({twin['topGainers']})",
            "companyList": "SELECT DISTINCT user_id, concat('User (', user_id, ')') AS label FROM events",
        }
        bad = {"topGainers": ("pct_change", lambda x: x + 0.5),
               "companyList": ("label", lambda x: x + "x")}
        for v in twin:
            r = con.sql(view[v])
            rows = [{k: x.isoformat() if k == "d" else x for k, x in zip(r.columns, row)}
                    for row in r.fetchall()]
            self.assertTrue(checks.view_matches_twin(v, rows, twin[v], self.sf)[0], v)
            column, fn = bad[v]
            rows[0][column] = fn(rows[0][column])
            self.assertFalse(checks.view_matches_twin(v, rows, twin[v], self.sf)[0], v)
            self.assertFalse(checks.view_matches_twin(v, rows[1:], twin[v], self.sf)[0], v)

    def test_catalog_check(self):
        repo = os.path.dirname(HERE)
        out = self.fresh("catalog")
        sql = {"q_docs": "SELECT doc_id, n_chars FROM documents ORDER BY doc_id"}
        os.makedirs(os.path.join(out, "q_docs"))
        duckdb.connect().execute(
            f"COPY (SELECT doc_id, n_chars FROM read_parquet('{self.sf}/documents.parquet')) "
            f"TO '{out}/q_docs/part-0.parquet' (FORMAT PARQUET)")
        self.assertTrue(checks.catalog_matches_oracles(repo, self.sf, out, sql)[0])
        corrupt_first(os.path.join(out, "q_docs"), "n_chars", lambda x: x + 1)
        self.assertFalse(checks.catalog_matches_oracles(repo, self.sf, out, sql)[0])
        self.assertTrue(json.load(open(os.path.join(out, "oracle_sql.json"))))


if __name__ == "__main__":
    unittest.main()
