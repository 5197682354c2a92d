"""Output checks, run after the timed region. Each returns (ok, detail).

The E1 lake tables compare byte-strictly, as row multisets, against DuckDB
oracles over the same generated events. The dashboard views compare with
the DuckDB oracle of their registry twin: the top-k views differ from their
twins only in rounding, so those compare keys and order exactly and values
to the twin's rounding. Registry queries go through tools/check.py.
"""
import datetime
import glob
import json
import os
import struct
import subprocess
import sys

import duckdb

# Oracles for the E1 lake tables the daily replay maintains, written apart
# from the program's own SQL. Doubles follow the program's arithmetic op for
# op (fixed-point close, then plain subtraction and division), so the
# compare is exact. The day path is exact against them while the history is
# shorter than Pipeline.DayLookback.
HISTORY_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (100.0 * count(*)) AS close,
         max(value) AS high, min(value) AS low, count(*) AS n_events
  FROM events GROUP BY 1, 2)
SELECT user_id, d, close, high, low, n_events,
       lag(close) OVER (PARTITION BY user_id ORDER BY d) AS prev_close
FROM daily"""

ANALYSIS_SQL = f"""
WITH h AS ({HISTORY_SQL}),
act AS (SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS news_count
        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
SELECT a.user_id, a.d, a.news_count, h.close - h.prev_close AS price_change,
       CASE WHEN h.close - h.prev_close > 0 THEN 'Up'
            WHEN h.close - h.prev_close < 0 THEN 'Down' ELSE 'No Change' END AS price_direction,
       CASE WHEN h.low > 0 THEN (h.high - h.low) / h.low * 100 END AS volatility_score
FROM act a LEFT JOIN h USING (user_id, d)"""


def _rows(con, sql):
    return con.sql(sql).fetchall()


def _parquet(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return ("read_parquet([" + ",".join(f"'{f}'" for f in files) + "], hive_partitioning=true, "
            "hive_types_autocast=true)")


def events_view(con, sf):
    """`events` over the raw zone's day files, as the oracles expect it."""
    src = os.path.join(sf, "events.parquet")
    files = [src] if os.path.isfile(src) else sorted(glob.glob(os.path.join(src, "*.parquet")))
    con.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet(["
                + ",".join(f"'{f}'" for f in files) + "])")


def _key(row):
    """Byte-strict row key: doubles by IEEE bits, so -0.0 and 0.0 differ."""
    return tuple(("f8", struct.pack(">d", x)) if isinstance(x, float) else (type(x).__name__, x)
                 for x in row)


def lake_matches_oracles(sf, lake, patterns_sql):
    """The E1 lake's history, patterns and analysis tables against DuckDB
    oracles; patterns against q_e1_pipeline's own oracle."""
    con = duckdb.connect()
    events_view(con, sf)
    tables = {
        "stock_price_history": ("user_id, d, close, high, low, n_events, prev_close", HISTORY_SQL),
        "trading_patterns": ("user_id, d, pattern_category, pattern", patterns_sql),
        "news_stock_analysis": ("user_id, d, news_count, price_change, price_direction, volatility_score",
                                ANALYSIS_SQL),
    }
    for t, (cols, sql) in tables.items():
        want = sorted(map(_key, _rows(con, f"SELECT {cols} FROM ({sql})")), key=repr)
        got = sorted(map(_key, _rows(con, f"SELECT {cols} FROM {_parquet(os.path.join(lake, t))}")), key=repr)
        if want != got:
            return False, f"{t}: oracle {len(want)} rows, lake {len(got)} rows"
    return True, ""


def _close(a, b, tol):
    return a is None and b is None or a is not None and b is not None and abs(a - b) <= tol


def view_matches_twin(view, rows, oracle_sql, sf):
    """A dashboard view's rows, as JSON objects in the view's order, against
    its oracle-backed registry twin."""
    con = duckdb.connect()
    events_view(con, sf)
    o = con.sql(oracle_sql)
    want = [dict(zip(o.columns, r)) for r in o.fetchall()]
    got = [dict(r, d=datetime.date.fromisoformat(r["d"])) if "d" in r else r for r in rows]
    if view == "companyList":
        ok = (sorted(r["user_id"] for r in got) == sorted(r["user_id"] for r in want)
              and all(r["label"] == f"User ({r['user_id']})" for r in got))
    elif view == "tradingPatterns":
        top = sorted((r for r in want if r["pattern"] != "Neutral"),
                     key=lambda r: (-r["d"].toordinal(), r["user_id"]))[:100]
        ok = [(r["user_id"], r["d"], r["pattern"]) for r in got] == \
             [(r["user_id"], r["d"], r["pattern"]) for r in top]
    elif view in ("topGainers", "topLosers"):
        ok = len(got) == len(want) and all(
            (g["user_id"], g["d"]) == (w["user_id"], w["d"])
            and _close(g["close"], w["close"], 0.0051) and _close(g["pct_change"], w["pct_change"], 1e-4)
            for g, w in zip(got, want))
    elif view == "highVolatility":
        ok = len(got) == len(want) and all(
            (g["user_id"], g["d"]) == (w["user_id"], w["d"]) and _close(g["pct_range"], w["pct_range"], 1e-4)
            for g, w in zip(got, want))
    elif view == "marketBehavior":
        ok = len(got) == len(want) and all(
            (g["d"], g["n_users"]) == (w["d"], w["n_users"])
            and _close(g["avg_close"], w["avg_close"], 1e-9 * max(1.0, abs(w["avg_close"])))
            for g, w in zip(sorted(got, key=lambda r: r["d"]), want))
    else:
        raise ValueError(f"no twin comparison for view {view}")
    return ok, "" if ok else f"{len(got)} view rows vs {len(want)} oracle rows"


def catalog_matches_oracles(repo, sf, out_dir, oracle_sql):
    """tools/check.py's byte-strict compare, run unchanged on the outputs.
    check.py reads one file per table, so the day files of `events` are
    merged into a single file for it first."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    flat = out_dir.rstrip("/") + "_sf"
    os.makedirs(flat, exist_ok=True)
    for f in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        dst = os.path.join(flat, os.path.basename(f))
        if os.path.isdir(f):
            days = sorted(glob.glob(os.path.join(f, "*.parquet")))
            pq.write_table(pa.concat_tables([pq.read_table(d) for d in days]), dst)
        elif not os.path.exists(dst):
            os.symlink(f, dst)
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    p = subprocess.run([sys.executable, os.path.join(repo, "tools", "check.py"), flat, out_dir]
                       + sorted(oracle_sql), capture_output=True, text=True, timeout=120)
    failed = [ln for ln in p.stdout.splitlines() if ln.startswith("FAIL")]
    return p.returncode == 0 and not failed, "; ".join(failed)[:500]
