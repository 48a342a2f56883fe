#!/usr/bin/env python3
"""Correctness references for the benchmark, built with DuckDB apart from the
program under test.

A reference is the result of one SQL text over the benchmark's input tables.
It is cached under `.perfbench/refs/` in the checkout, keyed by the SQL text
and the content signature of the input data, so a reference is rebuilt only
when either changes. Registry rows are compared hash-exact (the same frame
hash the repository's correctness gate uses); the 12 BASELINE shapes use plain
double sums, so their references keep the rows and compare with a tolerance.

Rebuild every reference a workload needs, without running the program's
workloads (the registry's oracle SQL is read from a small JVM call):

    python3 perfbench/refs.py --workload sas_etl [--rebuild]

DuckDB runs with at most `nproc` threads, a 2 GB memory limit and its spill
directory inside the run's directory (`.perfbench/`), bounded to SPILL_LIMIT
and removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SPILL_LIMIT = "4GB"

# The 12 BASELINE.md shapes as plain SQL. Taken from the DuckDB twin of
# graft.Bench, with three changes so that the result is a fixed set that
# graft.Bench's shapes must reproduce: window_rank keeps every orders column
# (as the Spark shape does), pivot columns carry the pivot values as names,
# and dedup_exact keeps the smallest doc_id per text (DISTINCT ON picks any).
# knn_cosine is the registry row llm_cosine_topk and uses its oracle.
SHAPES = {
    "q1_pricing_summary": """
      SELECT l_returnflag, l_linestatus, COUNT(*) count_order,
             SUM(l_quantity) sum_qty, SUM(l_extendedprice) sum_base_price,
             SUM(l_extendedprice * (1.0 - l_discount)) sum_disc_price,
             AVG(l_quantity) avg_qty, AVG(l_extendedprice) avg_price,
             AVG(l_discount) avg_disc, STDDEV_SAMP(l_quantity) std_qty
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
      GROUP BY l_returnflag, l_linestatus""",
    "q3_join3_topk": """
      SELECT o_orderkey, o_orderdate, SUM(l_extendedprice * (1.0 - l_discount)) revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_join5": """
      SELECT n_name, SUM(l_extendedprice * (1.0 - l_discount)) revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name""",
    "window_rank": """
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) rn
        FROM orders) WHERE rn <= 3""",
    "grouping_sets": """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) n, SUM(o_totalprice) sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""",
    "pivot_transpose": """
      SELECT o_orderstatus,
             SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END) "1-URGENT",
             SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END) "2-HIGH",
             SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END) "3-MEDIUM",
             SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END)
               "4-NOT SPECIFIED",
             SUM(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END) "5-LOW"
      FROM orders GROUP BY o_orderstatus""",
    "sessionize": """
      SELECT user_id, session_id, MIN(ts) session_start, MAX(ts) session_end,
             COUNT(*) n_events, SUM(value) sum_value
      FROM (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) session_id
        FROM (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value,
                 CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR CAST(ts AS TIMESTAMP) > LAG(CAST(ts AS TIMESTAMP)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END new_session
          FROM events))
      GROUP BY user_id, session_id""",
    "tumbling_window": """
      SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) window_start, event_type,
             COUNT(*) n, SUM(value) sum_value
      FROM events GROUP BY window_start, event_type""",
    "text_tokens": """
      SELECT lang, COUNT(*) n_docs, SUM(len(string_split(text, ' '))) total_tokens
      FROM documents GROUP BY lang""",
    "dedup_exact": """
      SELECT MIN(doc_id) doc_id FROM documents GROUP BY text""",
    "asof_like_merge": """
      SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate
      FROM lineitem JOIN orders
        ON l_orderkey = o_orderkey
       AND l_shipdate >= o_orderdate
       AND l_shipdate < o_orderdate + INTERVAL 30 DAY""",
}

# How the benchmark reads a shape's own output where its columns differ in
# form from the reference (Spark's window() yields a struct).
SHAPE_PROJECTIONS = {
    "tumbling_window": 'SELECT "window"."start" AS window_start, event_type, n, sum_value',
}

# Registry rows that stand in for a shape.
SHAPE_ROWS = {"knn_cosine": "llm_cosine_topk"}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, rows by all columns: the repository gate's order."""
    df = df[sorted(df.columns)]
    if len(df.columns) and len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> int:
    return int(pd.util.hash_pandas_object(df, index=False).sum())


def summary(df: pd.DataFrame) -> dict:
    c = canon(df)
    return {"columns": list(c.columns), "rows": len(c), "hash": frame_hash(c)}


def file_md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def data_signature(data_dir: str) -> str:
    parts = [f"{t}={file_md5(os.path.join(data_dir, t + '.parquet'))}" for t in TABLES]
    return hashlib.sha256(",".join(parts).encode()).hexdigest()[:32]


class References:
    """DuckDB references over one data directory, cached by SQL and data."""

    def __init__(self, state_dir: str, data_dir: str, threads: int, tmp_dir: str):
        self.cache = os.path.join(state_dir, "refs")
        self.tmp = tmp_dir
        self.data_dir = data_dir
        self.threads = threads
        self.sig = data_signature(data_dir)
        self._con = None
        os.makedirs(self.cache, exist_ok=True)

    def con(self):
        if self._con is None:
            os.makedirs(self.tmp, exist_ok=True)
            c = duckdb.connect()
            c.execute(f"SET threads={self.threads}")
            c.execute("SET memory_limit='2GB'")
            c.execute(f"SET temp_directory='{self.tmp}'")
            c.execute(f"SET max_temp_directory_size='{SPILL_LIMIT}'")
            for t in TABLES:
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                          f"read_parquet('{self.data_dir}/{t}.parquet')")
            self._con = c
        return self._con

    def _paths(self, sql: str, kind: str):
        key = hashlib.sha256(f"{kind}\n{self.sig}\n{sql}".encode()).hexdigest()[:40]
        return (os.path.join(self.cache, key + ".json"),
                os.path.join(self.cache, key + ".parquet"))

    def exact(self, sql: str, rebuild: bool = False) -> dict:
        """Row count, columns and frame hash of the SQL's result."""
        meta, _ = self._paths(sql, "exact")
        if not rebuild and os.path.exists(meta):
            with open(meta) as f:
                return json.load(f)
        out = summary(self.con().execute(sql).df())
        self._write(meta, out)
        return out

    def rows(self, sql: str, rebuild: bool = False) -> pd.DataFrame:
        """The SQL's result rows, for a compare with a float tolerance."""
        _, frame = self._paths(sql, "rows")
        if not rebuild and os.path.exists(frame):
            return pd.read_parquet(frame)
        df = self.con().execute(sql).df()
        df.to_parquet(frame + ".part", index=False)
        os.replace(frame + ".part", frame)
        return df

    def close(self):
        if self._con is not None:
            self._con.close()
            self._con = None
        shutil.rmtree(self.tmp, ignore_errors=True)

    @staticmethod
    def _write(path: str, obj: dict):
        with open(path + ".part", "w") as f:
            json.dump(obj, f)
        os.replace(path + ".part", path)


def main():
    import run  # the build and data helpers live beside the benchmark
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(run.WORKLOADS), required=True)
    ap.add_argument("--rebuild", action="store_true",
                    help="recompute references that are already cached")
    a = ap.parse_args()
    cp = run.ensure_build()
    oracles = run.oracle_sql(cp)
    refs = References(run.STATE, run.source_data_dir(), run.cpus(),
                      os.path.join(run.STATE, "duckdb_tmp"))
    try:
        exact, approx = run.WORKLOADS[a.workload].reference_sql(oracles)
        for name, sql in exact.items():
            r = refs.exact(sql, a.rebuild)
            print(f"{name}: {r['rows']} rows (exact)", file=sys.stderr)
        for name, sql in approx.items():
            r = refs.rows(sql, a.rebuild)
            print(f"{name}: {len(r)} rows (tolerance)", file=sys.stderr)
    finally:
        refs.close()


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
