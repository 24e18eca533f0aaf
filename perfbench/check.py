"""Correctness checks of a run's dumped outputs against the program's own
oracle SQL (SparkEntry.oracleSql), executed by DuckDB over the generated
inputs. Runs outside the timed window."""
import glob
import json
import math

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tables_dir, survivors=None):
    """DuckDB over the generated tables; with `survivors`, documents and
    embeddings are cut down to those ids (the corpus left after a daily
    replay and its takedowns)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if survivors is not None:
        con.execute("CREATE TABLE survivors (id BIGINT)")
        con.executemany("INSERT INTO survivors VALUES (?)", [[i] for i in sorted(survivors)])
    for t in TABLES:
        key = {"documents": "doc_id", "embeddings": "vec_id"}.get(t)
        where = f" WHERE {key} IN (SELECT id FROM survivors)" if survivors is not None and key else ""
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'{where}")
    return con


def _same(x, y):
    if x == y or (x is None and y is None):
        return True
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
        return True
    try:
        return bool(pd.isna(x)) and bool(pd.isna(y))
    except (TypeError, ValueError):
        return False


def compare(con, name, sql, out_dir):
    """None when the Spark output equals the oracle row for row, else why not."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return "no output"
    want = con.execute(sql).fetch_arrow_table().to_pandas()
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table().to_pandas()
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(want.columns) != list(got.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(want) != len(got):
        return f"rows {len(got)} != oracle {len(want)}"
    for c in want.columns:
        for i, (x, y) in enumerate(zip(want[c].tolist(), got[c].tolist())):
            if not _same(x, y):
                return f"col {c} row {i}: oracle={x!r} spark={y!r}"
    return None


def check_all(con, out_dir):
    """{query: None | reason} for every query the run dumped oracle SQL for."""
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    res = {}
    for name, sql in sorted(oracle.items()):
        try:
            res[name] = compare(con, name, sql, f"{out_dir}/check")
        except Exception as e:  # an oracle or read error is a failed check
            res[name] = f"error: {e}"
    return res


def candidates_per_verified(con, minhash_sql):
    """MinHash candidate pairs per verified near-dup pair, from the
    q_dedup_minhash oracle's own CTEs (`cand` = band collisions, `j` =
    exact Jaccard). None when the oracle no longer has that shape."""
    tail = "SELECT d1, d2, jac FROM j"
    if tail not in minhash_sql:
        return None
    head = minhash_sql[:minhash_sql.rindex(tail)]
    n_cand, n_ver = con.execute(
        head + "SELECT (SELECT COUNT(*) FROM cand), (SELECT COUNT(*) FROM j WHERE jac >= 0.2)"
    ).fetchone()
    return n_cand / max(n_ver, 1)
