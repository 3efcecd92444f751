"""Output check: each query's parquet output against its DuckDB oracle
SQL over the same tables. Same comparison as tools/check.py: column
names, row count, then rows sorted by all columns with floats compared
bit-exact.
"""
import glob
import json
import math

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]

    def norm(v):
        if isinstance(v, float):
            return v.hex() if not math.isnan(v) else "nan"
        return repr(v)
    return sorted(tuple(norm(col[i]) for col in data) for i in range(tbl.num_rows))


def mismatches(data_dir, check_dir, runs, queries, tmp_dir):
    """Returns {run: {query: reason}} for every query whose output (a
    parquet directory `<check_dir>/<run>/<query>`) differs from its
    oracle, or has no output or no oracle. Each oracle runs once and is
    compared with the output of every run in `runs`."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(f"{check_dir}/oracle_sql.json") as fh:
        oracle = json.load(fh)
    bad = {r: {} for r in runs}
    for q in queries:
        want = None
        if q not in oracle:
            err = "no oracle sql"
        else:
            try:
                want = con.execute(oracle[q]).fetch_arrow_table()
            except Exception as e:  # an oracle that cannot run is a failed check
                err = f"duckdb error: {str(e)[:200]}"
        for r in runs:
            out = f"{check_dir}/{r}/{q}"
            if want is None:
                bad[r][q] = err
            elif not glob.glob(f"{out}/*.parquet"):
                bad[r][q] = "no output"
            else:
                reason = _differs(pq.read_table(out), want)
                if reason:
                    bad[r][q] = reason
    con.close()
    return bad


def _differs(got, want):
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {sorted(got.column_names)} vs {sorted(want.column_names)}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} vs {want.num_rows}"
    g, w = _rows(got), _rows(want)
    if g != w:
        return f"{sum(1 for a, b in zip(g, w) if a != b)}/{len(g)} rows differ"
    return None
