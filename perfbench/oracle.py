"""batch_mix output check: each query result against its DuckDB oracle.

The comparison is the repository's own oracle gate: `canon` and `TABLES`
come from `tools/check_oracle.py` (columns sorted by name, rows sorted,
floats compared by their exact repr); this module keeps only the verdicts.
"""
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, canon  # noqa: E402


def check(data_dir, results_dir):
    """Return {query: None if it matches, else a one-line reason}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdict = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = pq.read_table(os.path.join(results_dir, name))
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # an unreadable result or a failing oracle is a wrong result
            verdict[name] = f"{type(e).__name__}: {str(e)[:160]}"
            continue
        cols = sorted(got.column_names)
        if cols != sorted(want.column_names):
            verdict[name] = f"columns {cols} != {sorted(want.column_names)}"
        elif got.num_rows != want.num_rows:
            verdict[name] = f"rows {got.num_rows} != {want.num_rows}"
        else:
            g = canon([[r[c] for c in cols] for r in got.select(cols).to_pylist()])
            w = canon([[r[c] for c in cols] for r in want.select(cols).to_pylist()])
            bad = [(a, b) for a, b in zip(g, w) if a != b]
            verdict[name] = None if not bad else f"{len(bad)} rows differ, e.g. {bad[0][0]} != {bad[0][1]}"
    con.close()
    return verdict
