"""Output checks, run outside the timed region.

* Registry ops: each op's result (dumped after the timed passes) must match
  its DuckDB twin from ``SparkEntry.oracleSql`` on the same generated
  tables — same column names, value types, row count, and value hash in
  both strict row order and row-sorted order.
* Warehouse ingest: exact invariants after the stream — fact rows equal
  the distinct generated ids, replays add nothing, and every author's
  h/g-index equals a driver-side recomputation from the generated papers.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import table_hash  # noqa: E402  the repository's own oracle compare


def _type_class(t):
    """Integer widths up to 64 bits compare equal (as in oracle_check.py)."""
    t = str(t)
    return "INT" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") else t


def connect(threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    return con


def oracle_check(data_dir, results_dir, oracle_sql, ops, threads):
    """{op: None if it matches its twin, else a one-line reason}."""
    con = connect(threads)
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    out = {}
    for op in ops:
        files = os.path.join(results_dir, op, "*.parquet")
        if not glob.glob(files):
            out[op] = "no result written"
            continue
        s = con.sql(f"SELECT * FROM '{files}'")
        s_cols, s_types, s_rows = s.columns, s.types, s.fetchall()
        if op not in oracle_sql:
            out[op] = None if s_rows else "no oracle twin and no rows"
            continue
        o = con.sql(oracle_sql[op])
        o_cols, o_types, o_rows = o.columns, o.types, o.fetchall()
        if sorted(s_cols) != sorted(o_cols):
            out[op] = f"columns {sorted(s_cols)} != {sorted(o_cols)}"
        elif ([_type_class(t) for _, t in sorted(zip(s_cols, s_types))]
              != [_type_class(t) for _, t in sorted(zip(o_cols, o_types))]):
            out[op] = "column types differ"
        elif len(s_rows) != len(o_rows):
            out[op] = f"rows {len(s_rows)} != {len(o_rows)}"
        elif not all(table_hash(s_cols, s_rows, k) == table_hash(o_cols, o_rows, k)
                     for k in (False, True)):
            out[op] = "value hash differs"
        else:
            out[op] = None
    con.close()
    return out


def ingest_check(check_dir, papers, expected_hg, threads):
    """List of violated invariants (empty when the warehouse is exact)."""
    con = connect(threads)
    problems = []
    fact = [r[0] for r in con.sql(f"SELECT arxiv_ID FROM '{check_dir}/fact/*.parquet'").fetchall()]
    ids = {p["id"] for p in papers}
    if len(fact) != len(set(fact)):
        problems.append(f"fact has {len(fact) - len(set(fact))} duplicate ids (a replay added rows)")
    if set(fact) != ids:
        problems.append(f"fact ids differ from generated ids: {len(set(fact) ^ ids)} mismatches")
    got = {n: (h, g) for n, h, g in con.sql(
        f"SELECT full_name, h_index, g_index FROM '{check_dir}/dim_author/*.parquet'").fetchall()}
    if set(got) != set(expected_hg):
        problems.append(f"author set differs: {len(set(got) ^ set(expected_hg))} mismatches")
    bad = [n for n in expected_hg if n in got and got[n] != expected_hg[n]]
    if bad:
        problems.append(f"{len(bad)} authors with wrong h/g, e.g. {bad[0]}: "
                        f"{got[bad[0]]} != {expected_hg[bad[0]]}")
    con.close()
    return problems
