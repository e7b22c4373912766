"""Oracle gate: each op's dumped Spark result against its DuckDB oracle.

Compares the way `tools/check_oracle.py` does: columns matched by name,
DuckDB logical types equal, rows compared as sorted multisets, bit-exact.
An op with no oracle SQL passes when its result was dumped.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _sorted_rows(rows, idx):
    key = lambda row: tuple((c is None, str(c)) for c in row)  # noqa: E731
    return sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=key)


def compare(con, result_glob, sql):
    """(ok, message) for one op."""
    got_rel = con.sql(f"SELECT * FROM read_parquet('{result_glob}')")
    exp_rel = con.sql(sql)
    gcols, ecols = list(got_rel.columns), list(exp_rel.columns)
    if sorted(gcols) != sorted(ecols):
        return False, f"columns spark={sorted(gcols)} oracle={sorted(ecols)}"
    gtypes = dict(zip(gcols, map(str, got_rel.types)))
    etypes = dict(zip(ecols, map(str, exp_rel.types)))
    tdiff = {c: (gtypes[c], etypes[c]) for c in gcols if gtypes[c] != etypes[c]}
    if tdiff:
        return False, f"types {tdiff}"
    g = _sorted_rows(got_rel.fetchall(), [gcols.index(c) for c in sorted(gcols)])
    e = _sorted_rows(exp_rel.fetchall(), [ecols.index(c) for c in sorted(ecols)])
    if len(g) != len(e):
        return False, f"rows spark={len(g)} oracle={len(e)}"
    diff = [(x, y) for x, y in zip(g, e) if x != y]
    if diff:
        return False, (f"{len(diff)}/{len(g)} rows differ; "
                       f"first spark={diff[0][0]} oracle={diff[0][1]}")
    return True, f"{len(g)} rows"


def check(fixture_dir, dump_dir, registry_sql, ops):
    """{op: (ok, message)} for every op of the mix."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    out = {}
    for op in ops:
        files = glob.glob(os.path.join(dump_dir, op, "*.parquet"))
        if not files:
            out[op] = (False, "no result dumped")
        elif op not in registry_sql:
            out[op] = (True, "no oracle; result dumped")
        else:
            try:
                out[op] = compare(con, os.path.join(dump_dir, op, "*.parquet"), registry_sql[op])
            except duckdb.Error as e:
                out[op] = (False, f"oracle error: {e}")
    con.close()
    return out
