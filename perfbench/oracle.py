"""Result checks, run after the timed region: each timed query's output
against its DuckDB oracle SQL over the exact input tables it read, with
the rules of `tools/crosscheck.py` (same column names, same row count,
rows sorted on every column, values compared exactly as text). A query
without oracle SQL must return at least one row."""
import os

import duckdb

import gen


def _frame(con, path):
    return con.sql(f"SELECT * FROM '{path}/*.parquet'").fetchdf()


def same(got, exp):
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols or len(got) != len(exp):
        return False
    g = got[gcols].sort_values(gcols, kind="mergesort").reset_index(drop=True)
    e = exp[ecols].sort_values(ecols, kind="mergesort").reset_index(drop=True)
    return all((g[c].astype(str) == e[c].astype(str)).all() for c in gcols)


def check_ops(in_dir, out_dir, ops, res):
    """{op id: passed} for every timed query op, each checked in the
    directory it wrote. A query with a verify shape (its oracle form
    differs from the timed form) must return rows, and its verify-shape
    dump, made after the timed region, must match the oracle."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    oracle_sql = res.get("oracle", {})
    verify_shape = set(res.get("verify_shape", []))
    expected, shape_ok = {}, {}

    def matches(q, got):
        if q not in expected:
            expected[q] = con.sql(oracle_sql[q]).fetchdf()
        return same(got, expected[q])

    out = {}
    for op in ops:
        q = op["name"]
        try:
            got = _frame(con, op["out"])
            if q in verify_shape:
                if q not in shape_ok:
                    dump = _frame(con, os.path.join(out_dir, "v", q))
                    shape_ok[q] = (matches(q, dump) if q in oracle_sql
                                   else len(dump) > 0)
                out[op["op"]] = len(got) > 0 and shape_ok[q]
            elif q in oracle_sql:
                out[op["op"]] = matches(q, got)
            else:
                out[op["op"]] = len(got) > 0
        except Exception:
            out[op["op"]] = False
    con.close()
    return out
