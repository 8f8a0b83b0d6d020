"""Checks every operation's output against its DuckDB oracle.

The oracle SQL comes from the engine's own registry
(`graft.SparkEntry.oracleSql`, exported by the harness as
`oracle_sql.json` in the check directory) and runs in DuckDB over the
same parquet lake the run read. The normalization is the one
`scripts/check.py` applies: a DuckDB-level dtype gate (ints widen to
BIGINT, floats to DOUBLE, no HUGEINT/DECIMAL), columns sorted by name,
rows sorted by value, then exact equality with NULL = NULL.
"""
import glob
import numbers
import os

import duckdb

from lake import TABLES

BANNED = ("HUGEINT", "UHUGEINT", "DECIMAL", "UBIGINT")


def widen(t):
    t = t.upper()
    if t.startswith("LIST(") or t.endswith("[]"):
        inner = t[5:-1] if t.startswith("LIST(") else t[:-2]
        return widen(inner) + "[]"
    if t.startswith("STRUCT(") and t.endswith(")"):
        inner, fields, depth, start = t[7:-1], [], 0, 0
        for i, ch in enumerate(inner):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                fields.append(inner[start:i])
                start = i + 1
        fields.append(inner[start:])
        out = []
        for f in fields:
            name, _, ftype = f.strip().partition(" ")
            out.append(f"{name} {widen(ftype)}")
        return "STRUCT(" + ", ".join(out) + ")"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"):
        return "BIGINT"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "DOUBLE"
    return t


def connect(lake):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(lake, t + '.parquet')}'")
    return con


def frames_equal(a, b):
    """(ok, detail) for two result frames under the check.py rules."""
    a = a[sorted(a.columns)]
    b = b[sorted(b.columns)]
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if a.shape != b.shape:
        return False, f"shape {a.shape} vs {b.shape}"
    a = a.sort_values(list(a.columns), na_position="last").reset_index(drop=True)
    b = b.sort_values(list(b.columns), na_position="last").reset_index(drop=True)
    for c in a.columns:
        av, bv = a[c], b[c]
        same = (av.isna() & bv.isna()) | (av == bv)
        if av.dtype == object and bv.dtype == object:
            same = av.fillna("\0NULL") == bv.fillna("\0NULL")
        if not same.all():
            bad = (~same).to_numpy().nonzero()[0][:2].tolist()
            return False, f"col {c} differs at sorted rows {bad}"
    return True, f"{a.shape[0]} rows"


def check_op(con, out_dir, sql, corrupt=False):
    """Compare one operation's landed output with its oracle. With
    `corrupt`, one output row is altered first (the self-test's proof
    that a wrong row is caught)."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return False, "no output"
    src = f"'{out_dir}/*.parquet'"
    ad = {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()}
    bd = {r[0]: r[1] for r in con.sql(f"DESCRIBE {sql}").fetchall()}
    for side, d in (("oracle", bd), ("spark", ad)):
        banned = [(c, t) for c, t in d.items()
                  if any(tok in t.upper() for tok in BANNED)]
        if banned:
            return False, f"{side} output widens beyond BIGINT/DOUBLE {banned}"
    bad = [(c, ad[c], bd[c]) for c in sorted(set(ad) & set(bd))
           if widen(ad[c]) != widen(bd[c])]
    if bad:
        return False, f"dtype mismatch after widening {bad}"
    a = con.sql(f"SELECT * FROM {src}").df()
    b = con.sql(sql).df()
    if corrupt and len(a):
        a = corrupt_row(a)
    return frames_equal(a, b)


def corrupt_row(df):
    """Return a copy of `df` with one value of its first row changed."""
    df = df.copy()
    c = sorted(df.columns)[-1]
    v = df[c].iloc[0]
    if isinstance(v, str):
        new = v + "#"
    elif isinstance(v, numbers.Number) and v == v:
        new = v + 1
    else:
        new = "corrupt"
    df[c] = df[c].astype(object)
    df.iat[0, df.columns.get_loc(c)] = new
    return df


def check_all(lake, check_dir, ops, oracle_sql, errors, corrupt_op=None):
    """{op: (ok, detail)} for every operation of the run."""
    con = connect(lake)
    res = {}
    for op in ops:
        if op in errors:
            res[op] = (False, errors[op])
        elif op not in oracle_sql:
            res[op] = (False, "no oracle registered")
        else:
            try:
                res[op] = check_op(con, os.path.join(check_dir, op),
                                   oracle_sql[op], corrupt=(op == corrupt_op))
            except Exception as e:  # a broken oracle or output is a failure
                res[op] = (False, f"{type(e).__name__}: {e}")
    con.close()
    return res
