"""Check each key's Spark output against its DuckDB oracle SQL.

The same comparison as `scripts/check.py` (DuckDB views with bare table
names over the input directory, columns sorted by name, column types
compared by family, exact cell values), except that rows are compared
as a multiset: the benchmark writes each result without `coalesce(1)`,
so the row order across part files is not the query's order.
"""
import glob
import hashlib
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _family(t):
    t = str(t).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    return t


def _canon(row):
    # NaN != NaN; give it one comparable spelling
    return tuple("NaN" if isinstance(x, float) and math.isnan(x) else x for x in row)


def _rows(rel, cols):
    rows = rel.select(", ".join(f'"{c}"' for c in cols)).fetchall()
    return sorted((_canon(r) for r in rows), key=repr)


def check(data_dir, out_dir, oracles):
    """Returns ({key: None if the output matches, else a reason},
    {key: sha1 of the output's sorted rows})."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    verdict, digest = {}, {}
    for key, sql in oracles.items():
        files = sorted(glob.glob(os.path.join(out_dir, key, "*.parquet")))
        if sql is None:
            verdict[key] = "no oracle"
            continue
        if not files:
            verdict[key] = "no output"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})")
            want = con.sql(sql)
            cols, wcols = sorted(got.columns), sorted(want.columns)
            if cols != wcols:
                verdict[key] = f"columns {cols} vs oracle {wcols}"
                continue
            gt = dict(zip(got.columns, got.types))
            wt = dict(zip(want.columns, want.types))
            drift = [c for c in cols if _family(gt[c]) != _family(wt[c])]
            if drift:
                c = drift[0]
                verdict[key] = f"type of {c}: {gt[c]} vs oracle {wt[c]}"
                continue
            a, b = _rows(got, cols), _rows(want, cols)
            digest[key] = hashlib.sha1(repr(a).encode()).hexdigest()
        except Exception as e:  # a failing oracle or unreadable output is a failed key
            verdict[key] = f"error: {str(e).splitlines()[0][:200]}"
            continue
        if len(a) != len(b):
            verdict[key] = f"rows {len(a)} vs oracle {len(b)}"
        elif a != b:
            i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            verdict[key] = f"row {i}: {a[i]!r} vs oracle {b[i]!r}"[:300]
        else:
            verdict[key] = None
    con.close()
    return verdict, digest
