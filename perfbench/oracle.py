"""Compare query results written by the benchmark with DuckDB.

Each query's `SparkEntry.oracleSql` statement runs in DuckDB over the same
generated tables; the Spark result (parquet under `<out>/<query>/`) must
hold the same rows: columns compared by name, rows as a sorted multiset,
floating point to 9 significant digits.
"""
import json
import math
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else f"f:{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def check(data_dir, out_dir):
    """Returns the failures, one description each."""
    sqls = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    con = duckdb.connect(config={"threads": "4", "memory_limit": "2GB"})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{Path(data_dir) / t}.parquet')")
    failures = []
    for name, sql in sorted(sqls.items()):
        try:
            o = con.execute(sql)
            ocols, orows = _canon([d[0] for d in o.description], o.fetchall())
            s = con.execute(f"SELECT * FROM read_parquet('{Path(out_dir) / name}/*.parquet')")
            scols, srows = _canon([d[0] for d in s.description], s.fetchall())
        except Exception as e:  # a broken oracle or unreadable result fails the check
            failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        if ocols != scols:
            failures.append(f"{name}: columns {scols} != oracle {ocols}")
        elif orows != srows:
            failures.append(f"{name}: {len(srows)} rows differ from oracle's {len(orows)}")
    con.close()
    return failures
