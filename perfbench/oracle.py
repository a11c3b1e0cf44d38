"""Output checks, run outside the timed window.

Interactive reads are compared with a DuckDB query over the same parquet
files. Battery entries are compared with ``__spark_entry__.oracle_sql()``;
those oracles are brute force, so their answers are computed once per
data version and oracle text and kept next to the data. Values are
canonicalised as the repository's correctness gate does
(``scripts/check.py``): columns sorted by name, floats rounded to six
places, rows sorted.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import datagen


def canon(cols, rows) -> tuple[list[str], list]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "NaN"
            if isinstance(v, list):
                v = tuple(v)
            vals.append([str(type(v).__name__)[:1], str(v)])
        out.append(vals)
    out.sort()
    return [cols[i] for i in order], out


def connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(
            f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def query(con, sql: str) -> tuple[list[str], list]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return canon(cols, [tuple(r) for r in res.fetchall()])


def ensure_battery_answers(data_dir: str, entries) -> dict:
    """Oracle answers of the given battery entries over the fixed data,
    computed on first use and cached beside the data. Each answer is
    keyed by the SHA-256 of its SQL text, so an entry whose oracle
    changes is recomputed rather than checked against a stale answer."""
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    key = {e: hashlib.sha256(sql[e].encode()).hexdigest() for e in entries}
    path = os.path.join(data_dir, "battery_answers.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    missing = [e for e in entries if key[e] not in cached]
    if missing:
        con = connect(data_dir)
        for e in missing:
            cached[key[e]] = query(con, sql[e])
        con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f)
        os.replace(tmp, path)
    return {e: cached[key[e]] for e in entries}


def same(spark_cols, spark_rows, expected) -> bool:
    cols, rows = canon(spark_cols, spark_rows)
    return cols == expected[0] and rows == expected[1]
