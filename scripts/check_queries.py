"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on
DuckDB over the same sf dir; compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows hashed as
canonical strings).

Round-5 hardening (the r4 driver-red post-mortem): the DuckDB side is
fetched THROUGH ARROW, not fetchall(). fetchall() converts HUGEINT
(DuckDB's SUM(BIGINT) result type) to a plain Python int, silently
hiding the dtype divergence that a pandas/Arrow-fetching harness sees
(int128 -> float64/decimal128, so `3.0` vs Spark's `3`). On top of the
dtype-sensitive fetch, any oracle whose output schema contains a
non-portable type (HUGEINT/UHUGEINT/DECIMAL) or a nullable integer
column (pandas coerces int+NULL to float64) is REJECTED outright, even
if its values happen to hash equal here.

Usage: python scripts/check_queries.py [sf_dir] [query ...]

Run it with no other Spark driver live: its session's driver heap
defaults to 16g (`session.py`), so beside a pytest run or another job on
a box of about 15 GB of RAM one driver can be lost mid-run (every later
query then fails with "Connection refused"; one such run failed its last
130 queries).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "src")
)

import duckdb

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (datetime.datetime,)):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows: list[tuple]) -> str:
    lines = sorted("\x1e".join(canon(v) for v in row) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from weblog_pipeline.session import build_session

    spark = build_session(app_name="check-queries", parallelism=8,
                          shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = [tuple(r[c] for c in cols) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols_raw = rel.columns
            otypes = [str(t).upper() for t in rel.types]
            ocols = sorted(ocols_raw)
            # dtype-sensitive fetch: Arrow, the driver's likely path —
            # NOT fetchall(), which hides HUGEINT behind Python ints
            tbl = rel.arrow()
            cols_py = {c: tbl.column(i).to_pylist() for i, c in enumerate(ocols_raw)}
            orows = list(zip(*(cols_py[c] for c in ocols))) if len(tbl) else []
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {str(exc).splitlines()[0]}")
            n_fail += 1
            continue
        problems = []
        bad_types = [
            f"{c}:{t}"
            for c, t in zip(ocols_raw, otypes)
            if any(k in t for k in ("HUGEINT", "DECIMAL"))
        ]
        if bad_types:
            problems.append(
                "non-portable oracle type (CAST it): " + ", ".join(bad_types)
            )
        null_ints = [
            c
            for i, (c, t) in enumerate(zip(ocols_raw, otypes))
            if ("INT" in t and "HUGEINT" not in t)
            and tbl.column(i).null_count > 0
        ]
        if null_ints:
            problems.append(
                "nullable int oracle column (pandas coerces to float64; "
                "COALESCE it): " + ", ".join(null_ints)
            )
        if cols != ocols:
            problems.append(f"columns spark={cols} oracle={ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        sh, oh = value_hash(srows), value_hash(orows)
        if sh != oh:
            problems.append(f"valuehash spark={sh} oracle={oh}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems) + f" [{time.time()-t0:.1f}s]")
            # show a sample diff
            sset = {"\x1e".join(canon(v) for v in r) for r in srows}
            oset = {"\x1e".join(canon(v) for v in r) for r in orows}
            for label, diff in (("spark-only", sset - oset), ("oracle-only", oset - sset)):
                for line in list(sorted(diff))[:3]:
                    print(f"        {label}: {line[:220]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows, hash={sh} [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
