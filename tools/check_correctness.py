"""Local rehearsal of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its oracle_sql()
twin on DuckDB at the given sf dir; compares row count, column names,
and an order-insensitive value hash (values canonicalized: floats
rounded to 9 significant digits, rows sorted). Each verdict line ends
with the query's Spark wall time (plan build + collect), ``spark_s``.

Usage: python tools/check_correctness.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    if v is None:
        return "\0"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main(sf_dir: str = "/root/testdata/sf0.01", only: str = ""):
    import __spark_entry__ as entrymod
    from grove_spark.session import get_spark

    spark = get_spark("correctness", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracle = entrymod.queries(), entrymod.oracle_sql()
    if only:
        keep = set(only.split(","))
        unknown = keep - qs.keys()
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 2
        qs = {k: v for k, v in qs.items() if k in keep}
    failures = []
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:200]}")
            continue
        spark_s = f"spark_s={time.perf_counter() - t0:.2f}"
        if name not in oracle:
            print(f"SKIP {name}: no oracle (rows={len(srows)}) {spark_s}")
            continue
        try:
            res = con.execute(oracle[name])
            orows = res.fetchall()
            ocols = [d[0] for d in res.description]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems and table_hash(scols, srows) != table_hash(ocols, orows):
            problems.append("value-hash mismatch")
            # show a sample diff
            s_set = {tuple(canon(v) for v in r) for r in srows}
            o_set = {tuple(canon(v) for v in r) for r in orows}
            only_s = list(s_set - o_set)[:2]
            only_o = list(o_set - s_set)[:2]
            problems.append(f"spark-only={only_s} oracle-only={only_o}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)[:400]} {spark_s}")
        else:
            print(f"OK   {name}: rows={len(srows)} {spark_s}")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(*(sys.argv[1:] or [])))
