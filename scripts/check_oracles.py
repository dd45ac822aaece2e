"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and its oracle_sql() twin on DuckDB, compare
row count + column names + order-insensitive value multiset.

Usage: python scripts/check_oracles.py [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from usc_ds_relationextraction_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
# the driver tables some oracle reads (tests/test_contract.py checks it)
TABLES = ["part", "lineitem", "events", "documents"]


def norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5("\n".join(lines).encode("utf-8")).hexdigest()
    return len(rows), h


def main() -> int:
    # each result line reaches a redirected log as soon as it is printed
    sys.stdout.reconfigure(line_buffering=True)
    only = set(sys.argv[1:])
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, SF_DIR)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        n_s, h_s = table_digest(cols, rows)
        t_spark = time.time() - t0
        if name not in os_:
            print(f"{name:26s} rows={n_s:7d} (rows-only, no oracle) "
                  f"[{t_spark:.1f}s]")
            continue
        t0 = time.time()
        res = con.execute(os_[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        n_d, h_d = table_digest(ocols, orows)
        t_duck = time.time() - t0
        ok_schema = sorted(cols) == sorted(ocols)
        ok = (n_s == n_d) and (h_s == h_d) and ok_schema
        status = "OK " if ok else "FAIL"
        print(f"{name:26s} {status} rows {n_s}/{n_d} hash "
              f"{'=' if h_s == h_d else '≠'} schema "
              f"{'=' if ok_schema else '≠ ' + str(sorted(cols)) + ' vs ' + str(sorted(ocols))} "
              f"[spark {t_spark:.1f}s duck {t_duck:.1f}s]")
        if not ok:
            failed.append(name)
            # show a small diff sample
            s_set = {tuple(norm_cell(r[i]) for i in
                           sorted(range(len(cols)), key=lambda i: cols[i]))
                     for r in rows}
            d_set = {tuple(norm_cell(r[i]) for i in
                           sorted(range(len(ocols)), key=lambda i: ocols[i]))
                     for r in orows}
            print("  spark-only:", list(s_set - d_set)[:3])
            print("  duck-only :", list(d_set - s_set)[:3])
    spark.stop()
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
