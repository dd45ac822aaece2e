"""Type parity audit for the driver correctness gate.

The driver's value-hasher is TYPE-SENSITIVE: DuckDB HUGEINT (the default
result type of SUM(BIGINT) / list_sum) serializes differently from Spark
BIGINT even when every value matches, turning value-identical results into
hash_match=false rows. This script runs every oracle_sql() entry through
DuckDB at sf0.01 and every queries() entry through Spark, then compares
column-by-column logical types, flagging:

  - any DuckDB HUGEINT / INT128 / DECIMAL column (always a red flag)
  - any Spark<->DuckDB type-family mismatch (int vs float vs str)

Usage: python scripts/check_oracle_types.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from scripts.check_oracles import SF_DIR, TABLES  # noqa: E402
from usc_ds_relationextraction_spark.session import get_spark  # noqa: E402

INT_FAMILY = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
              "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
BAD = {"HUGEINT", "UHUGEINT", "INT128"}


def spark_family(dt: str) -> str:
    dt = dt.lower()
    if dt in ("tinyint", "smallint", "int", "integer", "bigint", "long",
              "byte", "short"):
        return "int"
    if dt in ("float", "double", "decimal"):
        return "float"
    if dt in ("string", "varchar"):
        return "str"
    if dt == "boolean":
        return "bool"
    return dt


def duck_family(dt: str) -> str:
    dt = dt.upper()
    if dt in INT_FAMILY:
        return "int"
    if dt in BAD or dt.startswith("DECIMAL"):
        return "BAD:" + dt
    if dt in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if dt == "VARCHAR":
        return "str"
    if dt == "BOOLEAN":
        return "bool"
    return dt


def main() -> int:
    only = set(sys.argv[1:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    bad = []
    for name in qs:
        if only and name not in only:
            continue
        if name not in os_:
            print(f"{name}: (no oracle — rows-only)")
            continue
        # build the Spark DataFrame FIRST: fixture-backed oracles read
        # files the Spark side writes lazily (.fixtures/sf0.01), so the
        # reverse order reports spurious ORACLE ERRORs on fresh checkouts
        sdf = qs[name](spark, SF_DIR)
        scols = dict(sdf.dtypes)
        try:
            rel = con.sql(os_[name])
            dcols = dict(zip(rel.columns, [str(t) for t in rel.types]))
        except Exception as exc:  # noqa: BLE001
            bad.append(name)
            print(f"{name}: ORACLE ERROR {exc}")
            continue
        issues = []
        for c, dt in dcols.items():
            fam = duck_family(dt)
            if fam.startswith("BAD:"):
                issues.append(f"{c}: duckdb {dt}")
                continue
            if c in scols and spark_family(scols[c]) != fam \
                    and not (spark_family(scols[c]) in ("int", "bool")
                             and fam in ("int", "bool")):
                issues.append(
                    f"{c}: spark {scols[c]} vs duckdb {dt}")
        if set(dcols) != set(scols):
            issues.append(f"columns spark={sorted(scols)} "
                          f"duck={sorted(dcols)}")
        if issues:
            bad.append(name)
            print(f"{name}: " + "; ".join(issues))
        else:
            print(f"{name}: ok")
    print(f"\n{len(bad)} queries with type issues: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
