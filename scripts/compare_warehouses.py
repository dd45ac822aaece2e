"""Compare two pipeline warehouses table by table, as row multisets.

    python3 scripts/compare_warehouses.py WAREHOUSE_A WAREHOUSE_B

A table is a directory directly under the warehouse root that holds
parquet part files (``<stage>.parquet/``); lineage files such as
``_metrics.jsonl`` are not tables.  A directory holding ``_CURRENT`` is an
``incremental_agg_sink`` target (a stream's output, e.g. ``kg_stream``'s
edge table): it is one table whose rows are the version the pointer
names, and older versions not yet deleted are ignored.  Either root may
itself be such a target.  Two tables are equal when they hold
the same rows the same number of times, in any order and any split into
part files; columns are matched by name.  Prints one line per table and
exits 1 if any table differs or exists on one side only, or if neither
side holds a table; else 0.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pyarrow.parquet as pq


def current_version(target: str) -> str | None:
    """The version directory a stream target's ``_CURRENT`` names, or
    None when ``target`` is not a stream target."""
    ptr = os.path.join(target, "_CURRENT")
    if not os.path.isfile(ptr):
        return None
    with open(ptr) as fh:
        return os.path.join(target, fh.read().strip())


def tables(root: str) -> dict[str, str]:
    """Table name -> directory, for every table under ``root``."""
    if cur := current_version(root):
        # named alike on both sides, whatever the two roots are called
        return {"(stream target)": cur}
    out = {}
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if cur := current_version(path):
            out[name] = cur
        elif os.path.isdir(path) and any(
                f.endswith(".parquet") for _, _, files in os.walk(path)
                for f in files):
            out[name] = path
    return out


def rows(path: str) -> Counter:
    """Multiset of a table's rows, each as canonical JSON (keys sorted)."""
    return Counter(json.dumps(r, sort_keys=True, default=repr)
                   for r in pq.read_table(path).to_pylist())


def differences(a: str, b: str) -> list[str]:
    """Why table directories ``a`` and ``b`` differ; empty when equal."""
    ra, rb = rows(a), rows(b)
    if ra == rb:
        return []
    only_a, only_b = ra - rb, rb - ra
    out = [f"{sum(ra.values())} vs {sum(rb.values())} rows, "
           f"{sum(only_a.values())} only in A, "
           f"{sum(only_b.values())} only in B"]
    for tag, extra in (("A", only_a), ("B", only_b)):
        out += [f"  only in {tag}: {row}" for row in list(extra)[:3]]
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: compare_warehouses.py WAREHOUSE_A WAREHOUSE_B",
              file=sys.stderr)
        return 2
    ta, tb = tables(argv[0]), tables(argv[1])
    names = sorted(ta.keys() | tb.keys())
    differ = 0
    for name in names:
        if name in ta and name in tb:
            why = differences(ta[name], tb[name])
        else:
            why = [f"only in {'A' if name in ta else 'B'}"]
        if why:
            differ += 1
            print(f"DIFF {name}: " + "\n".join(why))
        else:
            print(f"same {name}")
    print(f"{len(names)} tables, {differ} differ")
    return 1 if differ or not names else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
