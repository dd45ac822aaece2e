"""scripts/compare_warehouses.py: equal row multisets pass whatever the
row order and file split; any differing, missing or extra table fails."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([("k", pa.string()), ("v", pa.list_(pa.int64()))])
SCRIPT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts", "compare_warehouses.py")


def _table(root, name, parts):
    d = os.path.join(root, f"{name}.parquet")
    os.makedirs(d)
    for i, rows in enumerate(parts):
        pq.write_table(pa.Table.from_pylist(rows, schema=SCHEMA),
                       os.path.join(d, f"part-{i:05d}.parquet"))
    open(os.path.join(d, "_SUCCESS"), "w").close()


def _compare(a, b):
    return subprocess.run([sys.executable, SCRIPT, str(a), str(b)],
                          capture_output=True, text=True)


def test_compare_warehouses(tmp_path):
    rows = [{"k": "x", "v": [1, 2]}, {"k": "x", "v": [1, 2]},
            {"k": "y", "v": None}]
    a, b, c, d = (tmp_path / n for n in "abcd")
    _table(a, "t", [rows])
    _table(b, "t", [rows[2:], rows[:2]])          # other order and split
    _table(c, "t", [rows[1:]])                    # one duplicate fewer
    _table(d, "t", [rows])
    _table(d, "u", [rows])                        # extra table
    same = _compare(a, b)
    assert same.returncode == 0, same.stdout
    assert "1 tables, 0 differ" in same.stdout
    for other in (c, d):
        diff = _compare(a, other)
        assert diff.returncode == 1 and "DIFF" in diff.stdout, diff.stdout


def _target(root, current, stale):
    """An ``incremental_agg_sink`` target: ``_CURRENT`` names v2; v1 is a
    stale version its GC has not deleted yet."""
    for v, rows in (("v1", stale), ("v2", current)):
        os.makedirs(root / v)
        pq.write_table(pa.Table.from_pylist(rows, schema=SCHEMA),
                       root / v / "part-00000.parquet")
    (root / "_CURRENT").write_text("v2")


def test_compare_stream_targets(tmp_path):
    """A stream target compares as the version its pointer names, as a
    root of its own or as a table under a warehouse root."""
    rows = [{"k": "x", "v": [1]}, {"k": "y", "v": [2]}]
    a, b, c = (tmp_path / n for n in "abc")
    _target(a, rows, stale=rows[:1])
    _target(b, rows[::-1], stale=[{"k": "z", "v": None}])
    _target(c, rows[:1], stale=rows)
    same = _compare(a, b)
    assert same.returncode == 0, same.stdout
    assert "1 tables, 0 differ" in same.stdout
    diff = _compare(a, c)
    assert diff.returncode == 1 and "DIFF" in diff.stdout, diff.stdout
    wa, wb = tmp_path / "wa", tmp_path / "wb"
    _target(wa / "edges", rows, stale=[])
    _target(wb / "edges", rows, stale=rows)
    nested = _compare(wa, wb)
    assert nested.returncode == 0 and "same edges" in nested.stdout, \
        nested.stdout
