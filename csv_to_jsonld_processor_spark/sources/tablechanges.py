"""Streaming CDC source over the snapshot table layer.

``spark.readStream.format("tablechanges").option("table_dir", ...)``
turns a snapshot table (operators/snapshots.py) into a changelog
STREAM: every committed snapshot becomes one micro-batch of row-level
insert/delete images — the Delta CDF / Iceberg incremental-consumption
pattern, driven by the same Spark 4 simple Python DataSource API the
``synthpages`` feed proved out (sources/pydatasource.py documents why
the simple API, not the partitioned one, is the exactly-once-safe
choice here).

Offsets ARE snapshot ids, and snapshots are immutable once committed —
so ``readBetweenOffsets`` replay is deterministic by construction: the
recorded (start, end] pair recomputes the identical change batch after
any restart, no WAL of row data needed.

The reader runs in the data-source worker without a SparkSession, so
the O(delta) changelog is computed with pyarrow directly: the tombstone
delta is a set difference of two tiny DV files, deleted base images
come from ``Table.take`` on ONLY the files the tombstones name, and
insert-delta differences are multiset subtraction — the same fast path
as operators/snapshots.py read_changes, never a full-table scan for
overlay commits.  Full-rewrite commits fall back to a multiset diff of
the two merge-on-read views (documented O(table); at 100 TB those are
compaction events a CDC consumer typically filters out anyway — and
the diff of a compaction is empty).
"""

from __future__ import annotations

import glob
import os
from collections import Counter

from pyspark.sql.datasource import (
    DataSource,
    SimpleDataSourceStreamReader,
)

from ..operators.snapshots import current_snapshot_id, snapshot_ids

# --- pure-pyarrow snapshot-table reading (no SparkSession available) ---------


def _snap_dir(table_dir: str, sid: int) -> str:
    return os.path.join(table_dir, f"snap-{sid:06d}")


def _overlay(table_dir: str, sid: int) -> tuple[int, str, str | None] | None:
    d = _snap_dir(table_dir, sid)
    base_f = os.path.join(d, "BASE")
    if not os.path.exists(base_f):
        return None
    with open(base_f) as f:
        base_id = int(f.read().strip())
    ins = os.path.join(d, "ins")
    return base_id, os.path.join(d, "dv"), ins if os.path.isdir(ins) else None


def _chain_base(table_dir: str, sid: int) -> int:
    ov = _overlay(table_dir, sid)
    return sid if ov is None else ov[0]


def _part_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "part-*.parquet")))


def _schema_of(table_dir: str) -> tuple[list[str], "object"]:
    """(column names, pyarrow schema) of the table's base data."""
    import pyarrow.parquet as pq

    cur = current_snapshot_id(table_dir)
    if os.path.exists(os.path.join(_snap_dir(table_dir, cur), "_parent")):
        raise ValueError(
            "tablechanges does not stream schema-evolution/append chains "
            "(CURRENT has a _parent pointer)"
        )
    base = _chain_base(table_dir, cur)
    files = _part_files(_snap_dir(table_dir, base))
    sch = pq.ParquetFile(files[0]).schema_arrow
    return list(sch.names), sch


def _rows_of(files: list[str], columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    out: list[tuple] = []
    for f in files:
        t = pq.read_table(f, columns=columns)
        cols = [t.column(c).to_pylist() for c in columns]
        out.extend(zip(*cols) if cols and t.num_rows else [])
    return out


def _dv_set(dv_dir: str | None) -> set[tuple]:
    if dv_dir is None or not os.path.isdir(dv_dir):
        return set()
    return set(_rows_of(_part_files(dv_dir), ["_dv_file", "_dv_pos"]))


def _mor_counter(table_dir: str, sid: int, columns: list[str]) -> Counter:
    """Merge-on-read view of a snapshot as a row multiset."""
    import pyarrow.parquet as pq

    ov = _overlay(table_dir, sid)
    if ov is None:
        return Counter(_rows_of(_part_files(_snap_dir(table_dir, sid)), columns))
    base_id, dv_dir, ins_dir = ov
    tombs = _dv_set(dv_dir)
    out: Counter = Counter()
    for f in _part_files(_snap_dir(table_dir, base_id)):
        t = pq.read_table(f, columns=columns)
        fname = os.path.basename(f)
        dead = {pos for (tf, pos) in tombs if tf == fname}
        keep = [i for i in range(t.num_rows) if i not in dead]
        if len(keep) != t.num_rows:
            t = t.take(keep)
        cols = [t.column(c).to_pylist() for c in columns]
        out.update(zip(*cols) if t.num_rows else [])
    if ins_dir is not None:
        out.update(_rows_of(_part_files(ins_dir), columns))
    return out


def changes_between(
    table_dir: str, from_id: int, to_id: int, columns: list[str]
) -> list[tuple]:
    """Row-level changes in (from_id, to_id] as tuples of
    (*columns, change_type) — the pyarrow twin of
    operators/snapshots.py read_changes, same O(delta) fast path."""
    import pyarrow.parquet as pq

    ov_to = _overlay(table_dir, to_id)
    fast = (
        ov_to is not None
        and _chain_base(table_dir, from_id) == _chain_base(table_dir, to_id)
    )
    if not fast:
        a = _mor_counter(table_dir, from_id, columns)
        b = _mor_counter(table_dir, to_id, columns)
        dels, inss = a - b, b - a
        return [(*r, "delete") for r in dels.elements()] + [
            (*r, "insert") for r in inss.elements()
        ]

    base_id, dv_to_dir, ins_to_dir = ov_to
    ov_from = _overlay(table_dir, from_id)
    dv_from = _dv_set(ov_from[1]) if ov_from else set()
    new_tombs = _dv_set(dv_to_dir) - dv_from
    out: list[tuple] = []
    by_file: dict[str, list[int]] = {}
    for fname, pos in new_tombs:
        by_file.setdefault(fname, []).append(pos)
    base_dir = _snap_dir(table_dir, base_id)
    for fname, positions in sorted(by_file.items()):
        t = pq.read_table(os.path.join(base_dir, fname), columns=columns)
        t = t.take(sorted(positions))
        cols = [t.column(c).to_pylist() for c in columns]
        out.extend((*r, "delete") for r in zip(*cols))

    ins_from = (
        Counter(_rows_of(_part_files(ov_from[2]), columns))
        if ov_from and ov_from[2]
        else Counter()
    )
    ins_to = (
        Counter(_rows_of(_part_files(ins_to_dir), columns))
        if ins_to_dir
        else Counter()
    )
    out.extend((*r, "delete") for r in (ins_from - ins_to).elements())
    out.extend((*r, "insert") for r in (ins_to - ins_from).elements())
    return out


# --- the DataSource ----------------------------------------------------------

_ARROW_DDL = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "float": "float", "double": "double", "bool": "boolean",
    "string": "string", "large_string": "string",
    "binary": "binary", "large_binary": "binary", "date32[day]": "date",
}


def _ddl_of(arrow_type) -> str:
    s = str(arrow_type)
    if s in _ARROW_DDL:
        return _ARROW_DDL[s]
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("decimal128("):
        return "decimal(" + s[len("decimal128("):]
    raise ValueError(f"unmapped arrow type {s!r} for tablechanges schema")


class TableChangesStreamReader(SimpleDataSourceStreamReader):
    """One committed snapshot per micro-batch; the offset is the
    snapshot id, which is immutable — replay via readBetweenOffsets
    recomputes the identical batch from the table itself."""

    def __init__(self, options: dict):
        self.table_dir = options["table_dir"]
        self.columns, _ = _schema_of(self.table_dir)
        start = options.get("start_snapshot")
        self.start = int(start) if start is not None else 0

    def initialOffset(self) -> dict:
        return {"snap": self.start}

    def read(self, start: dict):
        lo = int(start["snap"])
        nxt = [sid for sid in snapshot_ids(self.table_dir) if sid > lo]
        if not nxt:
            return iter([]), {"snap": lo}
        hi = nxt[0]
        rows = changes_between(self.table_dir, lo, hi, self.columns)
        return iter([(*r, hi) for r in rows]), {"snap": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = int(start["snap"]), int(end["snap"])
        rows = changes_between(self.table_dir, lo, hi, self.columns)
        return iter([(*r, hi) for r in rows])

    def commit(self, end: dict) -> None:
        pass  # the checkpoint holds the offset; snapshots are immutable


class TableChangesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tablechanges"

    def schema(self) -> str:
        names, sch = _schema_of(self.options["table_dir"])
        parts = [
            f"`{n}` {_ddl_of(sch.field(n).type)}" for n in names
        ]
        parts.append("`_change_type` string")
        parts.append("`_snap` bigint")
        return ", ".join(parts)

    def simpleStreamReader(self, schema) -> TableChangesStreamReader:
        return TableChangesStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(TableChangesDataSource)
