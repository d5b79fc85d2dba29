"""Snapshot/time-travel table layer on plain parquet.

The lake-format feature the sandbox can't install (Iceberg/Delta),
re-expressed with the same commit discipline this repo already proved
for streaming ingest (streaming/ingest.py): every commit writes a new
generation directory ``snap-<id>`` (ordered integer ids), then
atomically flips a tiny ``CURRENT`` (or branch ``REF-*``) pointer file
(os.replace — POSIX atomic rename). Every generation writer — full
data, branch, merge-on-read overlay, schema evolution, append — goes
through the one commit path ``_commit``: the id is claimed under the
commit lock (so no two writers ever share one), the data is written
outside it, and every pointer write (generation pointers, the CAS
check, the flip; rollback and fast-forward too) runs under it through
the one pointer writer ``_write_ptr``. Invariants:

- A reader never sees a half-written table: it resolves CURRENT once,
  then reads only that immutable directory (snapshot isolation — a
  concurrent commit can't change the files under it).
- Time travel is just pinning an older id: committed snapshot dirs are
  immutable and retained until ``expire_snapshots``.
- A crash between the generation write and the pointer flip leaves
  CURRENT on the previous snapshot and an ORPHAN ``snap-<id>`` dir;
  the next commit reuses that id (mode=overwrite) and flips — the
  orphan is never observable through the read API
  (tests/test_snapshots.py pins exactly this window).

At 100 TB the full-rewrite-per-commit becomes append-only manifests
(what Iceberg does); the pointer-flip commit protocol and the reader
contract are identical — this module is the protocol at parquet-dir
granularity, upsert included (idempotent delta-wins merge, the MERGE
INTO analogue, same shape as operators/upsert.py).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables

_SNAP_RE = re.compile(r"^snap-(\d{6})$")


def _parallel_parquet_writes(*jobs: tuple[DataFrame, str]) -> None:
    """Run independent (df, path) parquet writes from driver threads —
    the guide's independent-job overlap: an overlay commit's deletion
    vector and insert delta touch disjoint subdirectories, so their
    write jobs back-fill each other's stragglers instead of running
    strictly one after the other."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _write(df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    if len(jobs) == 1:
        _write(*jobs[0])
        return
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = [
            pool.submit(inheritable_thread_target(df.sparkSession)(_write), df, p)
            for df, p in jobs
        ]
        for f in futs:
            f.result()


def _snap_dir(table_dir: str, snap_id: int) -> str:
    return os.path.join(table_dir, f"snap-{snap_id:06d}")


# --- pointer files ------------------------------------------------------------


def _write_ptr(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON: write a temp
    file, then os.replace (POSIX-atomic rename).  The one writer of
    every pointer file (CURRENT, REF-*, BASE, _parent, RESERVED-*),
    whose content is the bare decimal id ``json.dumps(int)`` produces,
    and of every JSON sidecar except the generation manifest."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _read_ptr(path: str) -> int | None:
    """The snapshot id a pointer file names; None if there is no such
    file.  Unparseable content raises ValueError."""
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return None
    return int(text.strip().strip('"'))


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def _ref_path(table_dir: str, ref: str) -> str:
    if ref == "CURRENT":
        return os.path.join(table_dir, "CURRENT")
    if not re.match(r"^[A-Za-z0-9_-]+$", ref):
        raise ValueError(f"bad ref name {ref!r}")
    return os.path.join(table_dir, f"REF-{ref}")


def ref_snapshot_id(table_dir: str, ref: str) -> int | None:
    return _read_ptr(_ref_path(table_dir, ref))


def current_snapshot_id(table_dir: str) -> int | None:
    return ref_snapshot_id(table_dir, "CURRENT")


def _gen_ids(table_dir: str) -> list[int]:
    """Every generation id on disk — committed, orphaned, reserved or
    on a branch."""
    return [
        int(m.group(1))
        for name in (os.listdir(table_dir) if os.path.isdir(table_dir) else [])
        if (m := _SNAP_RE.match(name))
    ]


def snapshot_ids(table_dir: str) -> list[int]:
    """Committed snapshot ids, oldest first. On-disk dirs with id >
    CURRENT are uncommitted orphans and are NOT listed; neither are
    RESERVED generations (in-flight or conflicted CAS writers), which
    can sit below CURRENT."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        return []
    reserved = _reserved_ids(table_dir)
    return sorted(
        sid for sid in _gen_ids(table_dir) if sid <= cur and sid not in reserved
    )


def read_snapshot(
    spark: SparkSession, table_dir: str, snapshot_id: int | None = None
) -> DataFrame | None:
    """The table as of ``snapshot_id`` (default: CURRENT). Reading a
    pinned id is the time-travel contract: the directory is immutable
    once committed, so the same id always yields the same rows."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        return None
    if snapshot_id is None:
        snapshot_id = cur
    if snapshot_id > cur or snapshot_id < 0:
        raise ValueError(f"snapshot {snapshot_id} not committed (CURRENT={cur})")
    if snapshot_id in _reserved_ids(table_dir):
        raise ValueError(
            f"snapshot {snapshot_id} not committed (reserved by a CAS writer)"
        )
    d = _snap_dir(table_dir, snapshot_id)
    if not os.path.isdir(d):
        raise ValueError(f"snapshot {snapshot_id} expired or missing")
    return spark.read.parquet(d)


def _reserved_path(table_dir: str, snap_id: int) -> str:
    return os.path.join(table_dir, f"RESERVED-{snap_id:06d}")


def _reserved_ids(table_dir: str) -> set[int]:
    """Generations RESERVED by an in-flight (or conflicted) CAS writer.
    Committed-ness is explicit, not inferred from id <= CURRENT: a CAS
    loser's fully-written generation can end up BELOW a later winner's
    CURRENT, and without the marker every read path would mistake that
    never-committed data for committed history (and vacuum, which only
    collected ids above CURRENT, would never reclaim it)."""
    out = set()
    for f in os.listdir(table_dir) if os.path.isdir(table_dir) else []:
        if f.startswith("RESERVED-"):
            try:
                out.add(int(f[len("RESERVED-"):]))
            except ValueError:
                pass
    return out


def _all_ref_ids(table_dir: str) -> set[int]:
    out = set()
    for f in os.listdir(table_dir) if os.path.isdir(table_dir) else []:
        if f == "CURRENT" or f.startswith("REF-"):
            try:
                sid = _read_ptr(os.path.join(table_dir, f))
            except ValueError:
                continue  # a ref it cannot parse is skipped
            if sid is not None:
                out.add(sid)
    return out


def _next_snapshot_id(table_dir: str) -> int:
    """Global id allocation across ALL refs: max committed generation
    + 1 — except the highest generation is REUSED when no ref points at
    it (the crash-between-write-and-flip orphan, pinned by
    tests/test_snapshots.py).  Branch generations are referenced, so a
    main commit after a branch commit can never collide with it."""
    # RAW directory scan — snapshot_ids() hides ids above CURRENT,
    # which is exactly where branch generations live
    ids = _gen_ids(table_dir)
    if not ids:
        return 0
    top = max(ids)
    # a RESERVED top id is an in-flight CAS writer's generation, not a
    # crash orphan — never reuse it (the mixed-mode collision window)
    if top in _all_ref_ids(table_dir) or top in _reserved_ids(table_dir):
        return top + 1
    return top


class CommitConflict(Exception):
    """Another writer advanced CURRENT past the snapshot this commit
    was based on — re-read, re-apply, retry (the optimistic loop)."""


class _FlipLock:
    """Tiny O_CREAT|O_EXCL mutex held only around the read-check-flip
    instants (microseconds); a stale lock from a crashed holder is
    broken after ``timeout_s``."""

    def __init__(self, table_dir: str, timeout_s: float = 10.0):
        self.path = os.path.join(table_dir, "COMMIT.lock")
        self.timeout_s = timeout_s

    def __enter__(self):
        import time

        deadline = time.time() + self.timeout_s
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return self
            except FileExistsError:
                if time.time() > deadline:
                    # Break only a lock whose FILE is itself older than
                    # the timeout — a waiter's expired deadline says
                    # nothing about whether the current holder is live
                    # (it may be a third party that just acquired); the
                    # file mtime does.  Unlink races with the holder's
                    # own release and with other breakers, so tolerate
                    # the file vanishing; reset the deadline afterwards
                    # so a lock acquired right after the break is never
                    # deleted by this waiter's next iteration.
                    try:
                        stale = (
                            time.time() - os.path.getmtime(self.path)
                            > self.timeout_s
                        )
                    except FileNotFoundError:
                        continue  # released between open and stat
                    if stale:
                        try:
                            os.unlink(self.path)
                        except FileNotFoundError:
                            pass
                    deadline = time.time() + self.timeout_s
                else:
                    time.sleep(0.01)

    def __exit__(self, *exc):
        try:
            os.unlink(self.path)
        except FileNotFoundError:
            pass


def _commit(table_dir: str, write, ref: str = "CURRENT",
            expected_parent: int | None = None) -> int:
    """The one commit path of the table layer; returns the new
    snapshot id.  Claims a generation id under the lock, runs
    ``write(snap_dir)`` outside it (the expensive data write), then
    under the lock runs the compare-and-swap check, writes the
    generation's pointers — the ``{name: id}`` dict ``write`` returns
    (a MoR overlay's BASE, an evolution chain's _parent) — drops the
    RESERVED marker and flips ``ref``.  Claiming under the lock is what
    keeps any two writers off one id.

    Plain writers (``expected_parent=None``) take ``_next_snapshot_id``
    and claim it with a mkdir; exist_ok, so a single writer's retry
    overwrites its own crash orphan under the SAME id.  Concurrent
    plain+plain writers stay unsupported — orphan reuse is
    single-writer by nature.  CAS writers run concurrently, so they
    never reuse an orphan: they take max+1 and write a RESERVED marker
    — a losing writer's generation may end up below a later winner's
    pointer, and only the marker keeps it invisible to the read API
    and collectable by ``vacuum_orphans``."""
    ptr = _ref_path(table_dir, ref)
    os.makedirs(table_dir, exist_ok=True)
    with _FlipLock(table_dir):
        if expected_parent is None:
            new_id = _next_snapshot_id(table_dir)
            os.makedirs(_snap_dir(table_dir, new_id), exist_ok=True)
        else:
            new_id = max(_gen_ids(table_dir), default=-1) + 1
            os.makedirs(_snap_dir(table_dir, new_id))
            _write_ptr(_reserved_path(table_dir, new_id), new_id)
    d = _snap_dir(table_dir, new_id)
    gen_ptrs = write(d) or {}
    with _FlipLock(table_dir):
        if expected_parent is not None:
            cur = _read_ptr(ptr)
            if cur != expected_parent:
                # marker STAYS: the conflicted generation remains
                # invisible to readers and is vacuum_orphans' garbage
                # wherever the pointer moves next
                raise CommitConflict(
                    f"{ref} moved to {cur} (expected {expected_parent}); "
                    "re-read and retry"
                )
        for name, sid in gen_ptrs.items():
            _write_ptr(os.path.join(d, name), sid)
        # drop the marker BEFORE the flip: a crash in between leaves an
        # unmarked orphan ABOVE CURRENT (new_id > expected_parent = cur
        # while the lock is held) — exactly the standing crash-window
        # semantics; a marker surviving past the flip would hide a
        # committed CURRENT instead
        try:
            os.unlink(_reserved_path(table_dir, new_id))
        except FileNotFoundError:
            pass
        _write_ptr(ptr, new_id)
    return new_id


def _data_writer(df: DataFrame):
    """``_commit`` callback for a full data generation."""

    def write(d: str) -> None:
        df.write.mode("overwrite").parquet(d)
        # manifest belongs to the generation: written before the flip,
        # so a crash leaves it orphaned along with the data it describes
        _write_manifest(d)

    return write


def commit_snapshot(
    spark: SparkSession, df: DataFrame, table_dir: str,
    expected_parent: int | None = None,
) -> int:
    """Write-then-flip commit; returns the new snapshot id. Restartable:
    a crash before the flip leaves an orphan dir that the retry
    overwrites under the SAME id.

    ``expected_parent`` turns the flip into a compare-and-swap — the
    optimistic-concurrency contract (Iceberg's commit loop): the flip
    succeeds only if CURRENT still names the snapshot this commit was
    computed from; otherwise ``CommitConflict`` and the caller re-reads
    and retries. The check-and-flip pair runs under a microsecond lock
    so two CAS writers can't interleave between check and rename; the
    expensive data write stays outside the lock."""
    return _commit(table_dir, _data_writer(df), expected_parent=expected_parent)


def _write_manifest(snap_dir: str) -> dict:
    """Iceberg-style per-file column stats, harvested from the parquet
    FOOTERS (pyarrow metadata — no data scan): {file: {col: [min, max],
    ...}, "_rows": n}. Written next to the snapshot as
    ``_manifest.json`` so readers can skip whole files by predicate
    before Spark ever lists them — at 100 TB this manifest layer (not
    directory listing) is what makes a pinned-snapshot read O(matching
    files)."""
    import glob

    import pyarrow.parquet as pq

    entries: dict = {}
    for f in sorted(glob.glob(os.path.join(snap_dir, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        cols: dict = {"_rows": md.num_rows}
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for c_i in range(rg.num_columns):
                col = rg.column(c_i)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                name = col.path_in_schema
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    continue  # undecoded physical type — skip stats, never prune
                prev = cols.get(name)
                if prev is None:
                    cols[name] = [mn, mx]
                else:
                    cols[name] = [min(prev[0], mn), max(prev[1], mx)]
        entries[os.path.basename(f)] = cols
    manifest = {"files": entries}
    with open(os.path.join(snap_dir, "_manifest.json"), "w") as f:
        json.dump(manifest, f, default=str, indent=1, sort_keys=True)
    return manifest


def read_snapshot_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    snapshot_id: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Manifest-pruned snapshot read: keep only files whose [min, max]
    for ``col`` overlaps [lo, hi] (files without stats are always kept
    — pruning must never be lossy), then apply the residual filter.
    Returns (df, files_read, files_total). Semantically identical to
    ``read_snapshot(...).where(lo <= col <= hi)``; the difference is
    the skipped files never reach Spark's file index."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        raise ValueError("empty table")
    sid = cur if snapshot_id is None else snapshot_id
    if sid > cur or sid < 0:
        raise ValueError(f"snapshot {sid} not committed (CURRENT={cur})")
    d = _snap_dir(table_dir, sid)
    manifest = _read_json(os.path.join(d, "_manifest.json"))
    keep = []
    total = 0
    for fname, cols in manifest["files"].items():
        total += 1
        rng = cols.get(col)
        if rng is None or not (rng[1] < lo or rng[0] > hi):
            keep.append(os.path.join(d, fname))
    df = (
        spark.read.parquet(*keep)
        if keep
        else read_snapshot(spark, table_dir, sid).limit(0)
    )
    return df.where(F.col(col).between(lo, hi)), len(keep), total


# --- file-level Bloom index for point lookups --------------------------------
#
# min/max manifests (above) prune RANGE predicates; point lookups on a
# high-cardinality key (url, custkey) need a membership structure —
# the Iceberg/Delta file-level bloom. Built DISTRIBUTED: each row
# explodes to its k bloom-bit positions, one groupBy(file) collects
# each file's set-bit list (a sparse bloom — exact for the bits it
# sets, tiny because k·rows_per_file ≪ m at reasonable file sizes).
# The shuffle carries (file, position) pairs deduplicated map-side,
# bounded by m per file regardless of row count.

_BLOOM_M = 1 << 16  # bits per file
_BLOOM_K = 4        # hash functions


def _bloom_positions(col: F.Column) -> F.Column:
    """The k bit positions of a value: independent md5-slice hashes
    mod m — expressible identically in any engine with md5()."""
    h = F.md5(col.cast("string"))
    return F.array(*[
        (F.conv(F.substring(h, 1 + 7 * i, 7), 16, 10).cast("long") % _BLOOM_M)
        for i in range(_BLOOM_K)
    ])


def build_bloom_index(spark: SparkSession, table_dir: str, col: str,
                      snapshot_id: int | None = None) -> int:
    """Build the file-level bloom sidecar ``_bloom_<col>.json`` for a
    committed snapshot: {file: sorted set-bit positions}. One
    distributed pass — rows never leave executors; only the per-file
    deduplicated bit positions shuffle. Returns the number of files
    indexed."""
    cur = current_snapshot_id(table_dir)
    sid = cur if snapshot_id is None else snapshot_id
    d = _snap_dir(table_dir, sid)
    bits = (
        spark.read.parquet(d)
        .select(
            F.col("_metadata.file_name").alias("_f"),
            F.explode(_bloom_positions(F.col(col))).alias("_pos"),
        )
        .groupBy("_f")
        .agg(F.sort_array(F.collect_set("_pos")).alias("_bits"))
        .collect()
    )
    index = {r["_f"]: r["_bits"] for r in bits}
    _write_ptr(os.path.join(d, f"_bloom_{col}.json"), index)
    return len(index)


def read_point_lookup(
    spark: SparkSession, table_dir: str, col: str, value,
    snapshot_id: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Point lookup through the bloom sidecar: a file is read only if
    ALL k bit positions of the probe value are set in its bloom
    (no-false-negative guarantee: every position of a present value
    was set by the build pass). Returns (df, files_read, files_total).
    Files the sidecar doesn't know are always read — pruning must
    never be lossy."""
    cur = current_snapshot_id(table_dir)
    sid = cur if snapshot_id is None else snapshot_id
    d = _snap_dir(table_dir, sid)
    bloom_p = os.path.join(d, f"_bloom_{col}.json")
    data_files = [
        f for f in os.listdir(d)
        if f.startswith("part-") and f.endswith(".parquet")
    ]
    if not os.path.exists(bloom_p):
        df = spark.read.parquet(d)
        return df.where(F.col(col) == value), len(data_files), len(data_files)
    index = _read_json(bloom_p)
    probe = [
        r[0] for r in spark.range(1)
        .select(F.explode(_bloom_positions(F.lit(value))))
        .collect()
    ]
    keep = []
    for fname in data_files:
        bits = index.get(fname)
        if bits is None or all(p in set(bits) for p in probe):
            keep.append(os.path.join(d, fname))
    if not keep:
        df = spark.read.parquet(d).limit(0)
    else:
        df = spark.read.parquet(*keep)
    return df.where(F.col(col) == value), len(keep), len(data_files)


def upsert_snapshot(
    spark: SparkSession, table_dir: str, delta: DataFrame, key: str
) -> int:
    """MERGE INTO analogue: delta rows win on key collision, everything
    else carries forward; the merge commits as a new snapshot so the
    pre-upsert state stays time-travel-readable."""
    base = read_snapshot(spark, table_dir)
    if base is None:
        merged = delta
    else:
        merged = base.join(delta.select(key), key, "left_anti").unionByName(delta)
    return commit_snapshot(spark, merged, table_dir)


def _ancestor_ids(table_dir: str, snap_id: int) -> set[int]:
    """Snapshots ``snap_id`` depends on: the transitive BASE (MoR
    overlay) and _parent (evolution/append chain) targets."""
    out: set[int] = set()
    frontier = [snap_id]
    while frontier:
        sid = frontier.pop()
        d = _snap_dir(table_dir, sid)
        for ptr in ("BASE", "_parent"):
            tgt = _read_ptr(os.path.join(d, ptr))
            if tgt is not None and tgt not in out:
                out.add(tgt)
                frontier.append(tgt)
    return out


def expire_snapshots(table_dir: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` committed snapshots —
    never CURRENT, and never a snapshot a SURVIVOR still depends on
    (the BASE of a live MoR overlay or a _parent in a live evolution
    chain stays until its dependents expire too). Returns the expired
    ids."""
    import shutil

    ids = snapshot_ids(table_dir)
    kept = set(ids[-keep_last:] if keep_last > 0 else ids[-1:])
    for ref in list(_all_ref_ids(table_dir)):
        kept.add(ref)
    protected = set(kept)
    for sid in kept:
        protected |= _ancestor_ids(table_dir, sid)
    victims = [sid for sid in ids if sid not in protected]
    for sid in victims:
        shutil.rmtree(_snap_dir(table_dir, sid))
    return victims


def vacuum_orphans(table_dir: str) -> list[int]:
    """Garbage-collect UNCOMMITTED generations: directories whose id is
    above CURRENT and not reachable from any ref (crash leftovers past
    the single-orphan reuse window, e.g. an abandoned branch write
    after its ref was deleted), plus RESERVED generations from
    conflicted CAS writers — collected wherever they sit relative to
    CURRENT, since a CAS loser's id ends up below a later winner's
    pointer. Committed history is never touched — that is
    ``expire_snapshots``' job."""
    import shutil

    cur = current_snapshot_id(table_dir)
    if cur is None:
        return []
    reserved = _reserved_ids(table_dir)
    reachable: set[int] = set()
    for ref in _all_ref_ids(table_dir):
        reachable.add(ref)
        reachable |= _ancestor_ids(table_dir, ref)
    victims = [
        sid for sid in _gen_ids(table_dir)
        if (sid > cur or sid in reserved) and sid not in reachable
    ]
    for sid in victims:
        shutil.rmtree(_snap_dir(table_dir, sid))
        try:
            os.unlink(_reserved_path(table_dir, sid))
        except FileNotFoundError:
            pass
    return sorted(victims)


# --- merge-on-read row-level deletes (deletion vectors) ---------------------

def _read_data_with_pos(spark: SparkSession, data_dir: str) -> DataFrame:
    """The snapshot's data files with their physical row coordinates
    (Spark's _metadata hidden columns) — the address space deletion
    vectors tombstone."""
    df = spark.read.parquet(data_dir)
    return df.select(
        "*",
        F.col("_metadata.file_name").alias("_dv_file"),
        F.col("_metadata.row_index").alias("_dv_pos"),
    )


def _overlay_info(table_dir: str, snap_id: int) -> tuple[int, str] | None:
    """(base_snapshot_id, dv_path) if ``snap_id`` is a DV overlay."""
    d = _snap_dir(table_dir, snap_id)
    base_id = _read_ptr(os.path.join(d, "BASE"))
    return None if base_id is None else (base_id, os.path.join(d, "dv"))


def _overlay_writer(base_id: int, tombs: DataFrame, ins: DataFrame | None):
    """``_commit`` callback for a MoR overlay generation: the deletion
    vector and the optional insert-delta, written in parallel; BASE
    names the shared data snapshot."""

    def write(d: str) -> dict[str, int]:
        writes = [(tombs, os.path.join(d, "dv"))]
        if ins is not None:
            writes.append((ins, os.path.join(d, "ins")))
        _parallel_parquet_writes(*writes)
        return {"BASE": base_id}

    return write


def delete_rows_mor(spark: SparkSession, table_dir: str, predicate: str) -> int:
    """Row-level DELETE WHERE without rewriting a single data file —
    the deletion-vector merge-on-read path (Delta DVs / Iceberg
    positional deletes): tombstones are (file_name, row_index)
    coordinates of the matching rows, written as a tiny ``dv`` parquet
    in a NEW snapshot directory holding only the DV and a ``BASE``
    pointer to the (immutable, shared) data snapshot.  Stacked deletes
    union their tombstones against the SAME base, so N deletes cost N
    tiny DV files, never N table rewrites; time travel keeps working
    because the base data files are never touched.  Commit protocol is
    the standing write-then-flip."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        raise ValueError("empty table")
    ov = _overlay_info(table_dir, cur)
    if ov is None:
        base_id, old_dv = cur, None
    else:
        base_id, old_dv = ov
    data_dir = _snap_dir(table_dir, base_id)
    with_pos = _read_data_with_pos(spark, data_dir)
    if old_dv is not None:
        live = with_pos.join(
            spark.read.parquet(old_dv), ["_dv_file", "_dv_pos"], "left_anti"
        )
    else:
        live = with_pos
    new_tombs = live.where(predicate).select("_dv_file", "_dv_pos")
    all_tombs = (
        new_tombs if old_dv is None
        else spark.read.parquet(old_dv).unionByName(new_tombs)
    )
    # an update's insert-delta has no base coordinates — deleting from
    # it means carrying forward only its surviving rows
    old_ins = _overlay_ins(spark, table_dir, cur)
    ins = None if old_ins is None else old_ins.where(f"NOT ({predicate})")
    return _commit(table_dir, _overlay_writer(base_id, all_tombs, ins))


def read_snapshot_mor(
    spark: SparkSession, table_dir: str, snapshot_id: int | None = None
) -> DataFrame:
    """read_snapshot that understands DV overlays: a plain snapshot
    reads directly; an overlay reads its base's data files and
    anti-joins the deletion vector on (file, row_index) — the
    merge-on-read."""
    cur = current_snapshot_id(table_dir)
    if snapshot_id is None:
        snapshot_id = cur
    ov = _overlay_info(table_dir, snapshot_id)
    if ov is None:
        return read_snapshot(spark, table_dir, snapshot_id)
    base_id, dv_path = ov
    with_pos = _read_data_with_pos(spark, _snap_dir(table_dir, base_id))
    dv = spark.read.parquet(dv_path)
    live = with_pos.join(dv, ["_dv_file", "_dv_pos"], "left_anti").drop(
        "_dv_file", "_dv_pos"
    )
    ins = _overlay_ins(spark, table_dir, snapshot_id)
    return live if ins is None else live.unionByName(ins)


def update_rows_mor(
    spark: SparkSession, table_dir: str, predicate: str,
    set_exprs: dict[str, str],
) -> int:
    """Row-level UPDATE WHERE as merge-on-read: the matching rows'
    coordinates join the deletion vector (their old images vanish) and
    their NEW images land in an ``ins`` delta file inside the same
    overlay snapshot — UPDATE = DV ∪ insert-delta, the Iceberg v2
    equality/positional-delete + data-file pattern.  Readers union the
    delta after the anti-join; the base data files still never change."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        raise ValueError("empty table")
    ov = _overlay_info(table_dir, cur)
    base_id = cur if ov is None else ov[0]
    data_dir = _snap_dir(table_dir, base_id)
    with_pos = _read_data_with_pos(spark, data_dir)
    old_dv = spark.read.parquet(ov[1]) if ov else None
    old_ins = _overlay_ins(spark, table_dir, cur)
    live_base = (
        with_pos if old_dv is None
        else with_pos.join(old_dv, ["_dv_file", "_dv_pos"], "left_anti")
    )
    hit_base = live_base.where(predicate)
    new_tombs = hit_base.select("_dv_file", "_dv_pos")
    all_tombs = new_tombs if old_dv is None else old_dv.unionByName(new_tombs)

    def apply_set(df: DataFrame) -> DataFrame:
        for col, expr in set_exprs.items():
            df = df.withColumn(col, F.expr(expr))
        return df

    data_cols = [c for c in with_pos.columns if not c.startswith("_dv_")]
    updated = apply_set(hit_base.select(*data_cols))
    if old_ins is not None:
        # delta rows matching the predicate update in place; the rest
        # carry forward
        updated = updated.unionByName(
            apply_set(old_ins.where(predicate))
        ).unionByName(old_ins.where(f"NOT ({predicate})"))
    return _commit(table_dir, _overlay_writer(base_id, all_tombs, updated))


def _overlay_ins(spark: SparkSession, table_dir: str, snap_id: int):
    """The overlay's insert-delta DataFrame, if any."""
    d = os.path.join(_snap_dir(table_dir, snap_id), "ins")
    if not os.path.isdir(d):
        return None
    return spark.read.parquet(d)


def compact_mor(spark: SparkSession, table_dir: str) -> int:
    """Purge the overlay: materialize the merge-on-read view into a
    plain data snapshot (the copy-on-write rewrite deferred until it is
    worth paying) and commit it; the DV chain stays time-travelable
    until expiry."""
    return commit_snapshot(spark, read_snapshot_mor(spark, table_dir), table_dir)


def table_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector lifecycle end-to-end through the real protocol:
    base snapshot (all customers) → MoR delete custkey%7=0 → STACKED
    MoR delete acctbal<0 (tombstones union against the same base, no
    rewrite) → compaction.  Output per segment: base rows, rows after
    each delete read merge-on-read, rows after compaction (must equal
    the stacked MoR read — a lost or doubled tombstone breaks it), and
    the surviving balance.  The DuckDB oracle recomputes every state
    relationally; the Spark side earns its answer through DV files."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS)
    table_dir = tempfile.mkdtemp(prefix="mor_table_")
    commit_snapshot(spark, cust, table_dir)
    d1 = delete_rows_mor(spark, table_dir, "c_custkey % 7 = 0")
    d2 = delete_rows_mor(spark, table_dir, "c_acctbal < 0")
    compact_mor(spark, table_dir)

    def seg(df: DataFrame, suffix: str) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{suffix}")
        )

    base = seg(read_snapshot_mor(spark, table_dir, 0), "base")
    after1 = seg(read_snapshot_mor(spark, table_dir, d1), "del1")
    after2 = read_snapshot_mor(spark, table_dir, d2)
    compacted = read_snapshot_mor(spark, table_dir)
    a2 = after2.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_del2"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
        .alias("bal_live"),
    )
    ac = seg(compacted, "compacted")
    return (
        base.join(after1, "c_mktsegment")
        .join(a2, "c_mktsegment")
        .join(ac, "c_mktsegment")
        .select(
            F.col("c_mktsegment").alias("segment"),
            "n_base", "n_del1", "n_del2", "n_compacted",
            (F.col("n_del2") == F.col("n_compacted")).alias("mor_equals_cow"),
            "bal_live",
        )
        .orderBy("segment")
    )


TABLE_MOR_SQL = """
WITH base AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
), d1 AS (
  SELECT * FROM base WHERE c_custkey % 7 <> 0
), d2 AS (
  SELECT * FROM d1 WHERE NOT (c_acctbal < 0)
), s_base AS (
  SELECT c_mktsegment, COUNT(*) AS n_base FROM base GROUP BY 1
), s1 AS (
  SELECT c_mktsegment, COUNT(*) AS n_del1 FROM d1 GROUP BY 1
), s2 AS (
  SELECT c_mktsegment, COUNT(*) AS n_del2,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_live
  FROM d2 GROUP BY 1
)
SELECT c_mktsegment AS segment,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_del1 AS BIGINT) AS n_del1,
       CAST(n_del2 AS BIGINT) AS n_del2,
       CAST(n_del2 AS BIGINT) AS n_compacted,
       TRUE AS mor_equals_cow,
       bal_live
FROM s_base JOIN s1 USING (c_mktsegment) JOIN s2 USING (c_mktsegment)
ORDER BY segment
"""


# --- driver-visible query ---------------------------------------------------

_CUST_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel across an upsert, end-to-end through the real commit
    protocol: snapshot 0 = customers with custkey % 3 != 0; one upsert
    batch (custkey % 5 == 0, acctbal + 1000 — part update, part insert)
    commits snapshot 1; the query then reads BOTH pinned snapshots and
    reports the per-segment row-count/balance delta. The DuckDB oracle
    recomputes both states relationally from the same base table — a
    commit that leaks the batch into snapshot 0, loses carried-forward
    rows, or double-applies the delta hash-mismatches."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS)
    table_dir = tempfile.mkdtemp(prefix="snap_table_")

    base = cust.where(F.col("c_custkey") % 3 != 0)
    commit_snapshot(spark, base, table_dir)
    batch = cust.where(F.col("c_custkey") % 5 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(1000.0)
    )
    new_id = upsert_snapshot(spark, table_dir, batch, "c_custkey")

    def seg_stats(df: DataFrame, suffix: str) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{suffix}"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias(f"bal_{suffix}"),
        )

    before = seg_stats(read_snapshot(spark, table_dir, new_id - 1), "before")
    after = seg_stats(read_snapshot(spark, table_dir, new_id), "after")
    return (
        before.join(after, "c_mktsegment")
        .select(
            F.col("c_mktsegment").alias("segment"),
            "n_before",
            "n_after",
            (F.col("n_after") - F.col("n_before")).cast("long").alias("rows_added"),
            "bal_before",
            "bal_after",
        )
        .orderBy("segment")
    )


TIME_TRAVEL_SQL = """
WITH base AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0
), batch AS (
  SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 5 = 0
), after AS (
  SELECT * FROM batch
  UNION ALL
  SELECT b.* FROM base b LEFT JOIN batch d USING (c_custkey) WHERE d.c_custkey IS NULL
), agg_before AS (
  SELECT c_mktsegment, COUNT(*) AS n_before,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_before
  FROM base GROUP BY c_mktsegment
), agg_after AS (
  SELECT c_mktsegment, COUNT(*) AS n_after,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_after
  FROM after GROUP BY c_mktsegment
)
SELECT c_mktsegment AS segment,
       CAST(n_before AS BIGINT) AS n_before,
       CAST(n_after AS BIGINT) AS n_after,
       CAST(n_after - n_before AS BIGINT) AS rows_added,
       bal_before, bal_after
FROM agg_before JOIN agg_after USING (c_mktsegment)
ORDER BY segment
"""


# --- branch refs + write-audit-publish ---------------------------------------

def commit_to_ref(spark: SparkSession, df: DataFrame, table_dir: str,
                  ref: str) -> int:
    """Commit a new snapshot and flip a NAMED ref instead of CURRENT —
    the branch write of write-audit-publish: main's readers are
    untouched while the branch accumulates and gets audited.  Snapshot
    ids are global (max over all generations + 1), so branch and main
    histories interleave in one ordered id space like Iceberg's."""
    return _commit(table_dir, _data_writer(df), ref=ref)


def read_ref(spark: SparkSession, table_dir: str, ref: str) -> DataFrame | None:
    """The table as of a named ref (branch/tag read)."""
    sid = ref_snapshot_id(table_dir, ref)
    if sid is None:
        return None
    d = _snap_dir(table_dir, sid)
    if _overlay_info(table_dir, sid) is not None:
        return read_snapshot_mor(spark, table_dir, sid)
    return spark.read.parquet(d)


def fast_forward(table_dir: str, from_ref: str, to_ref: str = "CURRENT") -> int:
    """Publish: atomically point ``to_ref`` at ``from_ref``'s snapshot
    (the publish step of write-audit-publish — readers of ``to_ref``
    switch in one rename, and every pre-publish snapshot stays
    time-travelable)."""
    sid = ref_snapshot_id(table_dir, from_ref)
    if sid is None:
        raise ValueError(f"unknown ref {from_ref!r}")
    p = _ref_path(table_dir, to_ref)
    with _FlipLock(table_dir):
        _write_ptr(p, sid)
    return sid


def table_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish end-to-end: main holds the base customers;
    an ingest batch (custkey%4=0, acctbal+500) commits to the ``audit``
    branch — main is PROVABLY unchanged while the branch exists — the
    audit gate checks the branch (row conservation + no NULL keys),
    and only then does main fast-forward to the audited snapshot.
    Output per segment: main rows before publish, branch rows, main
    rows after publish, the main-frozen-during-audit boolean, and the
    audited balance.  Oracle recomputes both states relationally."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS)
    table_dir = tempfile.mkdtemp(prefix="wap_table_")
    commit_snapshot(spark, cust, table_dir)

    batch = cust.where(F.col("c_custkey") % 4 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(500.0)
    )
    base = read_snapshot(spark, table_dir)
    staged = base.join(batch.select("c_custkey"), "c_custkey", "left_anti") \
                 .unionByName(batch)
    commit_to_ref(spark, staged, table_dir, "audit")

    main_during = read_snapshot(spark, table_dir)
    branch = read_ref(spark, table_dir, "audit")
    main_frozen = main_during.count() == base.count() and ref_snapshot_id(
        table_dir, "CURRENT") == 0
    # audit gate: row conservation and key integrity on the branch
    assert branch.count() == base.count()
    assert branch.where(F.col("c_custkey").isNull()).count() == 0
    fast_forward(table_dir, "audit")

    def seg(df: DataFrame, suffix: str) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{suffix}")
        )

    published = read_snapshot(spark, table_dir)
    return (
        seg(main_during, "main_before").join(seg(branch, "branch"), "c_mktsegment")
        .join(
            published.groupBy("c_mktsegment").agg(
                F.count(F.lit(1)).cast("long").alias("n_published"),
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
                .alias("bal_published"),
            ),
            "c_mktsegment",
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            "n_main_before", "n_branch", "n_published",
            F.lit(bool(main_frozen)).alias("main_frozen_during_audit"),
            "bal_published",
        )
        .orderBy("segment")
    )


TABLE_WAP_SQL = """
WITH base AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
), batch AS (
  SELECT c_custkey, c_acctbal + 500.0 AS c_acctbal, c_mktsegment
  FROM base WHERE c_custkey % 4 = 0
), staged AS (
  SELECT * FROM batch
  UNION ALL
  SELECT b.* FROM base b LEFT JOIN batch d USING (c_custkey)
  WHERE d.c_custkey IS NULL
), s_main AS (
  SELECT c_mktsegment, COUNT(*) AS n_main_before FROM base GROUP BY 1
), s_branch AS (
  SELECT c_mktsegment, COUNT(*) AS n_branch FROM staged GROUP BY 1
), s_pub AS (
  SELECT c_mktsegment, COUNT(*) AS n_published,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_published
  FROM staged GROUP BY 1
)
SELECT c_mktsegment AS segment,
       CAST(n_main_before AS BIGINT) AS n_main_before,
       CAST(n_branch AS BIGINT) AS n_branch,
       CAST(n_published AS BIGINT) AS n_published,
       TRUE AS main_frozen_during_audit,
       bal_published
FROM s_main JOIN s_branch USING (c_mktsegment) JOIN s_pub USING (c_mktsegment)
ORDER BY segment
"""


def table_mor_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR UPDATE → stacked MoR DELETE → compaction, end-to-end: update
    custkey%5=0 (acctbal += 1000 — old images tombstoned, new images in
    the insert-delta), then delete acctbal < 0 (hits base rows AND must
    filter the delta), then compact.  Per segment: rows and decimal
    balance after each step read merge-on-read, plus the MoR==CoW
    equality after compaction.  A reader that loses the delta, applies
    the update twice, or lets a deleted delta row resurface
    hash-mismatches the relational oracle."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS)
    table_dir = tempfile.mkdtemp(prefix="mor_upd_")
    commit_snapshot(spark, cust, table_dir)
    u1 = update_rows_mor(
        spark, table_dir, "c_custkey % 5 = 0",
        {"c_acctbal": "c_acctbal + 1000.0"},
    )
    d1 = delete_rows_mor(spark, table_dir, "c_acctbal < 0")
    cid = compact_mor(spark, table_dir)

    def seg(df: DataFrame, suffix: str) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{suffix}"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            .alias(f"bal_{suffix}"),
        )

    s_u = seg(read_snapshot_mor(spark, table_dir, u1), "upd")
    s_d = seg(read_snapshot_mor(spark, table_dir, d1), "del")
    s_c = read_snapshot_mor(spark, table_dir, cid).groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_compacted")
    )
    return (
        s_u.join(s_d, "c_mktsegment").join(s_c, "c_mktsegment")
        .select(
            F.col("c_mktsegment").alias("segment"),
            "n_upd", "bal_upd", "n_del", "bal_del",
            (F.col("n_del") == F.col("n_compacted")).alias("mor_equals_cow"),
        )
        .orderBy("segment")
    )


TABLE_MOR_UPDATES_SQL = """
WITH base AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
), upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1000.0
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM base
), del AS (
  SELECT * FROM upd WHERE NOT (c_acctbal < 0)
), s_u AS (
  SELECT c_mktsegment, COUNT(*) AS n_upd,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_upd
  FROM upd GROUP BY 1
), s_d AS (
  SELECT c_mktsegment, COUNT(*) AS n_del,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_del
  FROM del GROUP BY 1
)
SELECT c_mktsegment AS segment,
       CAST(n_upd AS BIGINT) AS n_upd, bal_upd,
       CAST(n_del AS BIGINT) AS n_del, bal_del,
       TRUE AS mor_equals_cow
FROM s_u JOIN s_d USING (c_mktsegment)
ORDER BY segment
"""


# --- changelog (CDC) read between snapshots ----------------------------------

def _chain_base(table_dir: str, snap_id: int) -> int:
    """The plain data snapshot a MoR overlay chain bottoms out at
    (identity for a plain snapshot)."""
    ov = _overlay_info(table_dir, snap_id)
    return snap_id if ov is None else ov[0]


def _dv_of(spark: SparkSession, table_dir: str, snap_id: int):
    ov = _overlay_info(table_dir, snap_id)
    return None if ov is None else spark.read.parquet(ov[1])


def read_changes(
    spark: SparkSession, table_dir: str, from_id: int, to_id: int
) -> DataFrame:
    """Row-level changelog between two committed snapshots — the
    incremental-consumption read (Iceberg's ``changes`` / Delta CDF):
    every row carries ``_change_type`` ∈ {'insert','delete'}; an update
    surfaces as its delete(old image) + insert(new image) pair.

    O(delta) fast path — the one a 100 TB consumer uses: when ``to_id``
    is a MoR overlay on the same base chain as ``from_id``, the changes
    ARE the overlay deltas committed in between, so the read touches
    only (a) the tombstones added since ``from_id`` (tiny DV parquet
    set-difference), (b) the base data files those tombstones NAME —
    an explicit driver-side file-list prune, never a full base scan —
    and (c) the insert-delta difference.  Neither full snapshot is
    materialized and nothing O(table) shuffles.

    Fallback for unrelated snapshots (e.g. two full rewrites): a
    two-sided ``exceptAll`` diff — O(table), kept for completeness and
    flagged as the slow path in the docstring on purpose.
    """
    cur = current_snapshot_id(table_dir)
    if cur is None or from_id > cur or to_id > cur:
        raise ValueError(f"snapshot range [{from_id},{to_id}] not committed")
    for sid in (from_id, to_id):
        if os.path.exists(os.path.join(_snap_dir(table_dir, sid), "_parent")):
            raise ValueError(
                "read_changes does not span schema-evolution/append chains "
                f"(snapshot {sid} has a _parent pointer); diff "
                "read_snapshot_evolved views instead"
            )
    base_from = _chain_base(table_dir, from_id)
    base_to = _chain_base(table_dir, to_id)
    fast = base_from == base_to and _overlay_info(table_dir, to_id) is not None

    if not fast:
        from_df = read_snapshot_mor(spark, table_dir, from_id)
        to_df = read_snapshot_mor(spark, table_dir, to_id)
        deletes = from_df.exceptAll(to_df)
        inserts = to_df.exceptAll(from_df)
        return deletes.withColumn("_change_type", F.lit("delete")).unionByName(
            inserts.withColumn("_change_type", F.lit("insert"))
        )

    dv_from = _dv_of(spark, table_dir, from_id)
    dv_to = _dv_of(spark, table_dir, to_id)
    # tombstones added in (from, to]: DVs only ever accumulate by union,
    # so the delta is a coordinate anti-join of two tiny parquet files
    new_tombs = (
        dv_to if dv_from is None
        else dv_to.join(dv_from, ["_dv_file", "_dv_pos"], "left_anti")
    )
    # the deleted rows' old images live in the base files the new
    # tombstones NAME — read exactly those files, nothing else
    touched = [r["_dv_file"] for r in new_tombs.select("_dv_file").distinct().collect()]
    base_dir = _snap_dir(table_dir, base_to)
    if touched:
        paths = [os.path.join(base_dir, f) for f in sorted(touched)]
        del_base = (
            spark.read.parquet(*paths)
            .select(
                "*",
                F.col("_metadata.file_name").alias("_dv_file"),
                F.col("_metadata.row_index").alias("_dv_pos"),
            )
            .join(new_tombs, ["_dv_file", "_dv_pos"])
            .drop("_dv_file", "_dv_pos")
        )
    else:
        del_base = None

    ins_from = _overlay_ins(spark, table_dir, from_id)
    ins_to = _overlay_ins(spark, table_dir, to_id)
    data_cols = None
    for seg_df in (ins_to, ins_from, del_base):
        if seg_df is not None:
            data_cols = seg_df.columns if data_cols is None else data_cols
    if data_cols is None:
        data_cols = spark.read.parquet(base_dir).columns

    def _empty():
        return spark.read.parquet(base_dir).limit(0).select(*data_cols)

    e_from = ins_from if ins_from is not None else _empty()
    e_to = ins_to if ins_to is not None else _empty()
    # delta rows that vanished (deleted/updated carry-forward) are
    # deletes; rows new to the delta are inserts — multiset difference
    del_delta = e_from.exceptAll(e_to)
    ins_delta = e_to.exceptAll(e_from)
    deletes = del_delta if del_base is None else del_base.unionByName(del_delta)
    return deletes.withColumn("_change_type", F.lit("delete")).unionByName(
        ins_delta.withColumn("_change_type", F.lit("insert"))
    )


def table_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog consumption end-to-end through the real protocol:
    base customers (snap 0) → MoR update custkey%5 (acctbal+1000, snap
    u) → MoR delete acctbal<0 (snap d); then ``read_changes`` over each
    interval, consumed the way an incremental downstream job would —
    per (step, change_type, segment) row counts + decimal balance of
    the changed row images.  The update interval must yield a perfectly
    paired delete/insert set (old vs new images, n equal, balances
    1000×n apart); the delete interval must yield deletes only.  The
    DuckDB oracle recomputes every changed-row set relationally, so a
    changelog that misses a carry-forward, double-counts a stacked
    tombstone, or leaks an unchanged row hash-mismatches."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS)
    table_dir = tempfile.mkdtemp(prefix="cdc_table_")
    commit_snapshot(spark, cust, table_dir)
    u1 = update_rows_mor(
        spark, table_dir, "c_custkey % 5 = 0",
        {"c_acctbal": "c_acctbal + 1000.0"},
    )
    d1 = delete_rows_mor(spark, table_dir, "c_acctbal < 0")

    def agg(df: DataFrame, step: str) -> DataFrame:
        return df.groupBy("_change_type", "c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            .alias("bal"),
        ).select(
            F.lit(step).alias("step"),
            F.col("_change_type").alias("change_type"),
            F.col("c_mktsegment").alias("segment"),
            "n_rows", "bal",
        )

    ch_u = agg(read_changes(spark, table_dir, 0, u1), "upd")
    ch_d = agg(read_changes(spark, table_dir, u1, d1), "del")
    return ch_u.unionByName(ch_d).orderBy("step", "change_type", "segment")


TABLE_CHANGELOG_SQL = """
WITH base AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
), upd_old AS (
  SELECT * FROM base WHERE c_custkey % 5 = 0
), upd_new AS (
  SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal, c_mktsegment FROM upd_old
), upd_view AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1000.0
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM base
), del_old AS (
  SELECT * FROM upd_view WHERE c_acctbal < 0
), changes AS (
  SELECT 'upd' AS step, 'delete' AS change_type, c_mktsegment, c_acctbal
  FROM upd_old
  UNION ALL
  SELECT 'upd', 'insert', c_mktsegment, c_acctbal FROM upd_new
  UNION ALL
  SELECT 'del', 'delete', c_mktsegment, c_acctbal FROM del_old
)
SELECT step, change_type, c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
FROM changes
GROUP BY step, change_type, c_mktsegment
ORDER BY step, change_type, segment
"""


# --- schema evolution (field-id resolution, metadata-only commits) -----------
#
# Iceberg's schema-evolution contract re-expressed on the same
# write-then-flip protocol: every column owns a stable FIELD ID; each
# data segment records the physical-name -> field-id binding it was
# written under (``_fields.json``); each snapshot carries the logical
# schema as of that snapshot (``_schema.json``: ordered [id, name,
# type]).  Readers resolve columns BY ID, never by name — so a rename
# is a pure metadata commit (O(1) regardless of table size: no data
# file is rewritten or even opened), an added column back-fills as a
# typed NULL on pre-evolution segments, and time travel to an old
# snapshot surfaces the OLD names over the SAME bytes.  Appends chain
# via a ``_parent`` pointer to the previous snapshot, so a read walks the
# chain and unions segments after per-segment id-resolution.

def commit_snapshot_evolved(
    spark: SparkSession, df: DataFrame, table_dir: str
) -> int:
    """First commit of a schema-tracked table: field ids 1..n are
    assigned in column order and recorded both table-level (_schema)
    and segment-level (_fields)."""
    fields = {c: i + 1 for i, c in enumerate(df.columns)}
    schema = [
        {"id": i + 1, "name": c, "type": df.schema[c].dataType.simpleString()}
        for i, c in enumerate(df.columns)
    ]

    def write(d: str) -> None:
        df.write.mode("overwrite").parquet(d)
        _write_ptr(os.path.join(d, "_fields.json"), fields)
        _write_ptr(os.path.join(d, "_schema.json"), schema)

    return _commit(table_dir, write)


def _snapshot_schema(table_dir: str, snap_id: int) -> list[dict]:
    return _read_json(os.path.join(_snap_dir(table_dir, snap_id), "_schema.json"))


def evolve_schema(
    table_dir: str,
    *,
    add: list[tuple[str, str]] | None = None,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
) -> int:
    """Metadata-ONLY schema commit: rename/add/drop columns without
    touching a single data file.  The new snapshot directory holds just
    the updated ``_schema.json`` and a ``_parent`` pointer to the previous
    snapshot — at 100 TB this commit is the same few hundred bytes it
    is here, which is the whole point of id-based resolution."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        raise ValueError("empty table")
    schema = [dict(f) for f in _snapshot_schema(table_dir, cur)]
    if rename:
        names = {f["name"] for f in schema}
        for old, new in rename.items():
            if old not in names:
                raise ValueError(f"unknown column {old!r}")
        for f in schema:
            if f["name"] in rename:
                f["name"] = rename[f["name"]]
    if drop:
        schema = [f for f in schema if f["name"] not in drop]
    if add:
        next_id = max((f["id"] for f in schema), default=0) + 1
        have = {f["name"] for f in schema}
        for name, typ in add:
            if name in have:
                raise ValueError(f"column {name!r} already exists")
            schema.append({"id": next_id, "name": name, "type": typ})
            next_id += 1

    def write(d: str) -> dict[str, int]:
        _write_ptr(os.path.join(d, "_schema.json"), schema)
        return {"_parent": cur}

    return _commit(table_dir, write)


def append_evolved(
    spark: SparkSession, df: DataFrame, table_dir: str,
    partition_by: list[str] | None = None,
) -> int:
    """Append a segment written under the CURRENT logical schema: the
    segment's physical names bind to the schema's field ids, and a
    _parent pointer chains to the previous snapshot — an O(batch) commit,
    never an O(table) rewrite.

    ``partition_by`` is PARTITION EVOLUTION (Iceberg's contract): the
    spec applies to THIS segment only and is recorded next to it
    (``_spec.json``); earlier segments keep their layout untouched and
    later appends may pick yet another spec.  Readers prune each
    segment under ITS OWN spec (read_evolved_pruned_eq) — changing how
    new data is laid out never rewrites the old 100 TB."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        raise ValueError("empty table; use commit_snapshot_evolved")
    schema = _snapshot_schema(table_dir, cur)
    by_name = {f["name"]: f["id"] for f in schema}
    unknown = [c for c in df.columns if c not in by_name]
    if unknown:
        raise ValueError(f"columns not in schema: {unknown}")
    missing = [c for c in partition_by or [] if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns not in batch: {missing}")

    def write(d: str) -> dict[str, int]:
        if partition_by:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(d)
            _write_ptr(os.path.join(d, "_spec.json"), partition_by)
        else:
            df.write.mode("overwrite").parquet(d)
        _write_ptr(
            os.path.join(d, "_fields.json"), {c: by_name[c] for c in df.columns}
        )
        _write_ptr(os.path.join(d, "_schema.json"), schema)
        return {"_parent": cur}

    return _commit(table_dir, write)


def read_snapshot_evolved(
    spark: SparkSession, table_dir: str, snapshot_id: int | None = None
) -> DataFrame:
    """The table as of a snapshot, under THAT snapshot's logical
    schema.  Walks the _parent chain collecting data segments; each
    segment's physical columns map to logical names via field ids
    (rename-safe), ids absent from a segment surface as typed NULLs
    (add-column back-fill), ids dropped from the schema are pruned at
    the projection (never read thanks to parquet column pruning)."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        raise ValueError("empty table")
    if snapshot_id is None:
        snapshot_id = cur
    if snapshot_id > cur:
        raise ValueError(f"snapshot {snapshot_id} not committed")
    schema = _snapshot_schema(table_dir, snapshot_id)
    parts: list[DataFrame] = []
    sid: int | None = snapshot_id
    while sid is not None:
        d = _snap_dir(table_dir, sid)
        fields_p = os.path.join(d, "_fields.json")
        if os.path.exists(fields_p):
            fields = _read_json(fields_p)  # physical name -> field id
            by_id = {v: k for k, v in fields.items()}
            seg = spark.read.parquet(d)
            # cast physical to the declared logical type: a hive
            # partition directory key re-enters type-inferred, and the
            # declared schema must win over inference
            cols = [
                F.col(by_id[f["id"]]).cast(f["type"]).alias(f["name"])
                if f["id"] in by_id
                else F.lit(None).cast(f["type"]).alias(f["name"])
                for f in schema
            ]
            parts.append(seg.select(*cols))
        sid = _read_ptr(os.path.join(d, "_parent"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_evolved_pruned_eq(
    spark: SparkSession, table_dir: str, col: str, value,
    snapshot_id: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Equality read through PER-SEGMENT partition specs: a segment
    partitioned on ``col`` (under the physical name its spec recorded —
    rename-safe via field ids) contributes only its matching hive
    subdirectory; an unpartitioned segment is scanned with the residual
    filter.  Returns (df, dirs_read, dirs_total) where the counts are
    hive leaf directories (an unpartitioned segment counts 1) — the
    pruning-effectiveness evidence.  Semantically identical to
    ``read_snapshot_evolved(...).where(col == value)``."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        raise ValueError("empty table")
    sid: int | None = cur if snapshot_id is None else snapshot_id
    schema = _snapshot_schema(table_dir, sid)
    fid = next((f["id"] for f in schema if f["name"] == col), None)
    if fid is None:
        raise ValueError(f"unknown column {col!r}")
    typ = next(f["type"] for f in schema if f["id"] == fid)
    parts: list[DataFrame] = []
    dirs_read = dirs_total = 0
    while sid is not None:
        d = _snap_dir(table_dir, sid)
        fields_p = os.path.join(d, "_fields.json")
        if os.path.exists(fields_p):
            fields = _read_json(fields_p)
            by_id = {v: k for k, v in fields.items()}
            spec_p = os.path.join(d, "_spec.json")
            spec = _read_json(spec_p) if os.path.exists(spec_p) else []
            phys = by_id.get(fid)

            def _mapped(seg: "DataFrame") -> DataFrame:
                return seg.select(*[
                    F.col(by_id[f["id"]]).cast(f["type"]).alias(f["name"])
                    if f["id"] in by_id
                    else F.lit(None).cast(f["type"]).alias(f["name"])
                    for f in schema
                ])

            if phys is not None and spec and spec[0] == phys:
                # prune ONLY on the FIRST spec level: the hive layout
                # nests dirs in spec order, so `d/col=value` exists
                # only for level 0 — pruning on a deeper level would
                # silently skip the whole segment (lossy). Deeper
                # levels fall through to the residual filter. Plain
                # =-joined dir names (no URL-escaping needed for the
                # key domains used here — documented assumption shared
                # with operators/layout.py)
                leaves = [
                    n for n in os.listdir(d) if n.startswith(f"{phys}=")
                ]
                dirs_total += len(leaves)
                hit = os.path.join(d, f"{phys}={value}")
                if os.path.isdir(hit):
                    dirs_read += 1
                    seg = spark.read.option("basePath", d).parquet(hit)
                    parts.append(_mapped(seg))
            else:
                dirs_total += 1
                dirs_read += 1
                parts.append(_mapped(spark.read.parquet(d)))
        sid = _read_ptr(os.path.join(d, "_parent"))
    if not parts:
        base = read_snapshot_evolved(spark, table_dir).limit(0)
        return base.where(F.col(col) == value), dirs_read, dirs_total
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.where(F.col(col) == F.lit(value).cast(typ)),
        dirs_read,
        dirs_total,
    )


def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end through the real protocol: commit
    customers with odd keys (v1 names) → metadata-only evolution
    (RENAME c_acctbal→balance, ADD loyalty_tier string; zero data files
    touched — asserted) → append even-key rows under the NEW schema
    with tiers assigned → read CURRENT (old segment surfaces renamed +
    NULL-tier via field-id resolution) and time-travel snapshot 0
    (old names intact over the same bytes).  Output per segment:
    totals, per-generation counts, NULL-backfill count, gold count,
    decimal balance (proving the rename re-binds the same physical
    column), and the metadata-only-commit boolean."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS)
    table_dir = tempfile.mkdtemp(prefix="evo_table_")
    commit_snapshot_evolved(
        spark, cust.where(F.col("c_custkey") % 2 == 1), table_dir
    )
    ev = evolve_schema(
        table_dir,
        rename={"c_acctbal": "balance"},
        add=[("loyalty_tier", "string")],
    )
    # the evolution snapshot must hold NO data files — metadata only
    ev_files = os.listdir(_snap_dir(table_dir, ev))
    metadata_only = sorted(ev_files) == ["_parent", "_schema.json"]
    v2 = (
        cust.where(F.col("c_custkey") % 2 == 0)
        .withColumnRenamed("c_acctbal", "balance")
        .withColumn(
            "loyalty_tier",
            F.when(F.col("balance") > 5000, F.lit("gold")).otherwise(F.lit("std")),
        )
    )
    append_evolved(spark, v2, table_dir)

    current = read_snapshot_evolved(spark, table_dir)
    old = read_snapshot_evolved(spark, table_dir, 0)
    old_names_preserved = old.columns == _CUST_COLS
    return (
        current.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.col("loyalty_tier").isNull().cast("long")).alias("n_v1_backfilled"),
            F.sum((F.col("loyalty_tier") == "gold").cast("long")).alias("n_gold"),
            F.sum(F.col("balance").cast("decimal(18,4)")).cast("double")
            .alias("bal_total"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            "n_total", "n_v1_backfilled", "n_gold", "bal_total",
            F.lit(bool(metadata_only)).alias("evolution_metadata_only"),
            F.lit(bool(old_names_preserved)).alias("time_travel_keeps_old_names"),
        )
        .orderBy("segment")
    )


TABLE_SCHEMA_EVOLUTION_SQL = """
WITH base AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
), v1 AS (
  SELECT c_custkey, c_acctbal AS balance, c_mktsegment,
         CAST(NULL AS VARCHAR) AS loyalty_tier
  FROM base WHERE c_custkey % 2 = 1
), v2 AS (
  SELECT c_custkey, c_acctbal AS balance, c_mktsegment,
         CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'std' END AS loyalty_tier
  FROM base WHERE c_custkey % 2 = 0
), unioned AS (
  SELECT * FROM v1 UNION ALL SELECT * FROM v2
)
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN loyalty_tier IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_v1_backfilled,
       CAST(SUM(CASE WHEN loyalty_tier = 'gold' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gold,
       CAST(SUM(CAST(balance AS DECIMAL(18,4))) AS DOUBLE) AS bal_total,
       TRUE AS evolution_metadata_only,
       TRUE AS time_travel_keeps_old_names
FROM unioned
GROUP BY c_mktsegment
ORDER BY segment
"""


# --- MERGE INTO as merge-on-read ---------------------------------------------

def merge_rows_mor(
    spark: SparkSession, table_dir: str, source: DataFrame, key: str
) -> int:
    """MERGE INTO with delta-wins upsert semantics (the same contract
    as operators/upsert.py), executed merge-on-read: matched target
    rows' coordinates join the deletion vector and the WHOLE source
    batch lands in the insert-delta — matched rows replaced wholesale,
    unmatched rows inserted, base data files untouched.  Cost is
    O(batch) writes + one keyed semi-join against the live base; with
    a dimension-sized batch the semi-join broadcasts, so nothing
    O(table) shuffles.  Replaying the same batch is idempotent: the
    second pass tombstones nothing new in the base (rows already left
    it) and rewrites the identical delta."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        raise ValueError("empty table")
    ov = _overlay_info(table_dir, cur)
    base_id = cur if ov is None else ov[0]
    with_pos = _read_data_with_pos(spark, _snap_dir(table_dir, base_id))
    old_dv = spark.read.parquet(ov[1]) if ov else None
    old_ins = _overlay_ins(spark, table_dir, cur)
    live_base = (
        with_pos if old_dv is None
        else with_pos.join(old_dv, ["_dv_file", "_dv_pos"], "left_anti")
    )
    src_keys = F.broadcast(source.select(key).distinct())
    new_tombs = live_base.join(src_keys, key, "semi").select("_dv_file", "_dv_pos")
    all_tombs = new_tombs if old_dv is None else old_dv.unionByName(new_tombs)
    ins = (
        source if old_ins is None
        else old_ins.join(src_keys, key, "left_anti").unionByName(source)
    )
    return _commit(table_dir, _overlay_writer(base_id, all_tombs, ins))


def table_mor_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO lifecycle merge-on-read: base customers → merge a
    batch that UPDATES custkey%4==0 (acctbal+500) and INSERTS brand-new
    keys (custkey+10_000_000, one per segment-leading row custkey%100==1)
    → REPLAY the identical batch (must be a no-op) → merge a second
    batch on top of the first overlay (stacking).  Per segment: rows &
    decimal balance after the first merge, the replay-idempotence
    boolean, and rows after the stacked second merge.  The oracle
    recomputes every state relationally."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS)
    table_dir = tempfile.mkdtemp(prefix="mor_merge_")
    commit_snapshot(spark, cust, table_dir)

    updates = cust.where(F.col("c_custkey") % 4 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(500.0)
    )
    inserts = cust.where(F.col("c_custkey") % 100 == 1).withColumn(
        "c_custkey", F.col("c_custkey") + F.lit(10_000_000)
    )
    batch = updates.unionByName(inserts)
    m1 = merge_rows_mor(spark, table_dir, batch, "c_custkey")
    s1 = read_snapshot_mor(spark, table_dir, m1)
    m2 = merge_rows_mor(spark, table_dir, batch, "c_custkey")  # replay
    s2 = read_snapshot_mor(spark, table_dir, m2)
    # the two snapshot counts are independent jobs — overlap them
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        c1_f = pool.submit(inheritable_thread_target(spark)(s1.count))
        c2_f = pool.submit(inheritable_thread_target(spark)(s2.count))
        c1, c2 = c1_f.result(), c2_f.result()
    idempotent = c1 == c2 and s1.exceptAll(s2).count() == 0
    batch2 = cust.where(F.col("c_custkey") % 10 == 7).withColumn(
        "c_acctbal", F.lit(0.0)
    )
    m3 = merge_rows_mor(spark, table_dir, batch2, "c_custkey")
    s3 = read_snapshot_mor(spark, table_dir, m3)

    agg1 = s1.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_merge1"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
        .alias("bal_merge1"),
    )
    agg3 = s3.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_merge2"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
        .alias("bal_merge2"),
    )
    return (
        agg1.join(agg3, "c_mktsegment")
        .select(
            F.col("c_mktsegment").alias("segment"),
            "n_merge1", "bal_merge1",
            F.lit(bool(idempotent)).alias("replay_idempotent"),
            "n_merge2", "bal_merge2",
        )
        .orderBy("segment")
    )


TABLE_MOR_MERGE_SQL = """
WITH base AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
), updates AS (
  SELECT c_custkey, c_acctbal + 500.0 AS c_acctbal, c_mktsegment
  FROM base WHERE c_custkey % 4 = 0
), inserts AS (
  SELECT c_custkey + 10000000 AS c_custkey, c_acctbal, c_mktsegment
  FROM base WHERE c_custkey % 100 = 1
), batch AS (
  SELECT * FROM updates UNION ALL SELECT * FROM inserts
), merged1 AS (
  SELECT * FROM batch
  UNION ALL
  SELECT b.* FROM base b LEFT JOIN batch s USING (c_custkey)
  WHERE s.c_custkey IS NULL
), batch2 AS (
  SELECT c_custkey, 0.0 AS c_acctbal, c_mktsegment
  FROM base WHERE c_custkey % 10 = 7
), merged2 AS (
  SELECT * FROM batch2
  UNION ALL
  SELECT m.* FROM merged1 m LEFT JOIN batch2 s USING (c_custkey)
  WHERE s.c_custkey IS NULL
), a1 AS (
  SELECT c_mktsegment, COUNT(*) AS n_merge1,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_merge1
  FROM merged1 GROUP BY 1
), a2 AS (
  SELECT c_mktsegment, COUNT(*) AS n_merge2,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_merge2
  FROM merged2 GROUP BY 1
)
SELECT c_mktsegment AS segment,
       CAST(n_merge1 AS BIGINT) AS n_merge1, bal_merge1,
       TRUE AS replay_idempotent,
       CAST(n_merge2 AS BIGINT) AS n_merge2, bal_merge2
FROM a1 JOIN a2 USING (c_mktsegment)
ORDER BY segment
"""


def rollback_to(table_dir: str, snapshot_id: int) -> int:
    """Point CURRENT back at an older committed snapshot — one atomic
    pointer rename, nothing rewritten. The abandoned head is TAGGED
    (``REF-rollback-<id>``, Iceberg's tag-before-rollback discipline)
    so (a) the id allocator never reuses its generation as a crash
    orphan and (b) roll-FORWARD is just another rollback_to targeting
    the tagged id. Targets may be any retained snapshot at-or-below
    CURRENT or a tagged abandoned head."""
    if current_snapshot_id(table_dir) is None:
        raise ValueError("empty table")
    # read, check, tag and flip under the lock, so a commit landing in
    # between can't leave its head untagged (and reusable as an orphan)
    with _FlipLock(table_dir):
        cur = current_snapshot_id(table_dir)
        if snapshot_id == cur:
            return cur
        if snapshot_id < 0 or (
            snapshot_id > cur and snapshot_id not in _all_ref_ids(table_dir)
        ):
            raise ValueError(
                f"snapshot {snapshot_id} not committed (CURRENT={cur})"
            )
        if not os.path.isdir(_snap_dir(table_dir, snapshot_id)):
            raise ValueError(f"snapshot {snapshot_id} expired or missing")
        _write_ptr(_ref_path(table_dir, f"rollback-{cur}"), cur)
        _write_ptr(_ref_path(table_dir, "CURRENT"), snapshot_id)
    return snapshot_id


def snapshot_history(table_dir: str) -> list[dict]:
    """Commit history of the table, oldest first: id, kind (data / MoR
    overlay / evolution metadata / append), and the parent it depends
    on — assembled from the on-disk pointers alone, no data read."""
    out = []
    for sid in snapshot_ids(table_dir):
        d = _snap_dir(table_dir, sid)
        ov = _overlay_info(table_dir, sid)
        if ov is not None:
            kind, parent = "mor_overlay", ov[0]
        elif (parent := _read_ptr(os.path.join(d, "_parent"))) is not None:
            has_data = any(f.startswith("part-") or "=" in f
                           for f in os.listdir(d))
            kind = "append" if has_data else "evolution"
        else:
            kind, parent = "data", None
        out.append({"id": sid, "kind": kind, "parent": parent})
    return out


def maintain_table(
    spark: SparkSession, table_dir: str,
    max_overlay_chain: int = 3, keep_last: int = 2,
) -> dict:
    """One-call table maintenance (the OPTIMIZE/VACUUM housekeeping a
    lake table needs on a schedule): compact the merge-on-read overlay
    when the CURRENT chain of overlay commits exceeds
    ``max_overlay_chain`` (bounding read amplification), then expire
    old snapshots (dependency-aware) and vacuum orphans. Returns the
    action report. Safe to run any time: every step uses the standing
    commit protocol, so readers never observe a half-maintained
    table."""
    cur = current_snapshot_id(table_dir)
    if cur is None:
        return {"compacted": False, "expired": [], "vacuumed": []}
    chain = 0
    sid = cur
    while (ov := _overlay_info(table_dir, sid)) is not None:
        chain += 1
        # stacked overlays share one BASE; chain length = overlay
        # commits since that base
        nxt = sid - 1
        if nxt < 0 or _chain_base(table_dir, nxt) != ov[0] and nxt != ov[0]:
            break
        sid = nxt
        if sid == ov[0]:
            break
    compacted = False
    if chain > max_overlay_chain:
        compact_mor(spark, table_dir)
        compacted = True
    expired = expire_snapshots(table_dir, keep_last=keep_last)
    vacuumed = vacuum_orphans(table_dir)
    return {"compacted": compacted, "expired": expired, "vacuumed": vacuumed}


def register_snapshot_view(
    spark: SparkSession, table_dir: str, name: str,
    snapshot_id: int | None = None, ref: str | None = None,
) -> None:
    """Mount a snapshot (or a named ref's head) as a temp view so plain
    ``spark.sql`` works over the lake layer — MoR overlays resolve
    through the merge-on-read reader, pinned ids give reproducible
    SQL-over-time-travel. The view captures the snapshot resolved NOW:
    later commits don't move it (snapshot isolation for SQL readers)."""
    if ref is not None:
        df = read_ref(spark, table_dir, ref)
        if df is None:
            raise ValueError(f"unknown ref {ref!r}")
    else:
        df = read_snapshot_mor(spark, table_dir, snapshot_id)
    df.createOrReplaceTempView(name)


def table_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution end-to-end: v1 segment committed
    UNPARTITIONED (odd custkeys) → v2 segment appended partitioned by
    c_mktsegment (even custkeys; the spec applies to the new segment
    only, zero old files touched) → metadata-only RENAME
    c_mktsegment→segment → equality read on segment='BUILDING' through
    the per-segment specs: the v1 segment full-scans with a residual
    filter, the v2 segment contributes exactly ONE hive directory, and
    the rename resolves back to the physical dir name via field ids.
    Output: BUILDING row counts split by generation, decimal balance,
    and the pruned/lossless booleans (dirs_read < dirs_total; pruned
    rows == unpruned filter rows).  Oracle recomputes relationally."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS)
    table_dir = tempfile.mkdtemp(prefix="pspec_table_")
    commit_snapshot_evolved(
        spark, cust.where(F.col("c_custkey") % 2 == 1), table_dir
    )
    append_evolved(
        spark, cust.where(F.col("c_custkey") % 2 == 0), table_dir,
        partition_by=["c_mktsegment"],
    )
    evolve_schema(table_dir, rename={"c_mktsegment": "segment"})

    pruned, dirs_read, dirs_total = read_evolved_pruned_eq(
        spark, table_dir, "segment", "BUILDING"
    )
    full = read_snapshot_evolved(spark, table_dir).where(
        F.col("segment") == "BUILDING"
    )
    lossless = pruned.count() == full.count()
    return pruned.agg(
        F.count(F.lit(1)).cast("long").alias("n_building"),
        F.sum((F.col("c_custkey") % 2 == 1).cast("long")).alias("n_v1"),
        F.sum((F.col("c_custkey") % 2 == 0).cast("long")).alias("n_v2"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
        .alias("bal"),
    ).select(
        "n_building", "n_v1", "n_v2", "bal",
        F.lit(bool(dirs_read < dirs_total)).alias("spec_pruned"),
        F.lit(bool(lossless)).alias("prune_lossless"),
    )


TABLE_PARTITION_EVOLUTION_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_building,
       CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_v1,
       CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_v2,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal,
       TRUE AS spec_pruned,
       TRUE AS prune_lossless
FROM customer
WHERE c_mktsegment = 'BUILDING'
"""


_LOOKUP_KEYS = [7, 42, 99, 123, 145]  # exist at every test SF


def table_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level bloom index end-to-end: commit customers as a
    16-file snapshot, build the distributed bloom sidecar on
    c_custkey, then point-look-up five keys through it.  Output per
    key: the row's segment + balance (proving the lookup is lossless)
    and the bloom_pruned boolean (files_read < files_total — the
    index must actually skip files, not just pass everything).  The
    DuckDB oracle recomputes the rows relationally with pruned=TRUE,
    so a lossy bloom (missed row) or a useless one (no pruning)
    hash-mismatches."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS).repartition(16)
    table_dir = tempfile.mkdtemp(prefix="bloom_table_")
    commit_snapshot(spark, cust, table_dir)
    build_bloom_index(spark, table_dir, "c_custkey")

    parts = []
    for k in _LOOKUP_KEYS:
        df, files_read, files_total = read_point_lookup(
            spark, table_dir, "c_custkey", k
        )
        parts.append(
            df.select(
                "c_custkey", "c_mktsegment", "c_acctbal",
                F.lit(files_read < files_total).alias("bloom_pruned"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        "bloom_pruned",
    ).orderBy("custkey")


TABLE_BLOOM_LOOKUP_SQL = """
SELECT c_custkey AS custkey, c_mktsegment AS segment,
       c_acctbal AS acctbal, TRUE AS bloom_pruned
FROM customer
WHERE c_custkey IN (7, 42, 99, 123, 145)
ORDER BY custkey
"""


# --- incremental aggregate maintenance from the changelog --------------------

def maintain_agg_from_changes(
    agg: DataFrame, changes: DataFrame, keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """O(delta) maintenance of a materialized grouped aggregate: fold a
    ``read_changes`` batch into an existing (keys, n, sum_<c>...) table
    — inserts add, deletes subtract, groups reaching n=0 retire.  The
    aggregate columns live as DECIMAL(18,4), so maintenance is EXACTLY
    equal to re-aggregating the new snapshot (decimal addition is
    associative/commutative — no FP drift across arbitrarily many
    batches).  The delta aggregation touches only the changelog;
    the join is keyed by the (small) group domain — at 100 TB the
    materialized agg is dimension-sized and the whole step is
    broadcast-shaped, never a corpus shuffle."""
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = changes.groupBy(*keys).agg(
        F.sum(sign).cast("long").alias("_dn"),
        *[
            F.sum(
                (sign.cast("decimal(18,4)") * F.col(c).cast("decimal(18,4)"))
                .cast("decimal(18,4)")
            ).cast("decimal(18,4)").alias(f"_d_{c}")
            for c in sum_cols
        ],
    )
    zero = F.lit(0).cast("decimal(18,4)")
    out = agg.join(delta, keys, "full_outer").select(
        *keys,
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0)))
        .cast("long").alias("n"),
        *[
            (
                F.coalesce(F.col(f"sum_{c}"), zero)
                + F.coalesce(F.col(f"_d_{c}"), zero)
            ).cast("decimal(18,4)").alias(f"sum_{c}")
            for c in sum_cols
        ],
    )
    return out.where(F.col("n") > 0)


def table_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance end-to-end: the per-segment
    (count, balance) aggregate is computed ONCE over snapshot 0, then
    maintained purely from changelogs across a MoR update batch and a
    MoR delete batch — the final table is never re-aggregated.  Output
    per segment: the maintained count/balance, the direct re-aggregation
    of the final snapshot, and their equality booleans (decimal
    discipline makes the equality exact, not approximate).  The DuckDB
    oracle recomputes the final state relationally; a maintenance rule
    that misses a carry-forward or double-applies a batch breaks both
    the booleans and the hash."""
    import tempfile

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(*_CUST_COLS)
    table_dir = tempfile.mkdtemp(prefix="ivm_table_")
    commit_snapshot(spark, cust, table_dir)
    agg0 = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("decimal(18,4)")
        .alias("sum_c_acctbal"),
    )
    u1 = update_rows_mor(
        spark, table_dir, "c_custkey % 5 = 0",
        {"c_acctbal": "c_acctbal + 1000.0"},
    )
    agg1 = maintain_agg_from_changes(
        agg0, read_changes(spark, table_dir, 0, u1),
        ["c_mktsegment"], ["c_acctbal"],
    )
    d1 = delete_rows_mor(spark, table_dir, "c_acctbal < 0")
    agg2 = maintain_agg_from_changes(
        agg1, read_changes(spark, table_dir, u1, d1),
        ["c_mktsegment"], ["c_acctbal"],
    )
    direct = read_snapshot_mor(spark, table_dir, d1).groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_direct"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("decimal(18,4)")
        .alias("bal_direct"),
    )
    return (
        agg2.join(direct, "c_mktsegment")
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("n").alias("n_maintained"),
            "n_direct",
            F.col("sum_c_acctbal").cast("double").alias("bal_maintained"),
            F.col("bal_direct").cast("double").alias("bal_direct"),
            (F.col("n") == F.col("n_direct")).alias("count_exact"),
            (F.col("sum_c_acctbal") == F.col("bal_direct")).alias("sum_exact"),
        )
        .orderBy("segment")
    )


TABLE_INCR_AGG_SQL = """
WITH base AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
), upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1000.0
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM base
), final AS (
  SELECT * FROM upd WHERE NOT (c_acctbal < 0)
)
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_maintained,
       CAST(COUNT(*) AS BIGINT) AS n_direct,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_maintained,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_direct,
       TRUE AS count_exact,
       TRUE AS sum_exact
FROM final
GROUP BY c_mktsegment
ORDER BY segment
"""


SNAPSHOT_QUERIES: dict[str, tuple] = {
    "table_time_travel": (table_time_travel, TIME_TRAVEL_SQL),
    "table_mor_deletes": (table_mor_deletes, TABLE_MOR_SQL),
    "table_mor_updates": (table_mor_updates, TABLE_MOR_UPDATES_SQL),
    "table_wap_publish": (table_wap_publish, TABLE_WAP_SQL),
    "table_changelog": (table_changelog, TABLE_CHANGELOG_SQL),
    "table_schema_evolution": (table_schema_evolution, TABLE_SCHEMA_EVOLUTION_SQL),
    "table_incremental_agg": (table_incremental_agg, TABLE_INCR_AGG_SQL),
    "table_mor_merge": (table_mor_merge, TABLE_MOR_MERGE_SQL),
    "table_bloom_lookup": (table_bloom_lookup, TABLE_BLOOM_LOOKUP_SQL),
    "table_partition_evolution": (
        table_partition_evolution, TABLE_PARTITION_EVOLUTION_SQL
    ),
}
