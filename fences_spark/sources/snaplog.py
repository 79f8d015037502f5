"""Snapshot-log tables: Iceberg snapshot semantics over plain parquet.

The north rule reads an Iceberg table with snapshot pinning and
``start-snapshot-id`` incremental resume; the sandbox has no Iceberg
runtime jars, so this module reproduces the exact READ semantics the
engine depends on — append-only snapshots, time travel, and
incremental (exclusive-start, inclusive-end) reads — with the same
layering Iceberg itself uses: a tiny driver-side metadata log plus
immutable columnar data files that Spark scans natively.

Layout (all under one table root)::

    <root>/metadata/snapshots.json     ordered snapshot log (atomic
                                       replace on commit — the one
                                       mutable file, like Iceberg's
                                       version-hint/metadata.json)
    <root>/metadata/.lock              flock'd by a committing append
    <root>/data/snap-<parent>-<uuid>/  immutable per-snapshot data
                                       (an entry's ``dir``; readers
                                       follow it, so older tables'
                                       ``snap-<id>/`` dirs read too)

Scale notes (100 TB): the log is metadata only — O(#snapshots) driver
bytes, never shipped to executors.  Reads resolve the log to a list of
immutable directories and hand them to ``spark.read.parquet(*dirs)``,
so predicate pushdown, column pruning, and partition-size splitting
are exactly what a plain parquet scan gets; an incremental read scans
ONLY the appended snapshots' files (the point of Iceberg incremental
reads — no full-table rescan on resume).

Semantics matched to Iceberg's options (read via
``spark.read.format("iceberg").option(...)``):

- ``snapshot-id`` time travel: table state AS OF that snapshot
  (here: union of all snapshots up to and including it).
- ``start-snapshot-id`` (+ optional ``end-snapshot-id``) incremental
  append scan: rows committed AFTER start, up to and including end —
  start exclusive, end inclusive.

Snapshot ids are opaque deterministic strings (sha256 of parent id +
sorted data-file sizes) — no wall clock, so tests and re-runs are
byte-stable; ordering lives in the log, as in Iceberg's
parent-pointer chain.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_META = "metadata"
_LOG = "snapshots.json"


def _log_path(root: str) -> str:
    return os.path.join(root, _META, _LOG)


def is_snaplog_table(root: str) -> bool:
    return os.path.isfile(_log_path(root))


def read_log(root: str) -> list[dict]:
    """Ordered snapshot log (oldest first). Each entry:
    {snapshot_id, parent_id, dir, n_files, columns}."""
    with open(_log_path(root)) as f:
        return json.load(f)


def current_snapshot_id(root: str) -> str | None:
    log = read_log(root) if is_snaplog_table(root) else []
    return log[-1]["snapshot_id"] if log else None


def _commit(root: str, log: list[dict]) -> None:
    """Atomic log swap: temp file + rename, the parquet-dir analog of
    Iceberg's metadata-file commit (readers see the old or the new
    log, never a partial one)."""
    tmp = _log_path(root) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(log, f, indent=1)
    os.replace(tmp, _log_path(root))


def append(spark: SparkSession, root: str, df: DataFrame) -> str:
    """Commit ``df`` as a new snapshot; returns its snapshot id.

    The data goes, outside any lock, straight into its own
    ``data/snap-<parent>-<uuid>/``; the commit is ONE head check under
    an exclusive ``flock`` on ``metadata/.lock`` (the kernel drops a
    dead holder's lock).  A moved head removes this attempt's data and
    raises, also when the write itself failed (a racing commit may
    have reclaimed its dir): the table is single-writer by contract.
    A crash before the log swap leaves an orphan no reader sees; the
    next commit on the same parent deletes every other
    ``snap-<parent>-*`` dir, as none of them can commit once it has.
    """
    log = read_log(root) if is_snaplog_table(root) else []
    parent = log[-1]["snapshot_id"] if log else ""
    cols = [[f.name, f.dataType.simpleString()] for f in df.schema.fields]
    if log:
        prev_cols = log[-1]["columns"]
        if cols != prev_cols:
            raise ValueError(
                f"snapshot schema mismatch: table has {prev_cols}, append has {cols}"
            )
    data = os.path.join(root, "data")
    prefix = f"snap-{parent or 'root'}-"
    final = os.path.join(data, prefix + uuid.uuid4().hex)
    failed = None
    try:
        df.write.mode("error").parquet(final)
    except Exception as e:  # judged after the head check: a racing
        failed = e  # commit may have reclaimed ``final`` mid-write
    os.makedirs(os.path.join(root, _META), exist_ok=True)
    with open(os.path.join(root, _META, ".lock"), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fresh = read_log(root) if is_snaplog_table(root) else []
        head = fresh[-1]["snapshot_id"] if fresh else ""
        if head != parent or failed:
            shutil.rmtree(final, ignore_errors=True)
            if head == parent:
                raise failed
            raise RuntimeError(
                f"concurrent append detected: table head moved from "
                f"{parent or '<empty>'} to {head or '<empty>'} while "
                "this append was in flight; snaplog tables are single-writer"
            ) from failed
        # listed under the lock: only a commit on this parent reclaims
        # this dir, and none has happened while the head is unmoved
        names = sorted(n for n in os.listdir(final) if not n.startswith((".", "_")))
        # id from parent + sorted data-file sizes: part-file NAMES embed
        # write UUIDs, sizes don't — so an identical content chain gets
        # identical ids (byte-stable tests/resumes) while within one
        # table the advancing parent makes collisions impossible.
        sizes = sorted(os.path.getsize(os.path.join(final, n)) for n in names)
        snap_id = hashlib.sha256(
            "\n".join([parent, *map(str, sizes)]).encode()
        ).hexdigest()[:16]
        _commit(root, log + [{
            "snapshot_id": snap_id,
            "parent_id": parent or None,
            "dir": os.path.relpath(final, root),
            "n_files": len(names),
            "columns": cols,
        }])
        for n in os.listdir(data):
            if n.startswith(prefix) and n != os.path.basename(final):
                shutil.rmtree(os.path.join(data, n), ignore_errors=True)
    return snap_id


def _index_of(log: list[dict], snapshot_id: str) -> int:
    for i, s in enumerate(log):
        if s["snapshot_id"] == snapshot_id:
            return i
    raise ValueError(f"unknown snapshot id {snapshot_id!r}")


def _read_dirs(spark: SparkSession, root: str, entries: list[dict]) -> DataFrame:
    if not entries:
        # empty slice: schema from the newest snapshot's footer
        log = read_log(root)
        if not log:
            raise ValueError(f"snaplog table {root!r} has no snapshots")
        template = spark.read.parquet(os.path.join(root, log[-1]["dir"]))
        return template.limit(0)
    return spark.read.parquet(*[os.path.join(root, e["dir"]) for e in entries])


def read(
    spark: SparkSession, root: str, *, snapshot_id: str | None = None
) -> DataFrame:
    """Table state as of ``snapshot_id`` (default: current) — the
    ``snapshot-id`` time-travel read."""
    log = read_log(root)
    hi = _index_of(log, snapshot_id) if snapshot_id is not None else len(log) - 1
    return _read_dirs(spark, root, log[: hi + 1])


def read_incremental(
    spark: SparkSession,
    root: str,
    *,
    start_snapshot_id: str,
    end_snapshot_id: str | None = None,
) -> DataFrame:
    """Rows appended AFTER ``start_snapshot_id`` up to and including
    ``end_snapshot_id`` (default: current) — Iceberg's
    ``start-snapshot-id``/``end-snapshot-id`` incremental append scan
    (start exclusive, end inclusive)."""
    log = read_log(root)
    lo = _index_of(log, start_snapshot_id) + 1
    hi = _index_of(log, end_snapshot_id) if end_snapshot_id is not None else len(log) - 1
    if hi < lo - 1:
        raise ValueError("end snapshot precedes start snapshot")
    return _read_dirs(spark, root, log[lo : hi + 1])
