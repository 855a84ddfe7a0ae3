"""Lake-level transaction log: cross-table atomic commits (round-12).

SURVEY §7.5's documented design sketch, shipped: a ``_txlog/``
directory at the lake root holds commit RECORDS, each naming
``(table location, manifest version)`` pairs. The record is the commit
of record: it becomes visible with one tmp+rename, so a txlog-aware
reader (:func:`read_table_txn`) observes every named table at its
pinned version — both-or-neither, never a half-published pair. The
per-table main pointers are then rolled forward as PROPAGATION (so
txlog-unaware readers converge); a crash mid-roll-forward is healed by
:func:`txlog_roll_forward`, and txlog-aware readers never saw the
tear.

Relationship to ``Engine.stage_and_publish`` (L11): staging is the
same zero-copy branch mechanism; what changes is the commit point.
stage_and_publish's window is N pointer renames (each atomic, skew
possible between them); :meth:`Engine.lake_transaction` shrinks the
window to ONE rename of a record that pins the whole cut, with the N
renames demoted to idempotent propagation performed under the tables'
publish locks.

Concurrency: the commit validates, writes the record, and propagates
while holding every named table's :data:`~.lake.publish_lock` (taken
in sorted-path order — no deadlock between two transactions) plus the
txlog's own lock, so it serializes against every cooperating manifest
writer (append/merge/publish all take the same per-table lock). The
guarantee is cooperative and single-host by default, exactly like the
per-table locks themselves; the multi-host story is the same
pluggable-CAS note on ``_flock_publish_lock``.

100 TB: a commit record is O(tables) JSON bytes; txlog-aware reader
resolution is one extra tiny JSON read (the newest record); staging
and propagation move ZERO data — branch commits already are the
table's files.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import ExitStack
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from . import lake as _lake
from .lake import (
    ConcurrentLakeModificationError,
    _is_ancestor,
    _write_pointer,
    read_manifest,
    read_table,
)

_REC_PREFIX = "commit_"


def _txlog_dir(lake_root: str) -> Path:
    return Path(lake_root) / "_txlog"


def _table_key(table_path: str) -> str:
    """Canonical record key for a table location."""
    return os.path.abspath(str(table_path))


def txlog_records(lake_root: str) -> list[dict]:
    """All commit records, oldest first. Ignores foreign files."""
    d = _txlog_dir(lake_root)
    if not d.is_dir():
        return []
    recs = []
    for f in sorted(d.iterdir()):
        if f.name.startswith(_REC_PREFIX) and f.suffix == ".json":
            recs.append(json.loads(f.read_text()))
    return sorted(recs, key=lambda r: r["seq"])


def txlog_current(lake_root: str) -> dict | None:
    """The newest commit record, or None when the log is empty."""
    recs = txlog_records(lake_root)
    return recs[-1] if recs else None


def txlog_commit(lake_root: str, pins: dict[str, int]) -> dict:
    """Commit a consistent cut: pin every table in ``pins`` to the
    given manifest version, atomically (ONE record rename), then roll
    the main pointers forward — all under the tables' publish locks
    plus the txlog lock, so cooperating writers are serialized.

    Each pinned version must exist as a retained manifest and must
    DESCEND from the table's current main pointer (fast-forward
    semantics; anything else raises
    :class:`ConcurrentLakeModificationError` before the record is
    written — the staging was audited against a base main no longer
    has). Unchanged tables may pin their current version (the record
    still names them: the cut is explicit).

    Crash contract: a crash BEFORE the record rename leaves nothing —
    no reader saw anything. A crash AFTER it (mid-propagation) leaves
    the transaction COMMITTED: txlog-aware readers already see the
    full cut, and :func:`txlog_roll_forward` completes the pointer
    moves idempotently.
    """
    keyed = {_table_key(p): int(v) for p, v in pins.items()}
    if not keyed:
        raise ValueError("a lake transaction must name at least one table")
    d = _txlog_dir(lake_root)
    d.mkdir(parents=True, exist_ok=True)
    with ExitStack() as locks:
        # sorted-path lock order prevents deadlock between transactions
        locks.enter_context(_lake.publish_lock(d))
        for key in sorted(keyed):
            locks.enter_context(_lake.publish_lock(Path(key)))
        staged: dict[str, dict] = {}
        for key, v in keyed.items():
            try:
                m = read_manifest(key, v)
            except FileNotFoundError:
                raise ValueError(
                    f"pinned version v{v} of table {key} is not a "
                    "retained manifest snapshot"
                ) from None
            cur = read_manifest(key)
            if cur is None:
                raise ValueError(f"table at {key} is not manifest-committed")
            if cur["version"] != v and not _is_ancestor(
                key, cur["version"], m
            ):
                raise ConcurrentLakeModificationError(
                    f"table at {key} is at v{cur['version']}, not an "
                    f"ancestor of the pinned v{v} — main advanced since "
                    "staging; re-stage and replay"
                )
            staged[key] = m
        newest = txlog_current(lake_root)
        seq = (newest["seq"] + 1) if newest else 1
        rec = {
            "seq": seq,
            "pins": dict(sorted(keyed.items())),
            "committed_at": time.time(),
        }
        tmp = d / f".commit_tmp_{seq}"
        tmp.write_text(json.dumps(rec, sort_keys=True))
        os.replace(tmp, d / f"{_REC_PREFIX}{seq:012d}.json")
        # ------- committed; everything below is propagation -------
        for key, m in staged.items():
            cur = read_manifest(key)
            if cur is not None and cur["version"] >= m["version"]:
                continue  # already there (idempotent replay)
            _write_pointer(Path(key), m)
    return rec


def txlog_resolve(lake_root: str, table_path: str) -> int | None:
    """The manifest version a txlog-aware reader must use for
    ``table_path``, or None when the table's own main pointer governs.

    Rule: the newest record naming the table wins, but only while its
    pin is AHEAD of the main pointer (i.e. propagation has not landed
    yet); once the pointer catches up — or moves past it through later
    single-table commits — main governs again. Tables never named in
    any record are untouched."""
    key = _table_key(table_path)
    for rec in reversed(txlog_records(lake_root)):
        v = rec["pins"].get(key)
        if v is None:
            continue
        cur = read_manifest(table_path)
        if cur is not None and cur["version"] >= v:
            return None  # propagated (or superseded) — main governs
        return v
    return None


def read_table_txn(
    spark: SparkSession, lake_root: str, table_path: str, **kwargs
) -> DataFrame:
    """:func:`~.lake.read_table` through the transaction log: the
    atomic-cut read. One tiny JSON resolution, then the ordinary
    manifest read (with ``version=`` pinned when a committed record is
    ahead of the main pointer)."""
    v = txlog_resolve(lake_root, table_path)
    if v is not None:
        kwargs = dict(kwargs, version=v)
    return read_table(spark, table_path, **kwargs)


def txlog_roll_forward(lake_root: str) -> dict[str, str]:
    """Heal a crash between a txlog commit and its pointer
    propagation: re-apply the newest record's pins (idempotent — each
    table's lock is taken, ancestry re-verified, and pointers already
    at/val past their pin are left alone). Returns per-table outcomes:
    ``rolled`` / ``current`` / ``diverged`` (a non-cooperating writer
    advanced main off the pinned chain — surfaced, never overwritten).
    """
    rec = txlog_current(lake_root)
    if rec is None:
        return {}
    out: dict[str, str] = {}
    for key, v in rec["pins"].items():
        with _lake.publish_lock(Path(key)):
            cur = read_manifest(key)
            if cur is not None and cur["version"] >= v:
                out[key] = "current"
                continue
            try:
                m = read_manifest(key, v)
            except FileNotFoundError:
                out[key] = "diverged"  # pinned snapshot vacuumed away
                continue
            if cur is not None and not _is_ancestor(key, cur["version"], m):
                out[key] = "diverged"
                continue
            _write_pointer(Path(key), m)
            out[key] = "rolled"
    return out


def txlog_vacuum(lake_root: str, keep_last: int = 20) -> dict:
    """Retention for the transaction log — the maintenance path that
    bounds it for long-running streams (one record per micro-batch
    through ``stream_txlog_ingest``; resolution lists the directory,
    so an unbounded log makes every txn read slower).

    Keeps the newest ``keep_last`` records unconditionally. An OLDER
    record is deleted only when every one of its pins is INERT — the
    table's main pointer is at or past the pinned version (propagated
    or superseded) — so a crashed propagation that only an old record
    remembers is never forgotten: run :func:`txlog_roll_forward`
    first to heal, then vacuum reclaims. Runs under the txlog lock
    (no commit can interleave)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    d = _txlog_dir(lake_root)
    if not d.is_dir():
        return {"deleted": 0, "kept": 0}
    with _lake.publish_lock(d):
        recs = txlog_records(lake_root)
        deletable = recs[:-keep_last] if len(recs) > keep_last else []
        deleted = 0
        for rec in deletable:
            inert = True
            for key, v in rec["pins"].items():
                cur = read_manifest(key)
                if cur is None or cur["version"] < v:
                    inert = False  # un-propagated pin: keep the record
                    break
            if inert:
                (d / f"{_REC_PREFIX}{rec['seq']:012d}.json").unlink()
                deleted += 1
        return {"deleted": deleted, "kept": len(recs) - deleted}
