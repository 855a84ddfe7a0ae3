"""Structured Streaming FROM a manifest lake table — the Delta
streaming-source analog, built on Spark 4's Python DataSource API.

``spark.readStream.format("lake_manifest").schema(s).load(path)``
streams a manifest-committed table incrementally: stream OFFSETS are
snapshot versions (the checkpoint stores the last processed version,
so restarts resume exactly), and each micro-batch's input partitions
are the files snapshot ``end`` added over snapshot ``start`` — one
partition per file, read executor-side with pyarrow straight from the
parquet (no driver data movement). The first batch covers version 0 →
current, i.e. the whole table, then the stream follows commits as
they land — exactly Delta's "stream the table, then the changes"
contract, including its restrictions:

- **Append-only by default.** A version delta that REMOVES files
  (merge/delete/compaction rewrote something) raises unless
  ``ignoreChanges=true`` — a streaming source can emit rows but never
  retract them, so silently skipping rewrites would corrupt
  downstream state. With the flag, new files still stream (rewritten
  rows appear again — Delta's documented ignoreChanges semantics).
  The retraction-capable path is the batch change feed
  (:func:`..sources.lake.table_changes`, ``_change_type``-tagged).
- **Retention bounds resume.** Resuming from a version whose manifest
  :func:`..sources.lake.vacuum_manifests` expired raises (offset
  beyond the retention horizon), never silently skips.

Scale: offset discovery is two manifest reads (no file listing); a
micro-batch plans O(new files) partitions regardless of table size;
each partition streams its file as Arrow record batches. Hive
partition-directory values are recovered from the relpath and cast to
the declared schema (the engine's declared-schema policy: pass
``.schema(...)``; without it the source infers data columns from one
footer and types partition columns as strings).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _read_manifest_json(path: str, version: int | None = None) -> dict | None:
    """Import-free twin of lake.read_manifest (this module must stay
    importable on executors without pulling the full lake module)."""
    if version is None:
        ptr = os.path.join(path, "_manifest.json")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return json.load(f)
    mf = os.path.join(path, "_manifests", f"v{version:010d}.json")
    if not os.path.exists(mf):
        raise FileNotFoundError(
            f"manifest snapshot v{version} at {path} is not retained "
            "(expired by vacuum_manifests?) — cannot resume the stream "
            "from an offset beyond the retention horizon"
        )
    with open(mf) as f:
        return json.load(f)


def _partition_values(relpath: str) -> dict[str, str | None]:
    """Hive partition values encoded in a file's relative path."""
    out: dict[str, str | None] = {}
    for part in relpath.split("/")[:-1]:
        if "=" in part:
            k, v = part.split("=", 1)
            out[k] = None if v == _HIVE_NULL else v
    return out


@dataclass
class _FilePartition(InputPartition):
    relpath: str


class _ManifestReaderMixin:
    """File-partition reads shared by the batch and stream readers."""

    def __init__(self, schema: T.StructType, options: dict) -> None:
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("lake_manifest requires a path (.load(path))")
        self._ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        # rename_column mapping, FIXED at reader construction: files
        # carry frozen physical names (era-invariant per column
        # identity), so one logical->physical map serves every batch's
        # files regardless of when they were written; a rename
        # committing MID-stream changes the map and partitions() fails
        # loudly (same contract as a rewrite)
        m = _read_manifest_json(self._path)
        self._mapping = dict((m or {}).get("column_mapping", {}))
        if self._mapping and m.get("schema"):
            # on a mapped table a stale declared schema (e.g. a stream
            # restarted across a rename with its old .schema(...))
            # would silently NULL-fill the renamed column — on unmapped
            # tables a missing name is ordinary schema-evolution
            # NULL-fill, but here it means the name moved: fail loudly
            logical = {f["name"] for f in m["schema"]["fields"]}
            unknown = sorted(
                f.name for f in self._schema if f.name not in logical
            )
            if unknown:
                raise ValueError(
                    f"declared column(s) {unknown} are not on the "
                    f"renamed table's current schema ({sorted(logical)}) "
                    "— restart the stream with the current names"
                )

    def read(self, partition: _FilePartition):
        """Executor-side: stream one committed file as Arrow batches,
        reordered/cast to the declared schema, hive partition values
        recovered from the relpath, renamed columns resolved through
        the frozen physical names."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_type

        fpath = os.path.join(self._path, partition.relpath)
        pvals = _partition_values(partition.relpath)
        fields = [(f.name, to_arrow_type(f.dataType)) for f in self._schema]
        for batch in pq.ParquetFile(fpath).iter_batches():
            cols = []
            for name, atype in fields:
                phys = self._mapping.get(name, name)
                if phys in batch.schema.names:
                    cols.append(batch.column(phys).cast(atype))
                elif name in pvals:
                    v = pvals[name]
                    cols.append(
                        pa.array([v] * batch.num_rows, type=pa.string()).cast(
                            atype
                        )
                    )
                else:
                    cols.append(pa.nulls(batch.num_rows, type=atype))
            yield pa.RecordBatch.from_arrays(cols, [n for n, _ in fields])


class LakeManifestStreamReader(_ManifestReaderMixin, DataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        m = _read_manifest_json(self._path)
        if m is None:
            raise FileNotFoundError(
                f"table at {self._path} is not manifest-committed — "
                "nothing to stream"
            )
        return {"version": m["version"]}

    def partitions(self, start: dict, end: dict) -> list[_FilePartition]:
        sv, ev = start["version"], end["version"]
        if ev <= sv:
            return []
        prev = set() if sv == 0 else set(
            _read_manifest_json(self._path, sv)["files"]
        )
        cur = _read_manifest_json(self._path, ev)
        if cur.get("column_mapping", {}) != self._mapping:
            # a rename committed MID-stream: the reader's fixed
            # logical->physical map no longer matches the table's — the
            # same retraction-class contract as a rewrite: fail loudly,
            # restart the stream (its fresh reader picks up the new map)
            raise ValueError(
                f"versions v{sv}->v{ev} of {self._path} changed the "
                f"rename mapping ({self._mapping} -> "
                f"{cur.get('column_mapping', {})}): restart the stream "
                "to pick up the new column names"
            )
        removed = prev - set(cur["files"])
        if removed and not self._ignore_changes:
            raise ValueError(
                f"versions v{sv}->v{ev} of {self._path} removed "
                f"{len(removed)} file(s) (a rewrite/delete/compaction): "
                "a streaming source cannot retract rows. Use the batch "
                "change feed (table_changes) for retraction-aware "
                "consumption, or pass ignoreChanges=true to stream new "
                "files anyway (rewritten rows re-appear, Delta "
                "ignoreChanges semantics)"
            )
        # merge-on-read deletes change VISIBILITY without touching the
        # file set — for a forward-only stream that is still a
        # retraction. Same contract as a file removal: fail loudly
        # unless the consumer opted into ignoreChanges (already-emitted
        # rows stay emitted; files arriving later are read RAW, so
        # tombstone-hidden rows in them re-appear — consistent with the
        # rewritten-rows caveat above).
        if not self._ignore_changes:
            prev_preds = (
                []
                if sv == 0
                else _read_manifest_json(self._path, sv).get(
                    "delete_predicates", []
                )
            )
            added_preds = [
                p
                for p in cur.get("delete_predicates", [])
                if p not in prev_preds
            ]
            if added_preds:
                raise ValueError(
                    f"versions v{sv}->v{ev} of {self._path} added "
                    f"{len(added_preds)} merge-on-read delete "
                    "tombstone(s): a streaming source cannot retract "
                    "rows. Use table_changes for retraction-aware "
                    "consumption, or pass ignoreChanges=true"
                )
        return [
            _FilePartition(f) for f in sorted(set(cur["files"]) - prev)
        ]

    def commit(self, end: dict) -> None:
        pass  # the checkpoint's offset log is the durable cursor


class LakeManifestBatchReader(_ManifestReaderMixin, DataSourceReader):
    def partitions(self) -> list[_FilePartition]:
        m = _read_manifest_json(self._path)
        if m is None:
            raise FileNotFoundError(
                f"table at {self._path} is not manifest-committed"
            )
        if m.get("delete_predicates"):
            # files are read raw: rows a merge-on-read delete hid would
            # come back
            raise ValueError(
                f"snapshot v{m['version']} of {self._path} carries "
                f"{len(m['delete_predicates'])} merge-on-read delete "
                "tombstone(s) that a raw file read would ignore — read "
                "it with read_table, or purge_deleted_rows first"
            )
        return [_FilePartition(f) for f in m["files"]]


class LakeManifestDataSource(DataSource):
    """``format("lake_manifest")`` — batch and streaming reads of a
    manifest-committed lake table through its committed snapshots."""

    @classmethod
    def name(cls) -> str:
        return "lake_manifest"

    def schema(self) -> T.StructType:
        # declared-schema policy: prefer .schema(...); this fallback
        # infers data columns from ONE footer and types partition
        # columns (path-only) as strings
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options.get("path")
        m = _read_manifest_json(path) if path else None
        if not m or not m["files"]:
            raise ValueError(
                "lake_manifest cannot infer a schema (missing/empty "
                "manifest) — pass .schema(...)"
            )
        first = m["files"][0]
        inferred = from_arrow_schema(
            pq.ParquetFile(os.path.join(path, first)).schema_arrow
        )
        have = set(inferred.names)
        for col in _partition_values(first):
            if col not in have:
                inferred = inferred.add(col, T.StringType())
        return inferred

    def reader(self, schema: T.StructType) -> LakeManifestBatchReader:
        return LakeManifestBatchReader(schema, dict(self.options))

    def streamReader(self, schema: T.StructType) -> LakeManifestStreamReader:
        return LakeManifestStreamReader(schema, dict(self.options))


def register_lake_manifest_source(spark) -> None:
    """Idempotently register the data source on a session."""
    spark.dataSource.register(LakeManifestDataSource)
