"""Streaming source over an Iceberg Hadoop-layout table (format
``iceberg_tail``), the Iceberg adapter of the shared log-tail reader
(``sources/log_tail.py``, which states the offset, append-only and
replay contract):

    register_iceberg_stream_source(spark)
    stream = spark.readStream.format("iceberg_tail").option("path", tbl).load()

- Offsets are snapshot ids, resolved against the metadata's snapshot
  list (the linear history — branched parent chains are refused, the
  ``iceberg_read_changes`` guard).  A batch's files are the DATA files
  its snapshots ADDED, found by live-set difference against the
  predecessor snapshot (manifest-entry statuses alone can't be trusted
  across manifest rewrites).
- A snapshot that removed data files or changed the delete-file set
  (DELETE/UPDATE/MERGE/compaction rewrites) is a change snapshot;
  row-level change consumption is ``iceberg_cdf_tail``'s or
  ``iceberg_read_changes``' job.
- If the checkpointed snapshot id is no longer in the metadata
  (snapshot expiry), the stream fails with a fresh-checkpoint
  instruction.
- Iceberg data files are COMPLETE (identity-partition columns
  in-file), so the per-file reader only null-pads columns appended
  after the file was written; migrated (stripped) layouts are refused
  by a footer probe of each newly added file, matching the batch read
  path's boundary.

The snapshot walk, the expiry check and the footer probe are shared
with ``iceberg_cdf_tail`` through ``IcebergLog``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

from .iceberg_log import (
    _current_schema,
    _identity_partition_fields,
    _load_metadata,
    _resolve,
    _struct_type,
    _walk_entries,
)
from .log_tail import LogTailReader, LogTailSource, SnapshotOffsets, TailFile


def _linear_snapshots(meta: dict, path: str) -> list[dict]:
    snaps = list(meta.get("snapshots") or [])
    ids = [s["snapshot-id"] for s in snaps]
    for i, s in enumerate(snaps):
        parent = s.get("parent-snapshot-id")
        if parent is not None and (i == 0 or parent != ids[i - 1]):
            raise NotImplementedError(
                f"snapshot {s['snapshot-id']} of {path!r} has parent"
                f" {parent}, not its predecessor — branched histories"
                " are not tailable as a linear stream."
            )
    return snaps


def _iceberg_schema(path: str):
    return _struct_type(_current_schema(_load_metadata(path), path))


class IcebergLog(SnapshotOffsets):
    """Snapshot-log access shared by ``iceberg_tail`` and
    ``iceberg_cdf_tail``.  A reader names itself in the footer-probe
    refusal (``_noun``)."""

    _no_log = "no snapshot"
    _noun: str

    def _log_positions(self) -> list[int]:
        meta = _load_metadata(self._path)
        return [s["snapshot-id"] for s in _linear_snapshots(meta, self._path)]

    def _index_of(self, snaps: list[dict], snapshot_id) -> int:
        """List index of ``snapshot_id``; -1 for the before-first None."""
        if snapshot_id is None:
            return -1
        ids = [s["snapshot-id"] for s in snaps]
        if snapshot_id not in ids:
            raise ValueError(
                f"snapshot {snapshot_id} of {self._path} is no longer in"
                " the metadata (expired?); restart the stream with a"
                " fresh checkpoint"
            )
        return ids.index(snapshot_id)

    def _equality_delete(self, entry: dict) -> None:
        """An equality-delete file in a walked snapshot (default: it
        counts as delete coverage like a position delete does)."""

    def _state(self, snap: dict) -> tuple[set[str], set[str]]:
        """The snapshot's live data files and delete files."""
        data, dels = set(), set()
        for kind, d, _sid, _seq in _walk_entries(self._path, snap):
            if kind == "eqdel":
                self._equality_delete(d)
            (data if kind == "data" else dels).add(
                _resolve(self._path, d["file_path"])
            )
        return data, dels

    def _steps(self, start: dict, end: dict):
        """``(probe, steps)``: ``steps`` lazily yields ``(snapshot id,
        (data, deletes) before, (data, deletes) after)`` for each
        snapshot in ``(start, end]``; ``probe(file)`` refuses a
        migrated-layout data file."""
        meta = _load_metadata(self._path)
        snaps = _linear_snapshots(meta, self._path)
        lo = self._index_of(snaps, start.get("snapshot_id"))
        hi = self._index_of(snaps, end.get("snapshot_id"))
        # the per-file reader null-pads columns missing from a file,
        # which is WRONG for identity-partition source columns (their
        # values live in the manifest tuples) — so each newly added
        # file's footer is probed (one metadata-sized read per landed
        # file, driver-side) and the stripped layout refused
        id_cols = {
            by_src["name"]
            for pairs in _identity_partition_fields(meta).values()
            for _pname, source_id in pairs
            for by_src in _current_schema(meta, self._path)["fields"]
            if by_src["id"] == source_id
        }

        def probe(fpath: str) -> None:
            if not id_cols:
                return
            import pyarrow.parquet as pq

            missing = id_cols - set(pq.read_schema(fpath).names)
            if missing:
                raise NotImplementedError(
                    f"data file {fpath!r} lacks identity-partition"
                    f" column(s) {sorted(missing)} (migrated layout);"
                    f" the streaming {self._noun} cannot restore manifest"
                    " partition values — use the batch reader."
                )

        def steps():
            prev = self._state(snaps[lo]) if lo >= 0 else (set(), set())
            for snap in snaps[lo + 1 : hi + 1]:
                cur = self._state(snap)
                yield snap["snapshot-id"], prev, cur
                prev = cur

        return probe, steps()


class IcebergTailStreamReader(IcebergLog, LogTailReader):
    _format = "iceberg_tail"
    _noun = "tail"

    def partitions(self, start: dict, end: dict) -> Sequence[TailFile]:
        probe, steps = self._steps(start, end)
        parts: list[TailFile] = []
        for snap_id, (prev_data, prev_dels), (cur_data, cur_dels) in steps:
            if prev_data - cur_data or cur_dels != prev_dels:
                if not self._skip_changes:
                    raise ValueError(
                        f"snapshot {snap_id} of"
                        f" {self._path} rewrote/removed data or changed"
                        " row-level deletes: not an append-only stream."
                        " Set .option('skipChangeCommits', 'true') to"
                        " ignore change snapshots, or consume row-level"
                        " changes with iceberg_read_changes."
                    )
                continue
            for f in sorted(cur_data - prev_data):
                probe(f)
                parts.append(TailFile(f))
        return parts


class IcebergTailDataSource(LogTailSource):
    """Iceberg Hadoop layout as a streaming source (format
    ``iceberg_tail``)."""

    _format = "iceberg_tail"
    _reader = IcebergTailStreamReader
    _table_schema = staticmethod(_iceberg_schema)


def register_iceberg_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(IcebergTailDataSource)
