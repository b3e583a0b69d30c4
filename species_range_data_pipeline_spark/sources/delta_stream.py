"""Streaming source over a FOREIGN Delta log (format ``delta_tail``),
the Delta adapter of the shared log-tail reader (``sources/log_tail.py``,
which states the offset, append-only and replay contract):

    register_delta_stream_source(spark)
    stream = spark.readStream.format("delta_tail").option("path", tbl).load()

- Offsets are commit versions; a batch's files are the ones its commits
  ADDED with ``dataChange=true``.  A version that removed files with
  ``dataChange=true``, or added a file carrying a deletion vector (DML
  rewrites always do one of these), is a change commit; compaction
  commits (``dataChange=false`` on both sides) contribute nothing and
  are skipped silently, exactly like Delta's source.  Row-level change
  consumption is ``delta_cdf_tail``'s or the batch
  ``read_delta_changes`` feed's job.
- Partition columns are restored per file from the add action's
  ``partitionValues``, under the partition-column list in force at
  that version.
- Column-mapped tables are refused (the batch readers resolve the
  mapping; this per-file reader does not), and so is a data file
  holding a column the committed schema lacks: without column mapping
  only ADD COLUMN is legal evolution.
- Versions whose JSON was vacuumed away inside the requested range
  raise (a checkpoint is a snapshot, not a step history).

The commit-JSON read and these refusals are shared with
``delta_cdf_tail`` through ``DeltaLog``, the table schema through
``_delta_schema``.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from urllib.parse import unquote

from pyspark.sql import SparkSession

from .delta_log import (
    _check_metadata,
    _check_protocol,
    _dv_uid,
    _replay,
    _scan_log_dir,
)
from .log_tail import LogTailReader, LogTailSource, TailFile, VersionOffsets


def _refuse_column_mapping(configuration: dict | None, path: str) -> None:
    """The batch reader resolves name-mode column mapping (r18); this
    per-file streaming reader does not yet — its partitionValues and
    file columns would silently mis-resolve under physical names, so a
    mapped table refuses loudly here."""
    mode = (configuration or {}).get("delta.columnMapping.mode", "none")
    if mode != "none":
        raise NotImplementedError(
            f"delta_tail cannot stream column-mapped table {path!r}"
            f" (mode {mode!r}); use the batch read_delta_table /"
            " read_delta_changes readers, which resolve the mapping."
        )


def _delta_schema(path: str):
    from pyspark.sql.types import StructType

    snap = _replay(path)
    _refuse_column_mapping(snap.get("configuration"), path)
    return StructType.fromJson(json.loads(snap["schema_json"]))


class DeltaLog(VersionOffsets):
    """Delta log access shared by ``delta_tail`` and ``delta_cdf_tail``.
    A reader names the end of its vacuumed-version message
    (``_vacuumed_hint``) and of its unknown-column refusal
    (``_unknown_columns_hint``)."""

    _no_log = "no JSON commit"
    _vacuumed_hint: str
    _unknown_columns_hint: str

    def _log_positions(self) -> list[int]:
        return _scan_log_dir(self._path)[0]

    def _commit_actions(self, v: int) -> list[dict]:
        """Version ``v``'s actions, its protocol checked."""
        fp = os.path.join(self._path, "_delta_log", f"{v:020d}.json")
        if not os.path.exists(fp):
            raise ValueError(
                f"version {v} of {self._path} has no JSON commit (vacuumed"
                f" past a checkpoint?); {self._vacuumed_hint}"
            )
        actions = []
        with open(fp) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    actions.append(json.loads(line))
        for action in actions:
            if "protocol" in action:
                _check_protocol(action["protocol"], self._path)
        return actions

    def _check_file_columns(self, names: list[str], path: str, schema) -> None:
        # the batch path's footer probe (ADVICE r17): null-padding a
        # renamed column would silently drop its data.  Stray in-file
        # copies of partition columns are tolerated: the log is
        # authoritative for their values.
        allowed = set(schema.names)
        unknown = [n for n in names if n not in allowed]
        if unknown:
            raise NotImplementedError(
                f"data file {path!r} holds column(s) {unknown} absent from"
                f" the {self._unknown_columns_hint}"
            )


class DeltaTailStreamReader(DeltaLog, LogTailReader):
    _format = "delta_tail"
    _vacuumed_hint = (
        "restart the stream with a fresh checkpoint from a readable version"
    )
    _unknown_columns_hint = (
        "committed schema; without column mapping only ADD COLUMN is legal"
        " evolution, so this is a rename/drop this reader cannot resolve."
    )

    def __init__(self, options, schema):
        super().__init__(options, schema)
        self._pcols: list[str] | None = None  # lazily resolved

    def partitions(self, start: dict, end: dict) -> Sequence[TailFile]:
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[TailFile] = []
        if self._pcols is None:
            # seed from the snapshot at the batch-START version, not
            # LATEST (ADVICE r17): a stream starting mid-log must
            # reconstruct partitionValues for versions before a later
            # metaData change under the OLD partition-column list (the
            # in-range metaData actions below then advance it in step)
            if lo >= 0:
                seed = _replay(self._path, version=lo)
                _refuse_column_mapping(
                    seed.get("configuration"), self._path
                )
                self._pcols = seed["partition_cols"]
            else:
                self._pcols = []
        for v in range(lo + 1, hi + 1):
            adds, changed = [], False
            for action in self._commit_actions(v):
                if "metaData" in action:
                    _check_metadata(action["metaData"], self._path)
                    _refuse_column_mapping(
                        action["metaData"].get("configuration"), self._path
                    )
                    self._pcols = list(
                        action["metaData"].get("partitionColumns") or []
                    )
                elif "remove" in action:
                    if action["remove"].get("dataChange", True):
                        changed = True
                elif "add" in action:
                    if not action["add"].get("dataChange", True):
                        continue  # compaction: rows were already streamed
                    if _dv_uid(action["add"]) is not None:
                        changed = True  # DV rewrite: not insert-only
                    adds.append(action["add"])
            if changed:
                if not self._skip_changes:
                    raise ValueError(
                        f"version {v} of {self._path} rewrote or removed"
                        " data (DELETE/UPDATE/MERGE/DV): not an append-only"
                        " stream. Set .option('skipChangeCommits', 'true')"
                        " to ignore change commits, or consume row-level"
                        " changes with the batch read_delta_changes feed."
                    )
                continue
            for add in adds:
                pv = add.get("partitionValues") or {}
                parts.append(
                    TailFile(
                        os.path.join(self._path, unquote(add["path"])),
                        {c: pv.get(c) for c in self._pcols},
                    )
                )
        return parts


class DeltaTailDataSource(LogTailSource):
    """Foreign Delta log as a streaming source (format ``delta_tail``)."""

    _format = "delta_tail"
    _reader = DeltaTailStreamReader
    _table_schema = staticmethod(_delta_schema)


def register_delta_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(DeltaTailDataSource)
