"""Streaming CHANGE-DATA-FEED source over a FOREIGN Delta log (format
``delta_cdf_tail``): the batch feed's multiset-diff algebra
(``delta_log.read_delta_changes``) as a change-feed adapter of the
shared log-tail reader (``sources/log_tail.py``, which states the
offset, replay and change-row contract):

    register_delta_cdf_stream_source(spark)
    stream = (spark.readStream.format("delta_cdf_tail")
              .option("path", tbl).load())

- Offsets are commit versions (the ``delta_tail`` contract); the step
  column is ``_commit_version``, the batch feed's shape, so the two are
  interchangeable downstream.
- Each step diffs the live (path, DV uid) sets of the snapshots before
  and after it, so a deletion-vector rewrite surfaces exactly its
  newly-masked rows.  Metadata-only and ``dataChange=false``
  (compaction) steps emit nothing and are skipped driver-side from the
  commit JSON alone, without replaying a snapshot.
- Deletion vectors are applied in the per-file reader (pure-Python
  ``dv.py`` decode + row-index mask — no Spark plan needed inside the
  data source worker).
- Boundaries, loud: column-mapped tables are refused (the batch feed
  resolves mapping; this per-file reader does not), MapType columns
  cannot be multiset-diffed, a file holding columns the stream schema
  lacks is an out-of-spec rename/drop, and a vacuumed version inside
  the range raises rather than gapping.

At scale the driver work per batch is two log replays per step
(log-sized); read work is the files each step touched — the feed costs
the day's churn, never the table.  The one-task rewrite fold is the
honest cut for now: its inputs are commit-scoped by the MoR contract.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import SparkSession

from .delta_log import _dv_uid, _replay
from .delta_stream import DeltaLog, _delta_schema, _refuse_column_mapping
from .log_tail import (
    ChangeFeedReader,
    ChangeStep,
    LogTailSource,
    TailFile,
    change_schema,
    change_steps,
)

_GONE = object()


def _cdf_schema(table_schema):
    from pyspark.sql.types import IntegerType

    return change_schema(table_schema, "_commit_version", IntegerType())


class DeltaCdfTailStreamReader(DeltaLog, ChangeFeedReader):
    _format = "delta_cdf_tail"
    _vacuumed_hint = "restart the stream from a readable version"
    _unknown_columns_hint = (
        "stream schema; without column mapping only ADD COLUMN is legal"
        " evolution — rename/drop cannot be resolved here."
    )

    def partitions(self, start: dict, end: dict) -> Sequence[ChangeStep]:
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[ChangeStep] = []
        after = None
        for v in range(lo + 1, hi + 1):
            # compaction and metadata-only commits net to zero by
            # definition — skipped without replaying a snapshot
            if not any(
                action[kind].get("dataChange", True)
                for action in self._commit_actions(v)
                for kind in ("add", "remove")
                if kind in action
            ):
                after = None  # snapshot cache no longer matches v
                continue
            before = after if after is not None else (
                _replay(self._path, version=v - 1)
                if v > 0
                else {"live": {}, "partition_cols": [], "configuration": {}}
            )
            after = _replay(self._path, version=v)
            _refuse_column_mapping(after.get("configuration"), self._path)
            b_uid = {r: _dv_uid(a) for r, a in before["live"].items()}
            a_uid = {r: _dv_uid(a) for r, a in after["live"].items()}
            removed = sorted(
                r for r, u in b_uid.items() if a_uid.get(r, _GONE) != u
            )
            added = sorted(
                r for r, u in a_uid.items() if b_uid.get(r, _GONE) != u
            )

            def _file(snap, rel) -> TailFile:
                add = snap["live"][rel]
                pv = add.get("partitionValues") or {}
                dv = add.get("deletionVector")
                return TailFile(
                    os.path.join(self._path, rel),
                    {c: pv.get(c) for c in snap["partition_cols"]},
                    dv if dv and dv.get("storageType") else None,
                )

            parts += change_steps(
                v,
                [_file(before, r) for r in removed],
                [_file(after, r) for r in added],
            )
        return parts

    def _deleted_rows(self, f: TailFile):
        from .dv import decode_rbm_array, load_dv_bytes

        return decode_rbm_array(load_dv_bytes(self._path, f.deletes))


class DeltaCdfTailDataSource(LogTailSource):
    """Foreign Delta log as a streaming CDF source (``delta_cdf_tail``)."""

    _format = "delta_cdf_tail"
    _reader = DeltaCdfTailStreamReader

    @staticmethod
    def _table_schema(path: str):
        return _cdf_schema(_delta_schema(path))


def register_delta_cdf_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(DeltaCdfTailDataSource)
