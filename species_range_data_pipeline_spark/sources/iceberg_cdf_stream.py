"""Streaming CHANGE-DATA-FEED source over an Iceberg Hadoop layout
(format ``iceberg_cdf_tail``): the batch feed's manifest-walk
multiset-diff algebra (``iceberg_log.iceberg_read_changes``) as a
change-feed adapter of the shared log-tail reader
(``sources/log_tail.py``, which states the offset, replay and
change-row contract):

    register_iceberg_cdf_stream_source(spark)
    stream = (spark.readStream.format("iceberg_cdf_tail")
              .option("path", tbl).load())

- Offsets are snapshot ids (the ``iceberg_tail`` contract); the step
  column is ``_snapshot_id``, the batch feed's shape, so the two are
  interchangeable downstream.
- Each step diffs the live DATA-file sets and the POSITION-DELETE
  coverage.  Pure removals stream the dropped files as deletes under
  the OLD delete set; a delete-coverage change puts the affected files
  on BOTH sides (old deletes vs new), so a merge-on-read DELETE folds
  to exactly its newly-masked rows.
- Position deletes are applied in the per-file reader (read the
  candidate delete parquets, match rows by the batch mask's key —
  scheme-stripped writer path == the data file's absolute path — and
  drop those row positions).  Delete files are log-scoped by the MoR
  contract, so the per-task delete-side read is metadata-sized.
- Boundaries, loud (each the batch feed's): equality-delete files in
  the range are refused (value-keyed coverage is not diffable here —
  read snapshots with ``read_iceberg_table``, which applies them),
  branched snapshot histories are refused, MapType columns cannot be
  multiset-diffed, an expired checkpointed snapshot id fails with a
  fresh-checkpoint instruction, and migrated layouts (identity
  partition source columns absent from a data file) are refused by a
  footer probe — this reader cannot restore manifest partition tuples.

At scale the driver work per batch is a manifest walk per touched
snapshot (metadata-sized) plus the ``file_path`` columns of CHANGED
delete files; read work is the files each step touched — the feed
costs the day's churn, never the table.  The one-task fold for mixed
steps is the honest cut: its inputs are commit-scoped by the MoR
contract (same shape measured for the Delta twin, SCALE.md rule 63).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import SparkSession

from .iceberg_log import _resolve
from .iceberg_stream import IcebergLog, _iceberg_schema
from .log_tail import (
    ChangeFeedReader,
    ChangeStep,
    LogTailSource,
    TailFile,
    change_schema,
    change_steps,
)


def _cdf_schema(table_schema):
    from pyspark.sql.types import LongType

    return change_schema(table_schema, "_snapshot_id", LongType())


def _strip_scheme(p: str) -> str:
    """The batch position-delete mask's join key normalization
    (``iceberg_log._apply_position_deletes``): writer-recorded paths
    lose their ``file:``/``file://`` prefix and compare as plain
    absolute paths."""
    return re.sub("^file:(//)?", "", p)


class IcebergCdfTailStreamReader(IcebergLog, ChangeFeedReader):
    _format = "iceberg_cdf_tail"
    _noun = "feed"

    def _equality_delete(self, entry: dict) -> None:
        # value-keyed coverage is not position-diffable; the batch feed
        # refuses identically
        raise NotImplementedError(
            f"equality-delete file {entry['file_path']!r} in the"
            " change-feed range; the Iceberg feed diffs"
            " position-delete coverage only — read snapshots"
            " directly (read_iceberg_table applies equality"
            " deletes) or compact the deletes away."
        )

    def _touched_by(self, delete_files: set[str]) -> set[str]:
        import pyarrow.parquet as pq

        touched: set[str] = set()
        for df in delete_files:
            col = pq.read_table(df, columns=["file_path"]).column("file_path")
            touched |= {_resolve(self._path, str(v)) for v in col.unique()}
        return touched

    def partitions(self, start: dict, end: dict) -> Sequence[ChangeStep]:
        probe, steps = self._steps(start, end)
        parts: list[ChangeStep] = []
        for snap_id, (prev_data, prev_dels), (cur_data, cur_dels) in steps:
            changed = cur_dels ^ prev_dels
            affected = self._touched_by(changed) if changed else set()
            both = affected & prev_data & cur_data
            removed = sorted((prev_data - cur_data) | both)
            added = sorted((cur_data - prev_data) | both)
            for f in added:
                probe(f)
            old_dels = tuple(sorted(prev_dels))
            new_dels = tuple(sorted(cur_dels))
            parts += change_steps(
                snap_id,
                [TailFile(f, deletes=old_dels) for f in removed],
                [TailFile(f, deletes=new_dels) for f in added],
            )
        return parts

    def _deleted_rows(self, f: TailFile) -> list[int]:
        import pyarrow.parquet as pq

        me = _strip_scheme(f.path)
        positions: set[int] = set()
        for dpath in f.deletes:
            dt = pq.read_table(dpath, columns=["file_path", "pos"])
            for fp, pos in zip(
                dt.column("file_path").to_pylist(),
                dt.column("pos").to_pylist(),
            ):
                if _strip_scheme(str(fp)) == me:
                    positions.add(int(pos))
        return sorted(positions)


class IcebergCdfTailDataSource(LogTailSource):
    """Iceberg Hadoop layout as a streaming CDF source
    (``iceberg_cdf_tail``)."""

    _format = "iceberg_cdf_tail"
    _reader = IcebergCdfTailStreamReader

    @staticmethod
    def _table_schema(path: str):
        return _cdf_schema(_iceberg_schema(path))


def register_iceberg_cdf_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(IcebergCdfTailDataSource)
