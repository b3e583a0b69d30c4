"""Streaming source over the manifest table (format ``manifest_stream``),
the manifest adapter of the shared log-tail reader
(``sources/log_tail.py``, which states the offset, append-only and
replay contract).  ``write_stream_manifest`` (sources/manifest_table.py)
is the sink half of streaming over the table format; this module is
the SOURCE half:

    register_manifest_stream_source(spark)
    stream = spark.readStream.format("manifest_stream").option("path", tbl).load()

- Offsets are table versions; a batch's files are the ones each
  version's manifest ADDED over its predecessor's.  Paired with an
  idempotent sink (e.g. ``write_stream_manifest``'s txn protocol),
  table-to-table streaming pipelines compose exactly-once.
- A version that REMOVED files (DELETE/UPDATE/MERGE/OPTIMIZE
  rewrites) is a change commit; row-level change consumption is the
  batch ``read_changes`` feed's job.
- Resuming from a version whose manifest was vacuumed raises (carried
  files would be indistinguishable from added ones).
- The schema is the committed schema (manifest union, not footer
  sampling).

At scale the planner work per batch is a manifest-set difference on the
driver (KBs of JSON) and the read work is proportional to the files each
commit landed — tailing a 100 TB table costs the day's appends, not the
table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

from .log_tail import LogTailReader, LogTailSource, TailFile, VersionOffsets
from .manifest_table import _live_files, _load_meta, table_schema, table_versions


class ManifestStreamReader(VersionOffsets, LogTailReader):
    _format = "manifest_stream"
    _no_log = "no committed version"

    def _log_positions(self) -> list[int]:
        return table_versions(self._path)

    def partitions(self, start: dict, end: dict) -> Sequence[TailFile]:
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[TailFile] = []
        prev_live: set[str] | None = None
        versions = table_versions(self._path)
        for v in versions:
            if not lo < v <= hi:
                continue
            if prev_live is None:
                if v == 0:
                    prev_live = set()
                elif v - 1 in versions:
                    prev_live = set(_live_files(self._path, v - 1))
                else:
                    # the baseline manifest was vacuumed: carried files are
                    # indistinguishable from added ones — fail, don't
                    # silently re-emit the whole table (Delta's
                    # "offset no longer available" case)
                    raise ValueError(
                        f"cannot resume from version {v - 1} of "
                        f"{self._path}: its manifest was vacuumed; restart "
                        "the stream with a fresh checkpoint"
                    )
            after = _load_meta(self._path, v)["files"]
            removed = prev_live - set(after)
            added = [f for f in after if f not in prev_live]
            prev_live = set(after)
            if removed and not self._skip_changes:
                raise ValueError(
                    f"version {v} of {self._path} removed {len(removed)} "
                    "file(s) (DELETE/UPDATE/MERGE/OPTIMIZE): not an "
                    "append-only stream. Set "
                    ".option('skipChangeCommits', 'true') to ignore change "
                    "commits, or consume row-level changes with the batch "
                    "read_changes feed."
                )
            if removed:
                continue  # skipChangeCommits: rewrite versions contribute nothing
            parts.extend(TailFile(f) for f in added)
        return parts


class ManifestStreamDataSource(LogTailSource):
    """Manifest table as a streaming source (format name
    ``manifest_stream``)."""

    _format = "manifest_stream"
    _reader = ManifestStreamReader
    _table_schema = staticmethod(table_schema)


def register_manifest_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(ManifestStreamDataSource)
