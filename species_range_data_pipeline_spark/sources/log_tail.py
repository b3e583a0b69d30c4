"""One streaming reader for every table log: the shared half of the
``delta_tail``, ``delta_cdf_tail``, ``iceberg_tail``,
``iceberg_cdf_tail`` and ``manifest_stream`` sources, on Spark 4's
Python streaming data source API.  Each format module keeps only its
adapter: how it lists log positions and which files a step adds or
removes.

The contract every tail source shares:

- **Offsets are log positions.**  ``{"version": n}`` (Delta, manifest)
  or ``{"snapshot_id": id}`` (Iceberg; ``None`` before the first
  snapshot) names the last CONSUMED position; a microbatch covers the
  steps in ``(start, end]``.  ``initialOffset`` is pinned when the
  reader is constructed (``startingVersion`` / ``startingSnapshotId``,
  ``"latest"`` resolved against the log right then), so a checkpointed
  restart keeps it.
- **One Spark task per file a step added**, never a table rescan: the
  planner work per batch is log-sized (commit JSONs, manifest walks)
  and the read work is the files each step landed.
- **Exactly-once replay.**  Commits, snapshots and manifests are
  immutable, so a batch replayed from the checkpoint after a crash
  re-reads exactly the same rows; ``commit`` has nothing to release.
  A position that is no longer in the log (vacuumed, expired) raises
  with a fresh-checkpoint instruction rather than gapping.
- **Append-only rule** (the ``*_tail`` / ``manifest_stream`` readers):
  a step that removed or rewrote data is not an insert-only stream and
  fails loudly; ``.option("skipChangeCommits", "true")`` ignores such
  steps instead (Delta's knob and name).  The change-feed readers
  (``*_cdf_tail``) stream those steps as rows instead: the table's
  columns plus ``_change_type`` ('insert' | 'delete') and a step
  column; a pure step streams its files one task each, and a rewrite
  step folds both sides into ONE task emitting the net multiset
  difference (an UPDATE surfaces as delete-of-pre-image plus
  insert-of-post-image; carried rows cancel).
- **Schema alignment on the executor**: each file is cast to the
  committed schema, columns appended after it was written are
  null-padded, Delta ``partitionValues`` are restored from the log,
  and readers whose format forbids it refuse a file holding a column
  the schema lacks (an out-of-spec rename/drop would otherwise null
  the renamed data).

A stream reader is built in two Python processes: the long-lived
offsets runner, which calls ``initialOffset``/``latestOffset``/
``partitions``, and a plan worker that only pickles ``read``.  So
``read`` may use what ``__init__`` set, but anything ``partitions``
learns must travel inside the partition.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .delta_log import _typed_partition_value


def tail_path(options, fmt: str) -> str:
    path = options.get("path")
    if not path:
        raise ValueError(f"{fmt} requires .option('path', ...)")
    return path


class TailFile(InputPartition):
    """One data file a step added or removed: absolute path, Delta
    partition values (column -> string-serialized value) and the row
    mask the format applies (a Delta deletion-vector descriptor or the
    Iceberg position-delete files), if any."""

    def __init__(self, path: str, pvalues: dict | None = None, deletes=None):
        self.path = path
        self.pvalues = pvalues or {}
        self.deletes = deletes


class ChangeStep(InputPartition):
    """One change-feed task of the step at log position ``version``:
    one side empty is a pure insert/delete of one file; both sides set
    is a rewrite, folded to its net change."""

    def __init__(
        self, version, removed: list[TailFile], added: list[TailFile]
    ):
        self.version = version
        self.removed = removed
        self.added = added


def change_steps(version, removed: list[TailFile], added: list[TailFile]):
    """A step's change-feed tasks: one per file of a pure insert or
    delete step, one fold task for a step that both removes and adds."""
    if removed and added:
        return [ChangeStep(version, removed, added)]
    return [ChangeStep(version, [f], []) for f in removed] + [
        ChangeStep(version, [], [f]) for f in added
    ]


def change_schema(table_schema, step_column: str, step_type):
    from pyspark.sql.types import MapType, StringType, StructField, StructType

    if any(isinstance(f.dataType, MapType) for f in table_schema.fields):
        raise NotImplementedError(
            "change feed needs multiset-diff over all columns; MapType"
            " columns are not comparable — drop or cast the map column"
        )
    return StructType(
        [
            *table_schema.fields,
            StructField("_change_type", StringType(), False),
            StructField(step_column, step_type, False),
        ]
    )


class VersionOffsets:
    """Offsets ``{"version": n}``; ``startingVersion`` names the first
    version to read."""

    _offset_key = "version"
    _start_option = "startingVersion"
    _nothing_consumed = -1

    @staticmethod
    def _last_consumed_before(start: int) -> int:
        return start - 1


class SnapshotOffsets:
    """Offsets ``{"snapshot_id": id}``; ``startingSnapshotId`` names the
    last snapshot already consumed."""

    _offset_key = "snapshot_id"
    _start_option = "startingSnapshotId"
    _nothing_consumed = None

    @staticmethod
    def _last_consumed_before(start: int) -> int:
        return start


class LogTailSource(DataSource):
    """A table log as a streaming source; subclasses name the format,
    its reader and ``_table_schema(path)``."""

    _format: str
    _reader: type

    @classmethod
    def name(cls) -> str:
        return cls._format

    def schema(self):
        return self._table_schema(tail_path(self.options, self._format))

    def streamReader(self, schema) -> DataSourceStreamReader:
        return self._reader(self.options, schema)


class LogTailReader(DataSourceStreamReader):
    """The shared reader.  An adapter supplies the offset style
    (``VersionOffsets`` / ``SnapshotOffsets``), ``_log_positions()``
    (the log's positions, oldest first), ``_no_log`` (what an empty log
    lacks) and ``partitions``.  On the executor it may refuse files via
    ``_check_file_columns``; an adapter whose ``TailFile``s carry
    ``deletes`` supplies ``_deleted_rows(file)``, the masked row
    positions."""

    _format: str
    _no_log: str

    def __init__(self, options, schema):
        self._path = tail_path(options, self._format)
        self._skip_changes = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self._schema = schema
        starting = options.get(self._start_option)
        if starting is None:
            self._start = self._nothing_consumed
        elif str(starting).lower() == "latest":
            # consume only what is committed AFTER the stream starts;
            # resolved here, never in initialOffset(), which the engine
            # calls asynchronously after start()
            log = self._log_positions()
            self._start = log[-1] if log else self._nothing_consumed
        else:
            self._start = self._last_consumed_before(int(starting))

    def initialOffset(self) -> dict:
        return {self._offset_key: self._start}

    def latestOffset(self) -> dict:
        log = self._log_positions()
        if not log:
            raise ValueError(f"{self._no_log} at {self._path}")
        return {self._offset_key: log[-1]}

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint and the log is immutable:
        # there is no source-side state to release
        pass

    # -- executor side -----------------------------------------------

    def _check_file_columns(self, names: list[str], path: str, schema) -> None:
        """Refuse a file whose columns the schema cannot hold (default:
        extra columns are ignored)."""

    def _read_file(self, f: TailFile, schema):
        """One data file -> pyarrow Table under ``schema``: row mask
        applied, columns cast, later-added columns null-padded, Delta
        partition values restored."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        raw = pq.read_table(f.path)
        self._check_file_columns(raw.column_names, f.path, schema)
        if f.deletes:
            positions = np.asarray(self._deleted_rows(f), dtype=np.int64)
            if len(positions):
                keep = np.ones(raw.num_rows, dtype=bool)
                keep[positions[positions < raw.num_rows]] = False
                raw = raw.filter(pa.array(keep))
        n = raw.num_rows
        types = {fl.name: fl.dataType for fl in schema.fields}
        target = to_arrow_schema(schema)
        cols = []
        for field in target:
            if field.name in f.pvalues:
                tv = _typed_partition_value(
                    f.pvalues[field.name], types[field.name]
                )
                cols.append(
                    pa.array([tv] * n).cast(field.type)
                    if tv is not None
                    else pa.nulls(n, field.type)
                )
            elif field.name in raw.column_names:
                cols.append(raw.column(field.name).cast(field.type))
            else:
                cols.append(pa.nulls(n, field.type))
        return pa.Table.from_arrays(cols, schema=target)

    def read(self, partition: TailFile) -> Iterator:
        yield from self._read_file(partition, self._schema).to_batches()


def _freeze(v):
    """A row value as a hashable key, exact (no float coercion)."""
    if isinstance(v, list):
        return ("__list__", tuple(_freeze(x) for x in v))
    if isinstance(v, dict):
        return (
            "__struct__",
            tuple((k, _freeze(x)) for k, x in sorted(v.items())),
        )
    return v


def _thaw(v):
    if isinstance(v, tuple) and len(v) == 2 and v[0] == "__list__":
        return [_thaw(x) for x in v[1]]
    if isinstance(v, tuple) and len(v) == 2 and v[0] == "__struct__":
        return {k: _thaw(x) for k, x in v[1]}
    return v


class ChangeFeedReader(LogTailReader):
    """A change-feed reader: partitions are ``ChangeStep``s, output rows
    carry ``_change_type`` and the step column (the schema's last)."""

    def read(self, partition: ChangeStep) -> Iterator:
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        data_schema = StructType(self._schema.fields[:-2])
        target = to_arrow_schema(self._schema)
        if not (partition.removed and partition.added):
            ctype = "insert" if partition.added else "delete"
            for f in partition.added or partition.removed:
                tbl = self._read_file(f, data_schema)
                n = tbl.num_rows
                yield from pa.Table.from_arrays(
                    [
                        *tbl.columns,
                        pa.array([ctype] * n, pa.string()),
                        pa.array([partition.version] * n, target[-1].type),
                    ],
                    schema=target,
                ).to_batches()
            return

        net: Counter = Counter()
        for sign, files in ((-1, partition.removed), (1, partition.added)):
            for f in files:
                for row in self._read_file(f, data_schema).to_pylist():
                    key = tuple(_freeze(row[c]) for c in data_schema.names)
                    net[key] += sign
        rows = []
        for key, n in sorted(net.items(), key=lambda kv: repr(kv[0])):
            if n == 0:
                continue
            ctype = "insert" if n > 0 else "delete"
            values = (*map(_thaw, key), ctype, partition.version)
            rows.extend([dict(zip(target.names, values))] * abs(n))
        if rows:
            yield from pa.Table.from_pylist(rows, schema=target).to_batches()
