"""The shared log-tail reader (`sources/log_tail.py`): the change-feed
rewrite fold over nested values, through both change-feed formats."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.test_iceberg_log import _Builder

# k = 4 appears twice: carried duplicates must cancel as a multiset
_KS = [1, 2, 3, 4, 4]
_UPDATED = {2, 3}  # a contiguous k range: the UPDATE filter is k in [2, 3]


def _row(k: int, updated: bool) -> tuple:
    tags = [k, 10 * k, 99] if updated else [k, 10 * k]
    return (k, tags, (k, "upd" if updated else f"m{k}"))


def _expected_changes() -> list[tuple]:
    return sorted(
        [("delete", *_row(k, False)) for k in sorted(_UPDATED)]
        + [("insert", *_row(k, True)) for k in sorted(_UPDATED)]
    )


def _drain_changes(spark, fmt, table, start_opt, start, tag):
    """Stream the feed from ``start`` into a memory sink; return the
    (change type, k, tags, (a, b)) rows and the step column values."""
    name = f"fold_{fmt}"
    q = (
        spark.readStream.format(fmt)
        .option("path", table)
        .option(start_opt, str(start))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
        rows = spark.table(name).collect()
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
    got = sorted(
        (r._change_type, r.k, list(r.tags), (r.meta.a, r.meta.b))
        for r in rows
    )
    return got, {r[tag] for r in rows}


def test_delta_cdf_rewrite_fold_nested_values(spark, tmp_path):
    """An UPDATE rewrite of a table with array<long> and struct columns
    streams through delta_cdf_tail as exactly the updated rows'
    pre-image deletes and post-image inserts; unchanged rows, duplicate
    included, cancel in the fold."""
    from species_range_data_pipeline_spark.sources.delta_cdf_stream import (
        register_delta_cdf_stream_source,
    )
    from species_range_data_pipeline_spark.sources.delta_dml import (
        delta_update_where,
    )
    from species_range_data_pipeline_spark.sources.delta_write import (
        write_delta_table,
    )

    table = str(tmp_path / "nested_delta")
    df = spark.createDataFrame(
        [_row(k, False) for k in _KS],
        "k long, tags array<long>, meta struct<a: long, b: string>",
    )
    write_delta_table(df.coalesce(1), table)
    v = delta_update_where(
        spark,
        table,
        [("k", ">=", min(_UPDATED)), ("k", "<=", max(_UPDATED))],
        {
            "tags": F.concat("tags", F.array(F.lit(99).cast("long"))),
            "meta": F.struct(
                F.col("meta.a").alias("a"), F.lit("upd").alias("b")
            ),
        },
    )

    register_delta_cdf_stream_source(spark)
    got, steps = _drain_changes(
        spark, "delta_cdf_tail", table, "startingVersion", v,
        "_commit_version",
    )
    assert got == _expected_changes()
    assert steps == {v}


def test_iceberg_cdf_rewrite_fold_nested_values(spark, tmp_path):
    """The same UPDATE as a copy-on-write Iceberg snapshot (the data file
    replaced by its rewritten copy) streams through iceberg_cdf_tail as
    exactly the updated rows' pre-image deletes and post-image
    inserts."""
    from species_range_data_pipeline_spark.sources.iceberg_cdf_stream import (
        register_iceberg_cdf_stream_source,
    )

    b = _Builder(str(tmp_path / "nested_ice"))
    meta_type = pa.struct([("a", pa.int64()), ("b", pa.string())])

    def data_file(name: str, updated: set[int]) -> str:
        rows = [_row(k, k in updated) for k in _KS]
        fp = os.path.join(b.root, "data", name)
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([r[0] for r in rows], pa.int64()),
                    "year": pa.array([2020] * len(rows), pa.int32()),
                    "tags": pa.array(
                        [r[1] for r in rows], pa.list_(pa.int64())
                    ),
                    "meta": pa.array(
                        [{"a": a, "b": s} for _, _, (a, s) in rows], meta_type
                    ),
                }
            ),
            fp,
        )
        return fp

    before = data_file("f1.parquet", set())
    after = data_file("f1u.parquet", _UPDATED)
    m1 = b.manifest("m1.avro", [(1, before, {"year": 2020}, len(_KS), 0)])
    b.snapshot(100, [m1])
    m2 = b.manifest("m2.avro", [(1, after, {"year": 2020}, len(_KS), 0)])
    b.snapshot(200, [m2])
    schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "year", "required": False, "type": "int"},
            {
                "id": 3,
                "name": "tags",
                "required": False,
                "type": {
                    "type": "list",
                    "element-id": 5,
                    "element": "long",
                    "element-required": False,
                },
            },
            {
                "id": 4,
                "name": "meta",
                "required": False,
                "type": {
                    "type": "struct",
                    "fields": [
                        {"id": 6, "name": "a", "required": False,
                         "type": "long"},
                        {"id": 7, "name": "b", "required": False,
                         "type": "string"},
                    ],
                },
            },
        ],
    }
    b.commit(
        current_snapshot_id=200, schemas=[schema], extra={"last-column-id": 7}
    )

    register_iceberg_cdf_stream_source(spark)
    got, steps = _drain_changes(
        spark, "iceberg_cdf_tail", b.root, "startingSnapshotId", 100,
        "_snapshot_id",
    )
    assert got == _expected_changes()
    assert steps == {200}
