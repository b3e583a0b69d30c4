"""Raster -> polygon (T4) and grouped geometric dissolve (A1) as Spark
operators.

Reference: ``arcpy.RasterToPolygon_conversion`` at
``species_range_etl.py:127`` and ``GeoDataFrame.dissolve(by="species")`` at
``:205``.  No Spark built-in exists (SURVEY.md §7 "what's hard"), so these
are ``applyInPandas`` over the long-format cell model — Arrow-batched, one
numpy kernel call per group, no Python row loop.

Scale notes:
- Group = (raster key..., threshold): bounded by one raster's kept cells, so
  executor memory is bounded by raster size, not table size.  Rasters too
  large for one task would be tiled first (tile key appended to the group)
  and stitched with the same cell-space union used by dissolve.
- Dissolve unions cell SETS, not WKB blobs: distinct() dedupes map-side
  before the shuffle, which is the two-level (partial-then-final) union
  SURVEY.md §7 calls for.  The expensive polygonize runs once per output
  group, after the cheap set union.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geometry import polygonize_cells, union_cells_to_multipolygon


def _affine_of(pdf: pd.DataFrame, default):
    """Per-group georeferencing: read (xll, yll, cellsize, nrows) columns if
    present (the raster decoders emit them), else the supplied defaults.
    A group must share one lattice — rasters on different grids belong in
    different groups (tile key), not one union."""
    if "xll" in pdf.columns:
        return (
            float(pdf["xll"].iloc[0]),
            float(pdf["yll"].iloc[0]),
            float(pdf["cellsize"].iloc[0]),
            int(pdf["nrows"].iloc[0]),
        )
    return default


def polygonize(
    cells: DataFrame,
    group_cols: Sequence[str],
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Cells (group_cols..., row, col) -> one row per connected component:
    (group_cols..., component_id, geometry WKB, n_cells, area).

    ``num_partitions``: when the group cardinality is known-small, an
    explicit repartition(n, keys) satisfies the grouping distribution with n
    tasks — so only n Python workers spawn instead of
    spark.sql.shuffle.partitions.  Leave None when groups are many.
    """
    group_cols = list(group_cols)
    schema = T.StructType(
        [cells.schema[c] for c in group_cols]
        + [
            T.StructField("component_id", T.LongType()),
            T.StructField("geometry", T.BinaryType()),
            T.StructField("n_cells", T.LongType()),
            T.StructField("area", T.DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {c: pdf[c].iloc[0] for c in group_cols}
        gx0, gy0, gcs, gnr = _affine_of(pdf, (x0, y0, cellsize, nrows))
        parts = polygonize_cells(
            pdf["row"].to_numpy(), pdf["col"].to_numpy(), gx0, gy0, gcs, gnr
        )
        return pd.DataFrame(
            [
                {**keys, "component_id": comp, "geometry": wkb, "n_cells": n, "area": area}
                for comp, wkb, n, area in parts
            ],
            columns=group_cols + ["component_id", "geometry", "n_cells", "area"],
        )

    if num_partitions:
        cells = cells.repartition(num_partitions, *group_cols)
    return cells.groupBy(*group_cols).applyInPandas(fn, schema)


def dissolve(
    cells: DataFrame,
    by: Sequence[str],
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """GROUP BY ``by`` with geometry -> union (A1).  Input is cell rows;
    output one MultiPolygon per group with its area and part count.

    Shuffle strategy — the SURVEY.md §7 two-level union, concretely:
    1. JVM pre-aggregation groupBy(by, row, col): HashAggregate partial
       collapses duplicate cells MAP-SIDE, so the shuffle and (crucially)
       the Arrow->Python transfer carry unique cells only — at sf0.1 this is
       ~100x fewer rows into the pandas kernel.
    2. applyInPandas on the group key runs the polygonize kernel once per
       output group (np.unique stays as a safety net).
    ``num_partitions``: see polygonize — caps Python-worker fan-out when the
    group cardinality is known-small.
    """
    by = list(by)
    affine_cols = [c for c in ("xll", "yll", "cellsize", "nrows") if c in cells.columns]
    deduped = cells.groupBy(*by, "row", "col", *affine_cols).agg(
        F.count(F.lit(1)).alias("_dup_count")
    )
    schema = T.StructType(
        [cells.schema[c] for c in by]
        + [
            T.StructField("geometry", T.BinaryType()),
            T.StructField("area", T.DoubleType()),
            T.StructField("n_parts", T.LongType()),
            T.StructField("n_cells", T.LongType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {c: pdf[c].iloc[0] for c in by}
        gx0, gy0, gcs, gnr = _affine_of(pdf, (x0, y0, cellsize, nrows))
        wkb, area, n_parts, n_cells = union_cells_to_multipolygon(
            pdf["row"].to_numpy(), pdf["col"].to_numpy(), gx0, gy0, gcs, gnr
        )
        return pd.DataFrame(
            [{**keys, "geometry": wkb, "area": area, "n_parts": n_parts, "n_cells": n_cells}],
            columns=by + ["geometry", "area", "n_parts", "n_cells"],
        )

    if num_partitions:
        deduped = deduped.repartition(num_partitions, *by)
    return deduped.groupBy(*by).applyInPandas(fn, schema)


def polygonize_auto(
    cells: DataFrame,
    group_cols: Sequence[str],
    threshold_cells: int | None = None,
    tile_size: int = 4096,
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Size-dispatched polygonize — ``dissolve_auto``'s twin for T4
    (SCALE.md rule 52): the same one-aggregation sizing job routes
    groups above the MEASURED polygonize crossover to
    ``polygonize_tiled``.  Below the threshold the returned plan is
    byte-identical to ``polygonize``; above it, component ids switch to
    the tiled kernel's deterministic min-cell assignment (the plain
    kernel's ids are arrival-order-dependent anyway, so no consumer may
    rely on them).

    The default threshold is ``POLYGONIZE_TILED_THRESHOLD_CELLS`` —
    polygonize's OWN measured crossover (r14,
    ``scripts/polygonize_crossover_sweep.py``), not dissolve's: the
    boundary walk plus per-component stitching makes the tiled twin's
    constant factor cheaper relative to plain than dissolve's, so the
    curves meet ~20x earlier (~100k cells/group vs dissolve's
    extrapolated ~2M)."""
    group_cols = list(group_cols)
    if threshold_cells is None:
        threshold_cells = POLYGONIZE_TILED_THRESHOLD_CELLS
    max_n = (
        cells.groupBy(*group_cols).count().agg(F.max("count")).first()[0]
    )
    if max_n is None or max_n <= threshold_cells:
        return polygonize(
            cells, group_cols, x0, y0, cellsize, nrows, num_partitions
        )
    return polygonize_tiled(
        cells, group_cols, tile_size, x0, y0, cellsize, nrows
    )


def polygonize_tiled(
    cells: DataFrame,
    group_cols: Sequence[str],
    tile_size: int = 4096,
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
) -> DataFrame:
    """Two-level polygonize with cross-tile component stitching
    (VERDICT r12 next #5 — the same superlinear-second-decade shape
    SCALE.md rule 49 measured for the plain dissolve applies to
    ``polygonize``'s one-Python-task-per-group boundary walk).

    Level 1 runs the numpy kernel per (group, tile) — task memory and
    walk cost bounded by ``tile_size^2`` cells — and, for every
    tile-local component, also emits the UNDIRECTED grid-edge keys of
    its border cells that face a neighboring tile (O(perimeter) keys).
    Level 2 stitches: an edge key seen from BOTH sides is a
    4-connectivity bridge between two tile-local components, so a
    per-group cogrouped union-find over (tile, local_comp) nodes —
    thousands of nodes, not billions of cells — rebuilds the global
    components and merges their per-tile polygon pieces.

    Semantics vs ``polygonize``: identical component PARTITION of the
    cells (same count, same per-component n_cells and area — the
    equivalence pin in tests/test_geometry.py), geometry is the same
    region as a MultiPolygon whose parts are split along tile lines,
    and ``component_id`` is assigned deterministically by each
    component's minimum (row, col) cell — unlike the plain kernel,
    whose ids depend on the group's row arrival order.
    """
    group_cols = list(group_cols)
    affine_cols = [
        c for c in ("xll", "yll", "cellsize", "nrows") if c in cells.columns
    ]
    ts = int(tile_size)
    tiled = cells.withColumn(
        "_tile_r", F.floor(F.col("row") / ts).cast("long")
    ).withColumn("_tile_c", F.floor(F.col("col") / ts).cast("long"))

    l1_schema = T.StructType(
        [cells.schema[c] for c in group_cols]
        + [
            T.StructField("_tile_r", T.LongType()),
            T.StructField("_tile_c", T.LongType()),
            T.StructField("_lcomp", T.LongType()),
            T.StructField("geometry", T.BinaryType()),
            T.StructField("n_cells", T.LongType()),
            T.StructField("area", T.DoubleType()),
            T.StructField("min_row", T.LongType()),
            T.StructField("min_col", T.LongType()),
            T.StructField("_border", T.ArrayType(T.StringType())),
        ]
    )

    def l1(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from ..functions.geometry import label_components

        keys = {c: pdf[c].iloc[0] for c in group_cols}
        tr, tc = int(pdf["_tile_r"].iloc[0]), int(pdf["_tile_c"].iloc[0])
        gx0, gy0, gcs, gnr = _affine_of(pdf, (x0, y0, cellsize, nrows))
        rows = pdf["row"].to_numpy(dtype=np.int64)
        cols = pdf["col"].to_numpy(dtype=np.int64)
        rows, cols = np.unique(
            np.stack([rows, cols]), axis=1
        )  # kernel requires unique cells; dedupe like dissolve's level 1
        labels = label_components(rows, cols)
        parts = polygonize_cells(rows, cols, gx0, gy0, gcs, gnr)
        # per-component min cell (deterministic global id seed) and
        # outward border edge keys (canonical undirected grid edges)
        min_cell: dict[int, tuple[int, int]] = {}
        border: dict[int, list[str]] = {}
        for r, c, lab in zip(rows, cols, labels):
            r, c, lab = int(r), int(c), int(lab)
            if lab not in min_cell or (r, c) < min_cell[lab]:
                min_cell[lab] = (r, c)
            for dr, dc in ((0, 1), (1, 0), (0, -1), (-1, 0)):
                nr, nc = r + dr, c + dc
                if nr // ts != tr or nc // ts != tc:  # crosses a tile line
                    lo, hi = min((r, c), (nr, nc)), max((r, c), (nr, nc))
                    border.setdefault(lab, []).append(
                        f"{lo[0]}:{lo[1]}|{hi[0]}:{hi[1]}"
                    )
        return pd.DataFrame(
            [
                {
                    **keys,
                    "_tile_r": tr,
                    "_tile_c": tc,
                    "_lcomp": comp,
                    "geometry": wkb,
                    "n_cells": n,
                    "area": area,
                    "min_row": min_cell[comp][0],
                    "min_col": min_cell[comp][1],
                    "_border": border.get(comp, []),
                }
                for comp, wkb, n, area in parts
            ],
            columns=l1_schema.fieldNames(),
        )

    pieces = tiled.groupBy(
        *group_cols, "_tile_r", "_tile_c"
    ).applyInPandas(l1, l1_schema)

    # stitch edges: an undirected border edge key emitted by two
    # different tiles bridges their local components.  Aggregation is
    # constant-buffer per key (exactly 2 rows can share one grid edge).
    links = pieces.select(
        *group_cols,
        F.concat_ws(
            "@", F.col("_tile_r"), F.col("_tile_c"), F.col("_lcomp")
        ).alias("node"),
        F.explode("_border").alias("ek"),
    )
    edges = (
        links.groupBy(*group_cols, "ek")
        .agg(
            F.min("node").alias("node_a"),
            F.max("node").alias("node_b"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == 2)
        .select(*group_cols, "node_a", "node_b")
        .distinct()
    )

    out_schema = T.StructType(
        [cells.schema[c] for c in group_cols]
        + [
            T.StructField("component_id", T.LongType()),
            T.StructField("geometry", T.BinaryType()),
            T.StructField("n_cells", T.LongType()),
            T.StructField("area", T.DoubleType()),
        ]
    )

    def stitch(key, comp_pdf: pd.DataFrame, edge_pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.wkb import decode, encode_multipolygon

        keys = dict(zip(group_cols, key))
        nodes = [
            f"{tr}@{tc}@{lc}"
            for tr, tc, lc in zip(
                comp_pdf["_tile_r"], comp_pdf["_tile_c"], comp_pdf["_lcomp"]
            )
        ]
        parent = {n: n for n in nodes}

        def find(n: str) -> str:
            while parent[n] != n:
                parent[n] = parent[parent[n]]
                n = parent[n]
            return n

        for a, b in zip(edge_pdf["node_a"], edge_pdf["node_b"]):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        groups: dict[str, list[int]] = {}
        for i, n in enumerate(nodes):
            groups.setdefault(find(n), []).append(i)
        merged = []
        for idxs in groups.values():
            polys: list = []
            for i in idxs:
                _, ps = decode(bytes(comp_pdf["geometry"].iloc[i]))
                polys.extend(ps)
            merged.append(
                {
                    **keys,
                    "geometry": encode_multipolygon(polys),
                    "n_cells": int(comp_pdf["n_cells"].iloc[idxs].sum()),
                    "area": float(comp_pdf["area"].iloc[idxs].sum()),
                    "_min": min(
                        (
                            int(comp_pdf["min_row"].iloc[i]),
                            int(comp_pdf["min_col"].iloc[i]),
                        )
                        for i in idxs
                    ),
                }
            )
        merged.sort(key=lambda d: d["_min"])
        for cid, d in enumerate(merged):
            d["component_id"] = cid
            del d["_min"]
        return pd.DataFrame(merged, columns=out_schema.fieldNames())

    return (
        pieces.groupBy(*group_cols)
        .cogroup(edges.groupBy(*group_cols))
        .applyInPandas(stitch, out_schema)
    )


#: Measured crossover where the tiled dissolve starts beating the plain
#: one-task-per-group kernel (SCALE.md rule 49: plain's second decade is
#: superlinear e=1.19 — kernel + Arrow transfer scale with the whole
#: group — while tiled stays linear e=1.00; extrapolated wall-clock
#: crossover ~10^3.3x fixture ≈ 2M cells/group, far below the ~1e8-cell
#: task-OOM bound).  Conservative by an order of magnitude against the
#: extrapolation error: the cost of routing early is a constant-factor
#: level-2 merge; the cost of routing late is superlinear.
DISSOLVE_TILED_THRESHOLD_CELLS = 2_000_000

#: MEASURED crossover for polygonize (r14, VERDICT r13 next #5 —
#: previously this dispatch borrowed dissolve's extrapolated ~2M).
#: `scripts/polygonize_crossover_sweep.py`, gapped-lattice replication
#: through the SECOND decade with component-count identity asserted at
#: both scales: second-decade exponents plain e=1.217 (one Python task
#: per group — kernel + Arrow transfer scale with the whole group) vs
#: tiled e=1.019 (per-tile work constant, only tile count grows), and
#: the curves MEET at the 100x arm itself — plain 51.44 s vs tiled
#: 51.63 s at 102,400 cells/group (within 0.4%), power-law
#: intersection at ~104k.  Threshold set AT the measured crossover:
#: routing early costs the constant-factor level-2 stitch (1.6x at
#: 10k cells/group), routing late costs the superlinear plain curve.
POLYGONIZE_TILED_THRESHOLD_CELLS = 100_000


def dissolve_auto(
    cells: DataFrame,
    by: Sequence[str],
    threshold_cells: int = DISSOLVE_TILED_THRESHOLD_CELLS,
    tile_size: int = 4096,
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Size-dispatched dissolve (VERDICT r12 #3): plain kernel for small
    groups, tiled two-level kernel above ``threshold_cells`` per group.

    SCALE.md rule 49's conclusion, now code instead of advice: below the
    measured ~2M-cells/group crossover the single-task kernel is both
    simpler and faster (the tiled twin pays ~90 level-1 tasks plus a
    level-2 merge for nothing), above it the plain kernel goes
    superlinear and eventually OOMs, so the caller-must-know dispatch
    was the one structural 100x-scale concern left in the geo family.

    Sizing pass: ONE aggregation-only job over the raw cell stream
    (``groupBy(by).count() -> max``) — all JVM, partial-aggregated
    map-side, no Python.  Raw row count is an UPPER bound on a group's
    unique cells (duplicates inflate it), so routing is conservative:
    duplication can only send a workload to the tiled kernel early,
    never keep an over-threshold group on the single-task kernel.  The
    returned plan is byte-identical to ``dissolve(...)`` below the
    threshold (pinned in tests/test_geometry.py); above it, the tiled
    plan — same region/area/cell-count, ``n_parts`` split along tile
    edges (see ``dissolve_tiled``).
    """
    by = list(by)
    max_n = cells.groupBy(*by).count().agg(F.max("count")).first()[0]
    if max_n is None or max_n <= threshold_cells:
        return dissolve(cells, by, x0, y0, cellsize, nrows, num_partitions)
    return dissolve_tiled(cells, by, tile_size, x0, y0, cellsize, nrows)


def dissolve_tiled(
    cells: DataFrame,
    by: Sequence[str],
    tile_size: int = 4096,
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
) -> DataFrame:
    """Two-level dissolve for groups too large for one task's memory.

    The plain ``dissolve`` sends ALL of a group's unique cells to one Python
    task — at a continental raster (1e9 kept cells x 16 B) that task OOMs.
    Here level 1 polygonizes per (group, tile) — task memory bounded by
    ``tile_size^2`` cells — and level 2 concatenates the per-tile
    MultiPolygon parts (a few KB per tile) per group.

    Semantics: the output covers EXACTLY the same region with the same area
    and cell count as ``dissolve``; polygon parts ARE split along tile lines
    (two touching parts instead of one merged part where a component crosses
    a tile edge), so ``n_parts`` is an upper bound.  Region/area-exactness is
    what the reference's downstream (area computation + PostGIS load) needs;
    part-minimality is not — and the test suite pins area/cell equality
    against the single-task kernel."""
    by = list(by)
    tiled = cells.withColumn(
        "_tile_r", (F.col("row") / tile_size).cast("long")
    ).withColumn("_tile_c", (F.col("col") / tile_size).cast("long"))
    per_tile = dissolve(
        tiled, by + ["_tile_r", "_tile_c"], x0, y0, cellsize, nrows
    )

    schema = T.StructType(
        [cells.schema[c] for c in by]
        + [
            T.StructField("geometry", T.BinaryType()),
            T.StructField("area", T.DoubleType()),
            T.StructField("n_parts", T.LongType()),
            T.StructField("n_cells", T.LongType()),
        ]
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.wkb import decode, encode_multipolygon

        keys = {c: pdf[c].iloc[0] for c in by}
        polys = []
        for blob in pdf["geometry"]:
            _, parts = decode(bytes(blob))
            polys.extend(parts)
        return pd.DataFrame(
            [
                {
                    **keys,
                    "geometry": encode_multipolygon(polys),
                    "area": float(pdf["area"].sum()),
                    "n_parts": int(pdf["n_parts"].sum()),
                    "n_cells": int(pdf["n_cells"].sum()),
                }
            ],
            columns=by + ["geometry", "area", "n_parts", "n_cells"],
        )

    return per_tile.groupBy(*by).applyInPandas(merge, schema)


def with_area(geo_df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Scalar geometry area (C1, ``species_range_etl.py:227``) over WKB via
    an Arrow-batched pandas UDF — square-unit semantics preserved."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def area_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.wkb import wkb_area

        return wkb.map(lambda b: wkb_area(bytes(b)) if b is not None else None)

    return geo_df.withColumn("area", area_udf(F.col(geometry_col)))


def with_simplified(
    geo_df: DataFrame, tolerance: float = 0.0, geometry_col: str = "geometry"
) -> DataFrame:
    """Artifact-size pass: Douglas-Peucker per ring over WKB
    (``functions.wkb.simplify_wkb``), Arrow-batched.  tolerance=0 removes
    exactly the collinear vertices the cell-boundary walk emits — the
    cheap 3-10x output shrink before a shapefile/GPKG export."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def simp_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.wkb import simplify_wkb

        return wkb.map(
            lambda b: simplify_wkb(bytes(b), tolerance) if b is not None else None
        )

    return geo_df.withColumn(geometry_col, simp_udf(F.col(geometry_col)))


def with_area_km2(geo_df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Real-units area column (km², spherical shoelace over lon/lat WKB)
    alongside the reference-fidelity square-degree ``with_area``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def km2_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.wkb import wkb_area_km2

        return wkb.map(
            lambda b: wkb_area_km2(bytes(b)) if b is not None else None
        )

    return geo_df.withColumn("area_km2", km2_udf(F.col(geometry_col)))


def with_transformed(
    geo_df: DataFrame,
    src_epsg: int,
    dst_epsg: int,
    geometry_col: str = "geometry",
) -> DataFrame:
    """ST_Transform over WKB geometries (closed-form ``functions.proj``:
    4326 <-> 6933 equal-area <-> 3857 web), Arrow-batched.  The reference
    stops at assigning 4326 (``species_range_etl.py:132``); this is the
    reprojection step a metric-area or web-tile consumer needs next."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.proj import EPSG_SUPPORTED

    if src_epsg not in EPSG_SUPPORTED or dst_epsg not in EPSG_SUPPORTED:
        raise ValueError(f"unsupported CRS pair {src_epsg}->{dst_epsg}")

    @pandas_udf("binary")
    def tf_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.proj import transform_wkb

        return wkb.map(
            lambda b: transform_wkb(bytes(b), src_epsg, dst_epsg)
            if b is not None
            else None
        )

    return geo_df.withColumn(geometry_col, tf_udf(F.col(geometry_col)))


def with_area_m2(geo_df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """True ellipsoidal area (m²) of lon/lat WKB: project to the
    equal-area EPSG:6933 and shoelace — the metric companion to
    ``with_area`` (square degrees) and ``with_area_km2`` (spherical)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def m2_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.proj import wkb_area_m2

        return wkb.map(
            lambda b: wkb_area_m2(bytes(b)) if b is not None else None
        )

    return geo_df.withColumn("area_m2", m2_udf(F.col(geometry_col)))
