"""Raster sources: ASCII-grid decode and zip-archive expansion.

Replaces the reference's file-at-a-time GDAL/zipfile stages (S4/T1/T2/T3,
``species_range_etl.py:59-92,155-173``) with DataFrame transforms over
``binaryFile`` scans:

  binaryFile scan -> mapInPandas(unzip)  -> member rows (path, name, bytes)
  member rows     -> mapInPandas(decode) -> long-format cell rows

The ASCII->GeoTIFF conversion (T3) disappears: both encodings decode to the
same cell-row model, so the engine never materializes an intermediate
format.  Bad archives become rows in an error side-channel instead of
swallowed exceptions (the reference drops them silently at ``:254-255``).
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_HEADER_KEYS = {"ncols", "nrows", "xllcorner", "yllcorner", "cellsize", "nodata_value"}

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("archive", T.StringType()),
        T.StructField("member", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)

CELL_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("row", T.IntegerType()),
        T.StructField("col", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("xll", T.DoubleType()),
        T.StructField("yll", T.DoubleType()),
        T.StructField("cellsize", T.DoubleType()),
        T.StructField("nrows", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """binaryFile scan: (path, modificationTime, length, content)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


#: per-member decompressed-size cap — a zip bomb declares (or lies its
#: way to) a huge expansion; one member must never exceed an executor
#: task's memory budget.  Oversized members become error rows.
MAX_MEMBER_BYTES = 1 << 30


def expand_zip(archives: DataFrame) -> DataFrame:
    """T1: zip bytes -> one row per member.  BadZipFile -> error row, not a
    swallowed exception (fixes species_range_etl.py:170-173,254-255);
    members whose decompressed size exceeds ``MAX_MEMBER_BYTES`` are
    rejected per-member (zip-bomb guard — the read is capped so a header
    that LIES about its size cannot expand past the limit either)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                try:
                    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
                        for info in zf.infolist():
                            name = info.filename
                            if name.endswith("/"):
                                continue
                            if info.file_size > MAX_MEMBER_BYTES:
                                out.append(
                                    {"archive": path, "member": name,
                                     "content": None,
                                     "error": f"member too large: "
                                              f"{info.file_size} bytes"}
                                )
                                continue
                            with zf.open(info) as fh:
                                data = fh.read(MAX_MEMBER_BYTES + 1)
                            if len(data) > MAX_MEMBER_BYTES:
                                out.append(
                                    {"archive": path, "member": name,
                                     "content": None,
                                     "error": "member too large: header "
                                              "understates decompressed size"}
                                )
                                continue
                            out.append(
                                {"archive": path, "member": name,
                                 "content": data, "error": None}
                            )
                except zipfile.BadZipFile as exc:
                    out.append(
                        {"archive": path, "member": None, "content": None,
                         "error": f"BadZipFile: {exc}"}
                    )
            yield pd.DataFrame(out, columns=[f.name for f in MEMBER_SCHEMA.fields])

    return archives.select("path", "content").mapInPandas(fn, MEMBER_SCHEMA)


def parse_ascii_grid(content: bytes) -> tuple[dict, list[tuple[int, int, float]]]:
    """One ESRI ASCII grid -> (header, [(row, col, value), ...]); NODATA
    cells are dropped (they are the reference's implicit absence encoding)."""
    text = content.decode("utf-8", errors="replace")
    header: dict[str, float] = {}
    cells: list[tuple[int, int, float]] = []
    row = 0
    for line in text.splitlines():
        parts = line.split()
        if not parts:
            continue
        if parts[0].lower() in _HEADER_KEYS:
            header[parts[0].lower()] = float(parts[1])
            continue
        nodata = header.get("nodata_value", -9999.0)
        for col, tok in enumerate(parts):
            v = float(tok)
            if v != nodata:
                cells.append((row, col, v))
        row += 1
    return header, cells


def decode_ascii_members(members: DataFrame, name_col: str = "member") -> DataFrame:
    """T2+T3 collapsed: ASCII grid bytes -> long-format cell rows with the
    georeferencing header carried per row (SURVEY.md §1.3 model (b))."""
    return decode_members(members, parse_ascii_grid, name_col)


def decode_members(members: DataFrame, parser, name_col: str = "member") -> DataFrame:
    """The one member-decode loop: ``parser(bytes) -> (header, cells)`` per
    member, mapped to ``CELL_SCHEMA`` rows keyed by ``name_col``.  A parse
    failure becomes an error row.  When ``members`` carries an ``error``
    column (``expand_zip``'s output), a row with an error is passed through
    as an error row with that text, unparsed."""
    cols = [name_col, "content"] + (["error"] if "error" in members.columns else [])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_batch(pdf, name_col, parser)

    return members.select(*cols).mapInPandas(fn, CELL_SCHEMA)


def _decode_batch(pdf: pd.DataFrame, name_col: str, parser) -> pd.DataFrame:
    out = []
    errors = pdf["error"] if "error" in pdf.columns else [None] * len(pdf)
    for name, blob, error in zip(pdf[name_col], pdf["content"], errors):
        if error is None:
            try:
                header, cells = parser(bytes(blob))
                xll = header.get("xllcorner", 0.0)
                yll = header.get("yllcorner", 0.0)
                cs = header.get("cellsize", 1.0)
                nr = int(header.get("nrows", 0))
                for r, c, v in cells:
                    out.append(
                        {"file": name, "row": r, "col": c, "value": v,
                         "xll": xll, "yll": yll, "cellsize": cs,
                         "nrows": nr, "error": None}
                    )
                continue
            except Exception as exc:  # decode failure -> error channel
                error = f"{type(exc).__name__}: {exc}"
        out.append(
            {"file": name, "row": None, "col": None, "value": None,
             "xll": None, "yll": None, "cellsize": None,
             "nrows": None, "error": error}
        )
    return pd.DataFrame(out, columns=[f.name for f in CELL_SCHEMA.fields])
