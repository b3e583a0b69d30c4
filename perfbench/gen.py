"""Seeded input generators for the benchmark.

Everything the program under test reads is written here, from a seed, into a
directory the caller names; the program receives only those files.

* ``species_zips`` writes per-species zip archives of ESRI ASCII grids in the
  reference layout (``{species}__{threshold}_{scenario}.asc`` members, the
  2-token ``current`` form and the 4-token ``{source}_{scenario}_y{year}``
  form), with spatially smooth suitability fields, NODATA holes, and planted
  corrupt inputs that must surface in the error side-channel.
* ``star_tables`` writes a small TPC-H-shaped star schema plus the
  ``events``/``documents``/``embeddings`` tables the registry lanes read, in
  the same column layout as the engine's test fixtures.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile
from dataclasses import dataclass, field

import numpy as np

NODATA = -9999
XLL, YLL, CELLSIZE = -100.0, 30.0, 0.05

#: (source, scenario, year) of each scenario token; the first is the 2-token
#: ``current`` form, the rest the 4-token form.
SCENARIOS = [
    ("vtech", "current", "2020"),
    ("gfdl", "rcp45", "2040"),
    ("hadley", "rcp85", "2080"),
    ("ccsm", "rcp60", "2060"),
]

_GENERA = ["abies", "acer", "betula", "carya", "fagus", "fraxinus", "juglans",
           "larix", "picea", "pinus", "populus", "quercus", "salix", "tilia"]
_EPITHETS = ["alba", "rubra", "nigra", "grandis", "balsamea", "glauca",
             "rigida", "strobus", "ovata", "montana", "palustris", "borealis"]


def scenario_token(source: str, scenario: str, year: str) -> str:
    if scenario == "current":
        return "current"
    return f"{source}_{scenario}_y{year}"


@dataclass
class Grid:
    """One generated raster: values in thousandths (``NODATA`` for holes)."""

    species: str
    source: str
    scenario: str
    year: str
    milli: np.ndarray

    def kept(self, threshold: float) -> int:
        """Cells at or above ``threshold``: the numpy expectation of the
        pipeline's keep predicate (values are exact thousandths)."""
        m = self.milli
        return int(((m != NODATA) & (m >= round(threshold * 1000))).sum())


@dataclass
class SpeciesInputs:
    zip_dir: str
    grids: list[Grid]
    planted_errors: int
    zip_bytes: int
    cells: int = field(init=False)

    def __post_init__(self) -> None:
        self.cells = sum(int((g.milli != NODATA).sum()) for g in self.grids)


def smooth_field(rng: np.random.Generator, nrows: int, ncols: int) -> np.ndarray:
    """Suitability in thousandths: a sum of random Gaussian bumps, so each
    threshold cuts out contiguous patches with holes and islands, plus a
    NODATA blob (the reference's implicit-absence encoding)."""
    yy, xx = np.mgrid[0:nrows, 0:ncols].astype(np.float64)
    f = np.zeros((nrows, ncols))
    for _ in range(6):
        cy, cx = rng.uniform(0, nrows), rng.uniform(0, ncols)
        sy, sx = rng.uniform(0.08, 0.3) * nrows, rng.uniform(0.08, 0.3) * ncols
        f += rng.uniform(0.4, 1.0) * np.exp(
            -(((yy - cy) / sy) ** 2 + ((xx - cx) / sx) ** 2) / 2
        )
    f += rng.uniform(0, 0.15, size=f.shape)  # speckle: ragged patch edges
    f /= f.max()
    milli = np.rint(f * 1000).astype(np.int64)
    hy, hx = rng.uniform(0, nrows), rng.uniform(0, ncols)
    hr = max(1.0, 0.12 * min(nrows, ncols))
    milli[((yy - hy) ** 2 + (xx - hx) ** 2) < hr * hr] = NODATA
    return milli


def asc_bytes(milli: np.ndarray) -> bytes:
    """ESRI ASCII grid with the header of the pipeline tests' ``_asc_bytes``."""
    nrows, ncols = milli.shape
    lines = [
        f"ncols {ncols}",
        f"nrows {nrows}",
        f"xllcorner {XLL}",
        f"yllcorner {YLL}",
        f"cellsize {CELLSIZE}",
        f"NODATA_value {NODATA}",
    ]
    tok = np.where(milli == NODATA, str(NODATA), np.char.mod("%.3f", milli / 1000.0))
    lines += [" ".join(r) for r in tok]
    return "\n".join(lines).encode()


def species_names(n: int) -> list[str]:
    out = []
    for i in range(n):
        g = _GENERA[i % len(_GENERA)]
        e = _EPITHETS[(i // len(_GENERA)) % len(_EPITHETS)]
        out.append(f"{g}-{e}{i // (len(_GENERA) * len(_EPITHETS)) or ''}")
    return out


def species_zips(
    out_dir: str, seed: int, n_species: int, n_scenarios: int, side: int
) -> SpeciesInputs:
    """Write ``n_species`` zips of ``n_scenarios`` ``side``x``side`` grids,
    plus two planted errors: an archive that is not a zip (zip error
    channel) and a zip whose grid has an unparsable token (decode error
    channel)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    grids = []
    for sp in species_names(n_species):
        with zipfile.ZipFile(os.path.join(out_dir, f"{sp}.zip"), "w",
                             zipfile.ZIP_DEFLATED) as zf:
            for source, scenario, year in SCENARIOS[:n_scenarios]:
                member = f"{sp}__25_{scenario_token(source, scenario, year)}.asc"
                milli = smooth_field(rng, side, side)
                zf.writestr(member, asc_bytes(milli))
                grids.append(Grid(sp, source, scenario, year, milli))
    with open(os.path.join(out_dir, "broken-archive.zip"), "wb") as fh:
        fh.write(rng.bytes(256))
    bad = asc_bytes(np.full((4, 4), 500)).replace(b"0.500", b"0.5x0", 1)
    with zipfile.ZipFile(os.path.join(out_dir, "corrupt-grid.zip"), "w") as zf:
        zf.writestr("corrupt-grid__25_current.asc", bad)
    zip_bytes = sum(
        os.path.getsize(os.path.join(out_dir, f))
        for f in os.listdir(out_dir) if f.endswith(".zip")
    )
    return SpeciesInputs(out_dir, grids, planted_errors=2, zip_bytes=zip_bytes)


# ---------------------------------------------------------------------------
# star schema + events/documents/embeddings for the registry lanes


_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "a the line sort window order data column join small customer query "
          "big stream group filter vector").split()


def star_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write ``{table}.parquet`` for the ten fixture tables at ``scale``
    (1.0 == 6M lineitem rows, as the fixtures' sf); returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_line = max(800, int(6_000_000 * scale))
    n_ev, n_doc, n_emb = max(1000, int(1_000_000 * scale)), 500, 500

    def ts(base: dt.datetime, secs: np.ndarray) -> pa.Array:
        us = (np.datetime64(base, "us") + secs.astype("timedelta64[s]")).astype(
            "datetime64[us]")
        return pa.array(us, type=pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    adj = np.array(["red", "blue", "small", "hot", "old", "green", "big", "dark"])
    noun = np.array(["widget", "plate", "ring", "rod", "anvil", "gear", "bolt", "pipe"])
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            # every nation has suppliers, so per-nation lanes find rows
            "s_nationkey": pa.array(rng.permutation(np.arange(n_supp) % 25)
                                    .astype(np.int32)),
            "s_acctbal": money(-999, 9999, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                  noun[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "SMALL", "LARGE",
                                "MEDIUM"])[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": ts(dt.datetime(1995, 1, 1),
                              rng.integers(0, 2404, n_ord) * 86400),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": ts(dt.datetime(1995, 1, 2),
                             rng.integers(0, 2498, n_line) * 86400),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts(dt.datetime(2024, 1, 1),
                     np.sort(rng.integers(0, 30 * 86400, n_ev))),
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": np.array(["click", "view", "purchase", "error", "login"])[
                rng.integers(0, 5, n_ev)],
            "value": money(0.01, 490, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))])
             for _ in range(n_doc)]
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    }
    counts = {}
    for name, cols in tables.items():
        tbl = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v)
                        for k, v in cols.items()})
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
