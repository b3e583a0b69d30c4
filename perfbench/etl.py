"""The species-range ETL workloads: one pass exactly as the CLI's ``etl``
command runs it, the numpy expectation every pass is checked against, and
the traced prefix chain that splits a pass into layers."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from gen import CELLSIZE, SpeciesInputs

BY = ["species", "threshold", "source", "year", "scenario"]
COLUMNS = ["sid", "species", "species_id", "geometry", "threshold", "source",
           "year", "scenario", "area"]


def full_pass(spark, zip_dir: str, out_dir: str) -> list:
    """``load_cells_from_zips`` -> ``run_pipeline`` -> ``write_speciesdata``
    (parquet) plus collecting the error side-channel, as ``__main__._etl``
    does it; returns the error rows."""
    from species_range_data_pipeline_spark.pipeline.species import (
        load_cells_from_zips,
        run_pipeline,
        write_speciesdata,
    )

    cells, errors = load_cells_from_zips(spark, zip_dir)
    result = run_pipeline(cells).persist()
    try:
        write_speciesdata(result, path=out_dir)
        err_rows = errors.collect()
        result.count()
    finally:
        result.unpersist()
    return err_rows


def expected_rows(inputs: SpeciesInputs) -> dict[tuple, int]:
    """(species, threshold, source, year, scenario) -> kept cells, for every
    group with at least one kept cell."""
    from species_range_data_pipeline_spark.pipeline.species import THRESHOLDS

    out = {}
    for g in inputs.grids:
        for t in THRESHOLDS:
            n = g.kept(t)
            if n:
                out[(g.species, str(int(t * 100)), g.source, g.year, g.scenario)] = n
    return out


def check_output(inputs: SpeciesInputs, out_dir: str, err_rows: list) -> list[str]:
    """Mismatches between a pass's output and the numpy expectation."""
    problems = []
    if len(err_rows) != inputs.planted_errors:
        problems.append(f"{len(err_rows)} error rows, planted {inputs.planted_errors}")
    items = sorted(os.path.basename(r.item) for r in err_rows)
    if items != ["broken-archive.zip", "corrupt-grid__25_current.asc"]:
        problems.append(f"error items {items}")
    table = pq.read_table(out_dir)
    if table.column_names != COLUMNS:
        problems.append(f"columns {table.column_names}")
        return problems
    rows = table.select(BY + ["sid", "area"]).to_pylist()
    want = expected_rows(inputs)
    got = {tuple(r[k] for k in BY): r for r in rows}
    if len(got) != len(rows) or set(got) != set(want):
        problems.append(f"{len(rows)} rows / {len(got)} keys, want {len(want)} keys")
        return problems
    area = np.array([got[k]["area"] for k in want])
    kept = np.array([want[k] for k in want], dtype=np.float64) * CELLSIZE ** 2
    if not np.allclose(area, kept, rtol=1e-9, atol=0.0):
        problems.append(f"area off by up to {np.abs(area - kept).max()}")
    # sid: dense 0..n-1 in the key order run_pipeline documents
    if [got[k]["sid"] for k in sorted(got)] != list(range(len(got))):
        problems.append("sid is not dense 0..n-1 in key order")
    return problems


class EtlWorkload:
    """One ETL workload's passes over generated zips."""

    def __init__(self, spark, inputs: SpeciesInputs, work: str):
        self.spark = spark
        self.inputs = inputs
        self.out_dir = os.path.join(work, "speciesdata")

    def run_pass(self) -> tuple[float, list[str]]:
        """One checked pass: (wall seconds, mismatches)."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        err_rows = full_pass(self.spark, self.inputs.zip_dir, self.out_dir)
        wall = time.perf_counter() - t0
        return wall, check_output(self.inputs, self.out_dir, err_rows)

    check = run_pass  # every pass is checked, the first one included

    @property
    def work_units(self) -> int:
        """Decoded input cells: the size the throughput is stated at."""
        return self.inputs.cells

    # -- traced run ----------------------------------------------------------

    def traced_chain(self, probe) -> dict[str, float]:
        """Run the pass as growing prefixes, each to the ``noop`` sink until
        the parquet sink joins, and diff the status stores around each.  A
        layer's self time is its prefix's wall time minus the previous
        prefix's.  The last prefix is the full pass, timed as construction
        (lazy plans plus the jobs they run eagerly) and then execution, so
        the self times sum to the traced pass."""
        from pyspark.sql import functions as F

        from species_range_data_pipeline_spark.operators.polygonize import (
            dissolve_auto,
        )
        from species_range_data_pipeline_spark.pipeline.raster import (
            expand_zip,
            read_binary_files,
        )
        from species_range_data_pipeline_spark.pipeline.species import (
            THRESHOLDS,
            load_cells_from_zips,
            parse_scenario_attributes,
            run_pipeline,
            write_speciesdata,
        )

        spark, zips, out = self.spark, self.inputs.zip_dir, self.out_dir

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def fanned():
            # run_pipeline's fan-out, filter and attribute steps, verbatim
            cells, _ = load_cells_from_zips(spark, zips)
            kept = cells.withColumn(
                "threshold", F.explode(F.array(*[F.lit(t) for t in THRESHOLDS]))
            ).where(F.col("value") >= F.col("threshold"))
            return parse_scenario_attributes(kept).withColumn(
                "threshold", (F.col("threshold") * 100).cast("int").cast("string"))

        def dissolved() -> int:
            # summing the kernel's unique-cell counts runs the whole kernel
            # (a Python UDF's output is computed before any pruning) and
            # yields the rows it was sent
            return dissolve_auto(fanned(), by=BY).agg(F.sum("n_cells")).first()[0]

        prefixes = [
            ("raster.expand_s", lambda: noop(
                expand_zip(read_binary_files(spark, zips, glob="*.zip")))),
            ("decode.s", lambda: noop(load_cells_from_zips(spark, zips)[0])),
            ("species.fanout_s", lambda: noop(fanned())),
            ("dissolve.s", dissolved),
            ("species.sid_s", lambda: noop(
                run_pipeline(load_cells_from_zips(spark, zips)[0]))),
            ("sink.write_s", lambda: write_speciesdata(
                run_pipeline(load_cells_from_zips(spark, zips)[0]), path=out)),
        ]
        seen, results = {}, {}
        for name, fn in prefixes:
            results[name], seen[name] = probe.measure(fn)

        # the full pass, as full_pass() runs it, split at the first action
        (cells, errors), load_c = probe.measure(
            lambda: load_cells_from_zips(spark, zips))
        result, build_c = probe.measure(lambda: run_pipeline(cells).persist())

        def execute():
            try:
                write_speciesdata(result, path=out)
                errors.collect()
                result.count()
            finally:
                result.unpersist()

        _, exec_c = probe.measure(execute)
        seen["errors.s"] = full_c = load_c + build_c + exec_c
        names = [n for n, _ in prefixes] + ["errors.s"]
        self_c = {names[0]: seen[names[0]]}
        self_c.update({b: seen[b] - seen[a] for a, b in zip(names, names[1:])})

        r = {n: c.wall_s for n, c in self_c.items()}
        r.update({
            "raster.read_amplification":
                full_c.get("spark.input_bytes") / self.inputs.zip_bytes,
            "decode.cells_out": self_c["decode.s"].get("rows.MapInPandas"),
            "species.fanout_rows": self_c["species.fanout_s"].get("rows.Filter"),
            "dissolve.sizing_jobs": build_c.get("spark.jobs"),
            "dissolve.groups": seen["dissolve.s"].get("rows.FlatMapGroupsInPandas"),
            "dissolve.python_rows_in": float(results["dissolve.s"]),
            "sink.bytes_written": self_c["sink.write_s"].get("spark.output_bytes"),
            "plans.construct_s": load_c.wall_s + build_c.wall_s,
            "plans.eager_jobs": load_c.get("spark.jobs") + build_c.get("spark.jobs"),
            "plans.exec_s": exec_c.wall_s,
            "trace.pass_s": full_c.wall_s,
            "trace.traced_pass_s": full_c.wall_s + full_c.probe_s,
        })
        r.update(full_c.values)
        return r
