"""The ``lanes_mix`` workload: a fixed set of registry lanes over a
generated star schema, run to the ``noop`` sink and checked against their
DuckDB oracles.

The lanes read through the registry exactly as the bench and the driver
contract do (``registry.all_queries()[name](spark, dir)``).  They are
dominated by jobs, the driver and Catalyst, not by kernels: a TPC-H Q21
shape (four-way join with EXISTS / NOT EXISTS subqueries, integer counts),
and a streaming lane that tails a foreign Delta log through a Python data
source (the ``sources``/``streaming`` path), draining its microbatches
inside construction.

``q5_region_volume`` is not used: it rounds a float sum of products to
cents, and on some generated inputs (seed 408 at scale 0.005) Spark and
DuckDB sum in different orders and round a half-cent tie apart, so its
oracle check fails on unchanged code.
"""

from __future__ import annotations

import math
import sys
import time

LANES = ["q21_suppliers_kept_waiting", "stream_delta_tail"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(rows, columns):
    """Column-name-sorted, row-sorted, floats rounded to 6 places: the
    comparison rule of the oracle-parity tests (tests/test_oracle_parity.py)."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0 and math.copysign(1.0, v) < 0:
                    v = "-0.0"
                else:
                    v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [columns[i] for i in idx], out


class LanesWorkload:
    def __init__(self, spark, table_dir: str, table_rows: dict[str, int]):
        from species_range_data_pipeline_spark.plans import registry

        self.spark = spark
        self.table_dir = table_dir
        self.table_rows = table_rows
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.lane_s: dict[str, list[float]] = {n: [] for n in LANES}

    @property
    def work_units(self) -> int:
        return sum(self.table_rows.values())

    def check(self) -> tuple[float, list[str]]:
        """First pass: every lane collected and compared with its oracle."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.table_dir}/{t}.parquet'")
        problems = []
        t0 = time.perf_counter()
        for name in LANES:
            df = self.queries[name](self.spark, self.table_dir)
            got = normalize([tuple(r) for r in df.collect()], df.columns)
            res = con.execute(self.oracles[name])
            want = normalize(res.fetchall(), [d[0] for d in res.description])
            if not got[1]:
                problems.append(f"{name}: no rows, so the oracle check is vacuous")
            elif got != want:
                problems.append(f"{name}: differs from its oracle "
                                f"({len(got[1])} rows vs {len(want[1])})")
        con.close()
        return time.perf_counter() - t0, problems

    def run_lane(self, name: str) -> float:
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.table_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def run_pass(self) -> tuple[float, list[str]]:
        """One warm pass: every lane constructed and run to ``noop``."""
        total = 0.0
        for name in LANES:
            s = self.run_lane(name)
            self.lane_s[name].append(s)
            total += s
        print("perfbench: lanes " + ", ".join(
            f"{n} {v[-1]:.3f} s" for n, v in self.lane_s.items()), file=sys.stderr)
        return total, []

    def traced_chain(self, probe) -> dict[str, float]:
        """Per lane: construction (with the jobs it runs eagerly) against
        execution, and the status-store counters of the whole pass."""
        r: dict[str, float] = {"plans.construct_s": 0.0, "plans.eager_jobs": 0.0,
                               "plans.exec_s": 0.0}
        total = None
        for name in LANES:
            df, build = probe.measure(
                lambda name=name: self.queries[name](self.spark, self.table_dir))
            _, run = probe.measure(
                lambda df=df: df.write.format("noop").mode("overwrite").save())
            r["plans.construct_s"] += build.wall_s
            r["plans.eager_jobs"] += build.get("spark.jobs")
            r["plans.exec_s"] += run.wall_s
            r[f"lane.{name}_s"] = build.wall_s + run.wall_s
            for c in (build, run):
                total = c if total is None else total + c
        r["trace.pass_s"] = total.wall_s
        r["trace.traced_pass_s"] = total.wall_s + total.probe_s
        r.update(total.values)
        return r

