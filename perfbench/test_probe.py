"""Tests of the benchmark's own instruments.

    python3 -m pytest perfbench/test_probe.py -q

The determinism test runs one ETL pass twice on the same generated inputs
and requires the status-store probe to report identical job, stage, task,
byte and record counts: the counters later changes are judged on must not
move between two runs of unchanged code.
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from etl import check_output, full_pass  # noqa: E402
from gen import species_zips  # noqa: E402
from probe import StoreProbe, parse_metric  # noqa: E402
from procs import PeakRss, _tree, tree_cpu_s  # noqa: E402

EXACT = [
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.input_bytes", "spark.input_records",
    "spark.shuffle_write_bytes", "spark.shuffle_write_records",
    "spark.shuffle_read_bytes", "spark.shuffle_read_records",
]


@pytest.mark.parametrize("text,value", [
    ("1,000", 1000.0),
    ("total (min, med, max (stageId: taskId))\n8.4 KiB (2.1 KiB, 2.1 KiB, "
     "2.1 KiB (stage 0.0: task 0))", 8.4 * 1024),
    ("total (min, med, max (stageId: taskId))\n7.0 s (1.7 s, 1.8 s, 1.8 s "
     "(stage 0.0: task 1))", 7.0),
    ("total (min, med, max (stageId: taskId))\n2.5 m (1 ms, 2 ms, 3 ms "
     "(stage 1.0: task 9))", 150.0),
    ("total (min, med, max (stageId: taskId))\n12 ms (1 ms, 2 ms, 3 ms "
     "(stage 1.0: task 9))", 0.012),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_proc_sampler_sees_this_process():
    with PeakRss(interval_s=0.01) as rss:
        c0 = tree_cpu_s()
        sum(i * i for i in range(2_000_000))
        assert tree_cpu_s() > c0
        assert rss.take() > 1


def test_tree_skips_a_child_that_still_maps_its_parent():
    def stat(ppid, rss):
        f = ["S", str(ppid)] + ["0"] * 30
        f[21] = str(rss)
        return f

    stats = {
        1: ("java", stat(0, 600_000)),
        2: ("Checkpoint", stat(1, 600_000)),  # cloned, not yet exec'd
        3: ("python3", stat(1, 10_000)),  # worker daemon
        4: ("python3", stat(3, 17_000)),  # a worker it forked
        5: ("getconf", stat(2, 300)),  # what the clone execs into
    }
    assert sorted(int(f[21]) for f in _tree(stats, 1)) == [300, 10_000, 17_000,
                                                            600_000]


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from species_range_data_pipeline_spark.session import get_spark

    session = get_spark("perfbench-test")
    yield session
    session.stop()


def test_two_runs_of_a_pass_move_identical_counters(spark, tmp_path):
    inputs = species_zips(str(tmp_path / "zips"), seed=7, n_species=3,
                          n_scenarios=2, side=20)
    probe = StoreProbe(spark)
    runs = []
    for i in range(2):
        out = str(tmp_path / f"out{i}")
        err_rows, counters = probe.measure(
            lambda out=out: full_pass(spark, inputs.zip_dir, out))
        assert check_output(inputs, out, err_rows) == []
        runs.append(counters)
    assert runs[0].get("spark.jobs") > 0 and runs[0].get("spark.input_bytes") > 0
    assert {k: runs[0].get(k) for k in EXACT} == {k: runs[1].get(k) for k in EXACT}
