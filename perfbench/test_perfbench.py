"""The benchmark's own tests, at a tiny input size:

    python3 -m pytest perfbench -q -p no:cacheprovider

They share one JVM (each run restarts the Spark session inside it) and write
only under ``.perfbench-state/``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import run as bench_run

SPEC = json.load(open(os.path.join(bench_run.ROOT, "BENCHMARK.json")))


@pytest.fixture(scope="module", autouse=True)
def _stop_shared_jvm():
    """The tests share one JVM; it must not outlive them."""
    yield
    from harness import stop_spark

    stop_spark()


def _units(names: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[names]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_printed_with_unit(workload, trace):
    out = bench_run.run(workload, seed=3, seconds=1, trace=trace, size="tiny")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = _units("per_layer" if trace else "end_to_end")
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_input_digest_follows_seed():
    from pipeline import Bench

    state = os.path.join(bench_run.STATE_ROOT, "run")
    bench_run.isolate(state)
    digests = []
    bench = Bench(1, "tiny", state, bench_run.nproc())
    try:
        for seed in (1, 1, 2):
            bench.seed = seed
            if bench.spark is None:
                bench.start_session()
            bench.write_inputs()
            bench.compute_references()
            digests.append(bench.input_digest())
    finally:
        if bench.spark is not None:
            bench.spark.stop()
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_corrupted_reference_fails_the_gate():
    out = bench_run.run("serve", seed=3, seconds=1, trace=False, size="tiny",
                        corrupt_reference=True)
    assert not out["correct"]
    assert out["failed"] > 0


def test_fails_without_the_engine():
    """Where only BENCHMARK.json and the benchmark's files exist, the run
    exits non-zero and prints no result."""
    tmp_path = os.path.join(bench_run.STATE_ROOT, "run", "bare")
    shutil.rmtree(tmp_path, ignore_errors=True)
    os.makedirs(tmp_path)
    shutil.copy(os.path.join(bench_run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(bench_run.HERE, os.path.join(tmp_path, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


STOP_SCRIPT = """
import os, sys
sys.path[:0] = [sys.argv[1], sys.argv[2]]
import run as bench_run
from harness import _process_tree, _start_time, stop_spark
from pipeline import Bench
state = os.path.join(bench_run.STATE_ROOT, "run", "stop")
bench_run.isolate(state)
bench = Bench(1, "tiny", state, 2)
bench.start_session()
bench.spark.range(8, numPartitions=2).mapInPandas(lambda it: it, "id long").count()
me = os.getpid()
tree = {p: _start_time(p) for p in _process_tree(me) if p != me}
stop_spark()
print(len(tree), sum(t is not None and _start_time(p) == t for p, t in tree.items()))
"""


def test_stop_spark_ends_every_process():
    """The JVM and the Python workers it forked have all ended when
    ``stop_spark`` returns."""
    p = subprocess.run(
        [sys.executable, "-c", STOP_SCRIPT, bench_run.HERE, bench_run.ROOT],
        cwd=bench_run.ROOT, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode == 0, p.stderr
    started, alive = map(int, p.stdout.split()[-2:])
    assert started >= 2  # the JVM and at least one Python worker
    assert alive == 0
