"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench -q

The Spark tests start a `local[2]` session each (~10-40 s); every file
they write stays under `.perfbench/` in the repository.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import cache_reset  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402
from cpu_sampler import PARTS, ProcTreeCpu  # noqa: E402


@pytest.fixture
def work():
    path = os.path.join(ROOT, ".perfbench", f"test-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    harness.prepare_env(ROOT, path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == workloads.E2E_UNITS
    assert layers == workloads.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_cache_reset_covers_every_module_cache():
    covered = {id(d) for d in cache_reset.cache_dicts()}
    missing = [name for name, d in cache_reset.discover().items() if id(d) not in covered]
    assert not missing, f"module caches the reset does not clear: {missing}"
    assert len(covered) == len(cache_reset.CACHES)


def test_clear_all_empties_every_cache():
    for d in cache_reset.cache_dicts():
        d["perfbench-test"] = 1
    cache_reset.clear_all()
    assert cache_reset.entries() == 0


def test_cpu_sampler_counts_python_workers(work):
    import datagen
    from kol_bigdata_realtime_analytics_spark.plans import REGISTRY

    sf_dir = datagen.write_dataset(os.path.join(work, "data"))
    spark, _ = harness.start_session(work, "perfbench-test", event_log=False)
    try:
        cpu = ProcTreeCpu()
        start = cpu.snapshot()
        t0 = time.perf_counter()
        df = REGISTRY["ml_trust_inference"].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        parts = cpu.delta(start, cpu.snapshot())
    finally:
        harness.stop_session(spark)
    assert set(parts) == set(PARTS)
    assert parts["pyworker"] > 0, parts  # the pandas UDF ran in pyspark.daemon workers
    assert parts["jvm"] > 0, parts
    total = sum(parts.values())
    assert 0 < total < wall * os.cpu_count() + 1
    assert abs(total - (parts["driver"] + parts["jvm"] + parts["pyworker"])) < 1e-9


def test_replay_captures_every_batch(work):
    run = workloads.Run("hot_path_replay", seed=7, seconds=3, trace=False, root=ROOT,
                        work=work, t_start=time.perf_counter())
    try:
        workloads.hot_path_replay(run)
    finally:
        if run.spark is not None:
            harness.stop_session(run.spark)
    staged = workloads.WARM_FILES + 2 * run.seconds
    with_input = [b for b in run.progress if b["numInputRows"] > 0]
    assert len(with_input) == staged
    assert sum(b["numInputRows"] for b in run.progress) == workloads.REPLAY_ROWS
    # the final watermark advance evicts state in a batch without input,
    # which is captured but not counted as an op
    assert len(run.progress) > len(with_input)
    assert run.failed == 0, run.errors
    assert run.e2e["op_p50_ms"] > 0 and run.e2e["pass_s"] > 0
