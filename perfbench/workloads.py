"""The three closed-loop workloads: one client, one process, `local[2]`.

- `hot_path_replay`: 100,000 ts-ordered events replayed as parquet files,
  one file per micro-batch, through `streaming.trending` into the top-k
  `streaming.sinks` ranking snapshot.
- `query_mix`: warm batch queries, one or two per `plans` submodule, each
  built with `q.fn` and written through the noop sink.
- `index_build_cold`: index-building queries with every artifact cache and
  the index store cleared before each op. It is not in BENCHMARK.json: its
  first-in-JVM warm-up alone takes ~25 s per run, more than the benchmark's
  time budget per run leaves for a third workload. Run it by hand.

Each workload stages its inputs, starts the session and warms up (set-up),
then times whole passes. The correctness gate runs once, after timing.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

import harness
from harness import median, p
from tracing import Spans, job_metrics, sum_jobs



def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)

#: query_mix: one heavy, steady representative per plans submodule (two for
#: extended), including k-means and MinHash-LSH. An odd count puts op_p50 on
#: one query's runs instead of between two queries.
MIX_QUERIES = (
    "pricing_summary",
    "trending_scores",
    "sessionize_events",
    "asof_last_event_before_order",
    "late_sole_supplier_orders",
    "minhash_lsh_candidates",
    "embedding_kmeans_lloyd",
    "ml_trust_inference",
    "dq_constraint_checks",
)

#: index_build_cold: queries that build an index artifact. The round trip
#: goes first so the warm-up builds the shared artifacts once.
INDEX_QUERIES = (
    "index_persistence_roundtrip_check",
    "knn_graph_build",
    "ann_opq_topk",
)

#: submodules reported as plans.<name>.wall_s
SUBMODULES = (
    "relational",
    "domain",
    "extended",
    "subqueries",
    "llm_ops",
    "advanced",
    "ml",
    "data_quality",
    "quality_model",
    "index_persistence",
)

REPLAY_ROWS = 100_000
REPLAY_USERS = 1_500
#: files replayed before timing: the first batch plans and compiles
#: (~4 s), and batch times keep falling (JIT) for about ten more
WARM_FILES = 15
TOP_K = 100


@dataclass
class Run:
    """One benchmark run: arguments, directories, session and results."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    root: str
    work: str
    t_start: float
    spark: object = None
    counters: object = None
    cpu: object = None
    spans: Spans = field(default_factory=Spans)
    setup_s: float = 0.0
    layer: dict = field(default_factory=lambda: dict.fromkeys(LAYER_UNITS, 0.0))
    e2e: dict = field(default_factory=dict)
    #: timed passes kept for the traced run's event-log attribution
    passes: list = field(default_factory=list)
    #: every micro-batch progress of the replay (warm-up and timed)
    progress: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def start_session(self) -> None:
        from cpu_sampler import ProcTreeCpu

        self.spark, start_s = harness.start_session(self.work, "perfbench", self.trace)
        self.layer["session.start_s"] = start_s
        self.counters = harness.Counters(self.spark)
        self.cpu = ProcTreeCpu()

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def describe(self, text: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobDescription(text)


#: end-to-end metrics of an untraced run, with their units
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "pass_cpu_s": "s",
}

#: every per-layer metric of a traced run, with its unit; a workload
#: reports 0 for a layer it does not run
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.add_batch_p90_ms": "ms",
    "streaming.sink_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_rows_removed": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_cache_hit_ratio": "ratio",
    "streaming.rows_in": "count",
    "streaming.batches": "count",
    "streaming.no_data_batches": "count",
    "streaming.tasks_per_batch": "count",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    **{f"plans.{m}.wall_s": "s" for m in SUBMODULES},
    "catalyst.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "cache.entries_added": "count",
    "index_store.bytes_written": "bytes",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.busy_share": "ratio",
    "trace.overhead_pct": "%",
}


def _pass_layers(ps: dict, per_job) -> dict:
    """Scheduler, CPU and executor metrics of one pass."""
    out = {f"cpu.{k}_s": v for k, v in ps["cpu"].items()}
    out.update({f"spark.{k}": float(v) for k, v in ps["counts"].items()})
    ex = sum_jobs(per_job, ps["marks"][0][0], ps["marks"][1][0])
    out.update({f"exec.{k}": v for k, v in ex.items()})
    out["exec.busy_share"] = ex["run_s"] / (ps["wall_s"] * harness.CPUS)
    return out


def _median_cpu_pass(passes: list) -> dict:
    """The pass whose CPU total is the (lower) median."""
    return sorted(passes, key=lambda ps: sum(ps["cpu"].values()))[(len(passes) - 1) // 2]


def _mean_dicts(dicts: list[dict]) -> dict:
    keys = {k for d in dicts for k in d}
    return {k: sum(d.get(k, 0.0) for d in dicts) / len(dicts) for k in keys}


# --------------------------------------------------------------------------
# batch workloads
# --------------------------------------------------------------------------


@dataclass
class Op:
    name: str
    module: str
    build_s: float = 0.0
    exec_s: float = 0.0
    cache_added: int = 0
    store_bytes: int = 0
    jobs: tuple = (0, 0)
    t0: float = 0.0
    df: object = None
    error: str | None = None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def batch_workload(run: Run, names: tuple, cold: bool) -> None:
    import datagen

    sf_dir = datagen.write_dataset(os.path.join(run.work, "data", "bench"))
    run.start_session()
    import cache_reset
    from kol_bigdata_realtime_analytics_spark.operators.index_store import store_dir
    from kol_bigdata_realtime_analytics_spark.plans import REGISTRY
    from kol_bigdata_realtime_analytics_spark.session import TABLES

    store = store_dir(sf_dir)
    caches = cache_reset.cache_dicts()
    rng = random.Random(run.seed)

    def reset() -> None:
        if cold:
            for d in caches:
                d.clear()
            shutil.rmtree(store, ignore_errors=True)

    # warm-up pass: fills JIT and codegen, fills the artifact caches (the
    # cold workload clears them only before timed ops, so its warm-up
    # builds each shared artifact once), and captures every result for
    # the correctness gate
    reset()
    results = {}
    for name in names:
        run.describe(f"{run.workload}/warmup/{name}")
        t = time.perf_counter()
        try:
            df = REGISTRY[name].fn(run.spark, sf_dir)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 — a failing query is a failed op
            results[name] = exc
        log(f"warm-up {name}: {time.perf_counter() - t:.3f} s")
    # a second, untimed pass through the timed path (noop writes): the JIT
    # is still compiling after the first, and its work would land in timing
    for name in names:
        reset()
        try:
            REGISTRY[name].fn(run.spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — the timed passes count failures
            pass
    run.end_setup()

    # a fixed number of passes per run: one per 8 s of --seconds, rounded up
    # (a warm query_mix pass takes ~7 s)
    passes = [
        _batch_pass(run, REGISTRY, sf_dir, rng.sample(names, len(names)), reset, caches, store)
        for _ in range(-(-run.seconds // 8))
    ]

    # correctness gate, outside timing
    from correctness import Oracle

    oracle = Oracle(sf_dir, TABLES)
    try:
        for name in names:
            run.attempted += 1
            res = results[name]
            if isinstance(res, Exception):
                run.fail(f"{name}: {type(res).__name__}: {str(res)[:200]}")
                continue
            try:
                err = oracle.check_query(REGISTRY[name], *res)
            except Exception as exc:  # noqa: BLE001
                err = f"{name}: oracle error {type(exc).__name__}: {str(exc)[:200]}"
            if err:
                run.fail(err)
    finally:
        oracle.close()

    ops = [op for ps in passes for op in ps["ops"] if op.error is None]
    op_ms = [op.wall_s * 1000 for op in ops]
    run.e2e.update(
        pass_s=median([ps["wall_s"] for ps in passes]),
        op_p50_ms=median(op_ms),
        op_p90_ms=p(op_ms, 90),
        pass_cpu_s=sum(_median_cpu_pass(passes)["cpu"].values()),
    )
    if run.trace:
        _batch_trace(run, passes)


def _batch_pass(run, registry, sf_dir, order, reset, caches, store) -> dict:
    ops = []
    cpu0 = run.cpu.snapshot()
    marks0 = run.counters.mark()
    t0 = time.perf_counter()
    for name in order:
        q = registry[name]
        op = Op(name, q.fn.__module__.rsplit(".", 1)[-1])
        reset()
        run.describe(f"{run.workload}/{name}")
        before = sum(len(d) for d in caches)
        j0 = run.counters.mark()[0]
        t = op.t0 = time.perf_counter()
        try:
            df = q.fn(run.spark, sf_dir)
            tb = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            te = time.perf_counter()
            op.build_s, op.exec_s = tb - t, te - tb
            if run.trace:
                op.df = df
        except Exception as exc:  # noqa: BLE001 — a failing op is counted, not fatal
            op.error = f"{type(exc).__name__}: {str(exc)[:200]}"
            run.fail(f"{name}: {op.error}")
        op.jobs = (j0, run.counters.mark()[0])
        log(f"op {name}: build {op.build_s:.3f} s, exec {op.exec_s:.3f} s")
        op.cache_added = max(0, sum(len(d) for d in caches) - before)
        if os.path.isdir(store):
            op.store_bytes = _dir_bytes(store)
        run.attempted += 1
        ops.append(op)
    wall = time.perf_counter() - t0
    cpu = run.cpu.delta(cpu0, run.cpu.snapshot())
    ps = {"ops": ops, "wall_s": wall, "cpu": cpu, "marks": (marks0, run.counters.mark()), "t0": t0}
    if run.trace:
        ps["counts"] = run.counters.between(*ps["marks"])
    return ps


def _catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the op's own query
    execution (forces its physical plan if the write did not)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph.isDefined():
            total += ph.get().durationMs()
    return float(total)


def _batch_trace(run: Run, passes: list) -> None:
    layer = run.layer
    per_pass = []
    for ps in passes:
        m = {
            "plans.build_s": sum(op.build_s for op in ps["ops"]),
            "plans.exec_s": sum(op.exec_s for op in ps["ops"]),
            "cache.entries_added": float(sum(op.cache_added for op in ps["ops"])),
            "index_store.bytes_written": float(sum(op.store_bytes for op in ps["ops"])),
        }
        for mod in SUBMODULES:
            m[f"plans.{mod}.wall_s"] = sum(op.wall_s for op in ps["ops"] if op.module == mod)
        per_pass.append(m)
    layer.update(_mean_dicts(per_pass))
    last = passes[-1]["ops"]
    layer["catalyst.plan_ms"] = sum(_catalyst_ms(op.df) for op in last if op.df is not None)
    for ps in passes:
        for op in ps["ops"]:
            op.df = None
    run.passes = passes  # finished after the session stops (event log)


def finish_batch_trace(run: Run, per_job) -> None:
    layer_passes = []
    for i, ps in enumerate(run.passes):
        layer_passes.append(_pass_layers(ps, per_job))
        pid = run.spans.add("pass", ps["t0"], ps["t0"] + ps["wall_s"], parent=0, index=i)
        for op in ps["ops"]:
            t = op.t0
            ex = sum_jobs(per_job, *op.jobs)
            oid = run.spans.add("op", t, t + op.wall_s, parent=pid, op=op.name,
                                module=op.module, jobs=op.jobs[1] - op.jobs[0], error=op.error, **ex)
            run.spans.add("build", t, t + op.build_s, parent=oid)
            run.spans.add("exec", t + op.build_s, t + op.wall_s, parent=oid)
    run.layer.update(_mean_dicts(layer_passes))
    # CPU parts of the pass that pass_cpu_s reports, so they sum to it
    run.layer.update({f"cpu.{k}_s": v for k, v in _median_cpu_pass(run.passes)["cpu"].items()})


# --------------------------------------------------------------------------
# streaming replay
# --------------------------------------------------------------------------


def _split_points(seed: int, rows: int, files: int) -> list[int]:
    """Row offsets where files 1..files-1 start: equal widths jittered by up
    to +-40% of a width, drawn from the seed."""
    rng = random.Random(seed)
    width = rows / files
    return [int(i * width + rng.uniform(-0.4, 0.4) * width) for i in range(1, files)]


def _stage(events, cuts: list[int], stage_dir: str) -> list[str]:
    """Write one parquet file per slice, with strictly increasing mtimes so
    the file source takes them in order."""
    import pyarrow.parquet as pq

    os.makedirs(stage_dir, exist_ok=True)
    bounds = [0, *cuts, events.num_rows]
    now = time.time()
    paths = []
    for i in range(len(bounds) - 1):
        path = os.path.join(stage_dir, f"part-{i:05d}.parquet")
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (now + i, now + i))
        paths.append(path)
    return paths


def _consume(query, in_dir: str, paths: list[str], upto: int) -> None:
    """Move staged files [.. upto) into the watched dir and block until the
    stream has committed the last of them."""
    for path in paths:
        os.rename(path, os.path.join(in_dir, os.path.basename(path)))
    while True:
        query.processAllAvailable()
        last = query.lastProgress
        if last and last["sources"] and _log_offset(last["sources"][0]) >= upto - 1:
            return


def _ran_batch(progress: dict) -> bool:
    """Idle progress updates (no batch ran) carry no addBatch duration."""
    return "addBatch" in progress["durationMs"]


def _log_offset(source) -> int:
    """File-source log offset a batch ended at (its last file's index)."""
    m = re.search(r"logOffset\D*(\d+)", str(source["endOffset"]))
    return int(m.group(1)) if m else -1


def hot_path_replay(run: Run) -> None:
    import datagen
    import pyarrow.parquet as pq

    base = os.path.join(run.work, "replay")
    stage_dir, in_dir = os.path.join(base, "stage"), os.path.join(base, "in")
    snap_dir, ckpt = os.path.join(base, "snapshots"), os.path.join(base, "checkpoint")
    os.makedirs(in_dir)
    events = datagen.events_table(REPLAY_ROWS, REPLAY_USERS)
    events_path = os.path.join(base, "events.parquet")
    pq.write_table(events, events_path)
    # two timed files per second of --seconds: a warm batch takes ~0.5 s
    n_files = WARM_FILES + 2 * run.seconds
    cuts = _split_points(run.seed, REPLAY_ROWS, n_files)
    paths = _stage(events, cuts, stage_dir)

    run.start_session()
    from kol_bigdata_realtime_analytics_spark.plans.registry import (
        normalize_event_ts,
        normalize_floats,
    )
    from kol_bigdata_realtime_analytics_spark.streaming.sinks import foreach_batch_ranking_sink
    from kol_bigdata_realtime_analytics_spark.streaming.trending import scored, windowed_engagement

    spark = run.spark
    schema = spark.read.parquet(paths[0]).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in_dir)
    plan = scored(windowed_engagement(normalize_floats(normalize_event_ts(src))))
    sink_ms: dict[int, float] = {}

    def sink(batch_df, epoch_id: int) -> None:
        # one snapshot dir per epoch, so the gate can check every batch
        out = os.path.join(snap_dir, f"epoch={epoch_id}")
        t = time.perf_counter()
        foreach_batch_ranking_sink(out, "trending_score", ["window_start", "key"], k=TOP_K)(
            batch_df, epoch_id
        )
        sink_ms[epoch_id] = (time.perf_counter() - t) * 1000

    query = (
        plan.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .queryName("perfbench_replay")
        .start()
    )
    try:
        _consume(query, in_dir, paths[:WARM_FILES], WARM_FILES)
        warm = [json.loads(pr.json) for pr in query.recentProgress]
        warm_last = max(pr["batchId"] for pr in warm if _ran_batch(pr))
        run.end_setup()

        cpu0 = run.cpu.snapshot()
        marks0 = run.counters.mark()
        t0 = time.perf_counter()
        _consume(query, in_dir, paths[WARM_FILES:], n_files)
        wall = time.perf_counter() - t0
        cpu = run.cpu.delta(cpu0, run.cpu.snapshot())
        marks1 = run.counters.mark()
        progress = [json.loads(pr.json) for pr in query.recentProgress]
    finally:
        query.stop()

    batches = [pr for pr in progress if _ran_batch(pr)]
    run.progress = batches
    timed = [pr for pr in batches if pr["batchId"] > warm_last]
    with_input = [pr for pr in timed if pr["numInputRows"] > 0]
    op_ms = [pr["durationMs"]["triggerExecution"] for pr in with_input]
    run.attempted += len(with_input)
    run.e2e.update(
        pass_s=wall,
        op_p50_ms=median(op_ms),
        op_p90_ms=p(op_ms, 90),
        pass_cpu_s=sum(cpu.values()),
    )

    # correctness gate, outside timing
    rows_in = sum(pr["numInputRows"] for pr in batches)
    run.attempted += 1
    if rows_in != REPLAY_ROWS or len([b for b in batches if b["numInputRows"]]) != n_files:
        run.fail(f"replay consumed {rows_in} rows in {len(batches)} batches")
    epoch_file = {
        pr["batchId"]: _log_offset(pr["sources"][0]) for pr in batches if pr["numInputRows"] > 0
    }
    from correctness import check_replay

    run.attempted += len(batches)
    try:
        for err in check_replay(events_path, cuts, snap_dir, epoch_file, TOP_K):
            run.fail(err)
    except Exception as exc:  # noqa: BLE001
        run.fail(f"replay oracle error {type(exc).__name__}: {str(exc)[:200]}")

    if run.trace:
        _replay_trace(run, timed, with_input, sink_ms, rows_in)
        ps = {"cpu": cpu, "marks": (marks0, marks1), "wall_s": wall, "t0": t0, "batches": timed}
        ps["counts"] = run.counters.between(marks0, marks1)
        run.passes = [ps]


def _replay_trace(run, timed, with_input, sink_ms, rows_in) -> None:
    def dur(key: str) -> list[float]:
        return [float(pr["durationMs"].get(key, 0)) for pr in with_input]

    def state(pr: dict) -> dict:
        return pr["stateOperators"][0] if pr["stateOperators"] else {}

    hits = sum(state(pr).get("customMetrics", {}).get("loadedMapCacheHitCount", 0) for pr in timed)
    miss = sum(state(pr).get("customMetrics", {}).get("loadedMapCacheMissCount", 0) for pr in timed)
    layer = run.layer
    layer.update(
        {
            "sources.latest_offset_ms": median(dur("latestOffset")),
            "sources.get_batch_ms": median(dur("getBatch")),
            "streaming.planning_ms": median(dur("queryPlanning")),
            "streaming.add_batch_ms": median(dur("addBatch")),
            "streaming.add_batch_p90_ms": p(dur("addBatch"), 90),
            "streaming.sink_ms": median([sink_ms[pr["batchId"]] for pr in with_input if pr["batchId"] in sink_ms]),
            "streaming.wal_commit_ms": median(dur("walCommit")),
            "streaming.commit_offsets_ms": median(dur("commitOffsets")),
            "streaming.state_commit_ms": median([float(state(pr).get("commitTimeMs", 0)) for pr in with_input]),
            "streaming.state_rows": median([float(state(pr).get("numRowsTotal", 0)) for pr in with_input]),
            "streaming.state_rows_removed": float(sum(state(pr).get("numRowsRemoved", 0) for pr in timed)),
            "streaming.state_memory_bytes": median([float(state(pr).get("memoryUsedBytes", 0)) for pr in with_input]),
            "streaming.state_cache_hit_ratio": hits / (hits + miss) if hits + miss else 0.0,
            "streaming.rows_in": float(rows_in),
            "streaming.batches": float(len(with_input)),
            "streaming.no_data_batches": float(len(timed) - len(with_input)),
        }
    )


def finish_replay_trace(run: Run, per_job) -> None:
    ps = run.passes[0]
    layers = _pass_layers(ps, per_job)
    run.layer.update(layers)
    run.layer["streaming.tasks_per_batch"] = layers["spark.tasks"] / max(1, len(ps["batches"]))
    pid = run.spans.add("pass", ps["t0"], ps["t0"] + ps["wall_s"], parent=0)
    # progress stamps a trigger's start in wall-clock time
    wall_to_perf = time.perf_counter() - time.time()
    for pr in ps["batches"]:
        start = datetime.fromisoformat(pr["timestamp"]).timestamp() + wall_to_perf
        dur = pr["durationMs"]
        bid = run.spans.add("batch", start, start + dur["triggerExecution"] / 1000, parent=pid,
                            batch_id=pr["batchId"], rows=pr["numInputRows"])
        # the parts in the order a micro-batch runs them
        t = start
        for part in _BATCH_PARTS:
            if part in dur:
                run.spans.add(part, t, t + dur[part] / 1000, parent=bid)
                t += dur[part] / 1000


_BATCH_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


WORKLOADS = {
    "hot_path_replay": (hot_path_replay, finish_replay_trace),
    "query_mix": (lambda run: batch_workload(run, MIX_QUERIES, cold=False), finish_batch_trace),
    "index_build_cold": (lambda run: batch_workload(run, INDEX_QUERIES, cold=True), finish_batch_trace),
}


def finish_trace(run: Run) -> None:
    """Event-log attribution and spans; runs after the session stopped."""
    per_job = job_metrics(os.path.join(run.work, "eventlog"))
    WORKLOADS[run.workload][1](run, per_job)
