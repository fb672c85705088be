"""Benchmark of the engine on this machine.

    python3 perfbench/run.py --workload cdc_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run starts the engine in this
process, measures one workload and checks its outputs. The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (see README.md). A line
before it records the machine and the per-pass figures.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import PKG, Engine, prepare_env, quantile, set_up  # noqa: E402

WORKLOADS = ("cdc_pipeline", "catalog_shared_legs")
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cold_wall_s": "s",
    "rows_per_s": "1/s",
    "batch_p50_ms": "ms",
}
PER_LAYER = {
    "session.first_setup_s": "s",
    "session.start_s": "s",
    "session.shuffle_partitions": "count",
    "plans.registry_import_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.leg_hits": "count",
    "plans.leg_misses": "count",
    "plans.leg_hit_ratio": "ratio",
    "sources.read_s": "s",
    "sources.decode_s": "s",
    "operators.enrich_s": "s",
    "operators.window_agg_s": "s",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_partitions": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.lake_upsert_s": "s",
    "streaming.lake_upserts": "count",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_time_s": "s",
    "exec.gc_s": "s",
    "exec.scan_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_init_s": "s",
    "exec.python_run_s": "s",
    "exec.python_bytes_sent": "bytes",
    "exec.peak_rss_mb": "MB",
    "exec.speedup_vs_1core": "ratio",
    "trace.overhead_ratio": "ratio",
}


class Run:
    """What one run measured and checked."""

    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.attempted = 0
        self.failed = 0
        self.details: dict[str, object] = {}

    def phase(self, name: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.details.setdefault("phase_end_s", {})[name] = round(
            time.perf_counter() - PROCESS_START, 2
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def record_checks(self, results) -> None:
        self.attempted += len(results)
        self.failed += sum(1 for _, err in results if err)
        self.details["checks"] = {name: err or "ok" for name, err in results}


def _stop_pass(res) -> None:
    """Stop the pass's queries together; each stop waits for its
    query's thread to end."""
    queries = list(res.pipeline.orchestrator.queries.values())
    with ThreadPoolExecutor(len(queries)) as pool:
        list(pool.map(lambda q: q.stop(), queries))


def _pass_details(*passes) -> dict:
    return {p.tag: {"wall_s": p.wall_s, "batches": len(p.batch_ms),
                    "batch_p90_ms": quantile(p.batch_ms, 0.9)} for p in passes}


def run_cdc_pipeline(run: Run, engine: Engine, sampler) -> None:
    import pipeline as pl
    import tracing

    root = run.path("pipeline")
    main = pl.run_pass(engine.spark, root, "main")
    sampler.stop()
    run.phase("main")
    run.metrics.update(pl.summarize(main))
    run.attempted += len(main.batch_ms)
    run.details["passes"] = _pass_details(main)
    run.record_checks(pl.check(engine.spark, main))
    _stop_pass(main)
    run.phase("checks")
    if not run.args.trace:
        return
    # traced and untraced passes compared with the JVM equally warm
    warm = pl.run_pass(engine.spark, root, "warm")
    _stop_pass(warm)
    log_dir = run.path("eventlog")
    os.makedirs(log_dir)
    engine.restart(extra=tracing.event_log_conf(log_dir))
    recorder = tracing.ProgressRecorder()
    engine.spark.streams.addListener(recorder)
    lo = time.time() * 1e3
    traced = pl.run_pass(engine.spark, root, "traced", lake_cls=pl.timed_lake_class())
    hi = time.time() * 1e3
    _stop_pass(traced)
    run.phase("traced")
    run.layers.update(pl.streaming_layers(
        [p for p in recorder.progress if p.get("numInputRows", 0) > 0]
    ))
    run.layers["streaming.lake_upsert_s"] = sum(traced.lake.upsert_s)
    run.layers["streaming.lake_upserts"] = float(len(traced.lake.upsert_s))
    run.layers["session.shuffle_partitions"] = float(
        engine.spark.conf.get("spark.sql.shuffle.partitions")
    )
    run.layers.update(pl.prefix_layers(engine.spark, traced.pipeline))
    run.layers["trace.overhead_ratio"] = traced.wall_s / warm.wall_s
    # the single-core reference drains the first two micro-batches per query
    rows = 2 * pl.ROWS_PER_BATCH
    engine.restart(master="local[1]")
    one = pl.run_pass(engine.spark, root, "one_core", backlog=rows)
    _stop_pass(one)
    run.phase("one_core")
    run.layers["exec.speedup_vs_1core"] = one.wall_s / warm.seconds_to(rows)
    run.layers.update(tracing.parse_event_log(log_dir, (lo, hi)))
    run.attempted += sum(len(p.batch_ms) for p in (warm, traced, one))
    run.details["passes"].update(_pass_details(warm, traced, one))


def run_catalog_shared_legs(run: Run, engine: Engine, sampler, registry) -> None:
    import catalog as cat
    import tracing

    workload = cat.Catalog(registry, run.path("data"))
    cold = workload.cold_pass(engine.spark)
    run.phase("cold")
    # a single warm pass is still in the JIT's warm-up (each pass runs
    # faster than the one before); the figures take per-query medians
    # over several passes
    warm = []
    t0 = time.perf_counter()
    while len(warm) < cat.MIN_WARM_PASSES or time.perf_counter() - t0 < run.args.seconds:
        warm.append(workload.run_pass(engine.spark))
    sampler.stop()
    run.metrics.update(cat.summarize(cold, warm))
    run.attempted += len(cold) + sum(len(p) for p in warm)
    run.details["passes"] = {
        "cold": {r.name: round(r.wall_s, 3) for r in cold},
        **{f"warm{i}": {r.name: round(r.wall_s, 3) for r in p} for i, p in enumerate(warm)},
    }
    run.phase("warm")
    run.record_checks(workload.check({"cold": cold, "warm": warm[-1]}))
    run.phase("checks")
    if not run.args.trace:
        return
    log_dir = run.path("eventlog")
    os.makedirs(log_dir)
    engine.restart(extra=tracing.event_log_conf(log_dir))
    # the traced cycle repeats cold and warm: Python workers run only
    # while the legs are built
    lo = time.time() * 1e3
    traced_cold = workload.cold_pass(engine.spark)
    traced = workload.run_pass(engine.spark)
    hi = time.time() * 1e3
    run.phase("traced")
    run.attempted += len(traced_cold) + len(traced)
    traced_wall = sum(r.wall_s for r in traced)
    run.layers.update(cat.plan_layers(traced))
    legs = cat.plan_layers(traced_cold + traced)
    for key in ("plans.leg_hits", "plans.leg_misses", "plans.leg_hit_ratio"):
        run.layers[key] = legs[key]
    run.layers["session.shuffle_partitions"] = float(
        engine.spark.conf.get("spark.sql.shuffle.partitions")
    )
    run.layers["trace.overhead_ratio"] = traced_wall / run.metrics["wall_s"]
    engine.restart(master="local[1]")
    one = workload.run_pass(engine.spark)
    run.phase("one_core")
    run.attempted += len(one)
    run.layers["exec.speedup_vs_1core"] = sum(r.wall_s for r in one) / run.metrics["wall_s"]
    run.layers.update(tracing.parse_event_log(log_dir, (lo, hi)))
    run.details["passes"]["traced_cold"] = {r.name: round(r.wall_s, 3) for r in traced_cold}
    run.details["passes"]["traced"] = {r.name: round(r.wall_s, 3) for r in traced}
    run.details["passes"]["one_core"] = {r.name: round(r.wall_s, 3) for r in one}


def _machine() -> dict[str, object]:
    import pyspark

    with open("/proc/meminfo", encoding="utf-8") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def measure(run: Run) -> None:
    import tracing

    start = PROCESS_START
    if run.args.workload == "catalog_shared_legs":
        import catalog as cat
        import datagen

        run.details["input_rows"] = datagen.write_catalog_tables(
            run.path("data"), run.args.seed, cat.SCALE
        )
        start = time.perf_counter()  # inputs are the benchmark's, not set-up
    sampler = tracing.RssSampler().start()
    engine = Engine(run.run_dir)
    try:
        registry, timings = set_up(engine, start)
        run.phase("set_up")
        run.metrics["setup_s"] = timings.pop("setup_s")
        run.layers.update(timings)
        if run.args.workload == "cdc_pipeline":
            run_cdc_pipeline(run, engine, sampler)
        else:
            run_catalog_shared_legs(run, engine, sampler, registry)
    finally:
        sampler.stop()
        run.layers["exec.peak_rss_mb"] = sampler.peak / 2**20
        workers = tracing.descendants(os.getpid())
        engine.shutdown()
        _wait_gone(workers)
        run.phase("shutdown")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".bench_run", str(os.getpid()))
    prepare_env(ROOT, run_dir)
    run = Run(args, run_dir)
    status = 0
    try:
        measure(run)
    except Exception:  # noqa: BLE001 - a failed run still reports what it attempted
        traceback.print_exc()
        run.attempted += 1
        run.failed += 1
        status = 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is using it
    wanted = PER_LAYER if args.trace else END_TO_END
    source = run.layers if args.trace else run.metrics
    print(json.dumps({"machine": _machine(), "workload": args.workload, "seed": args.seed,
                      "details": run.details}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(source.get(k, 0.0)), "unit": u}
                    for k, u in wanted.items()},
    }))
    return status


if __name__ == "__main__":
    sys.exit(main())
