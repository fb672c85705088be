"""``cdc_pipeline``: the paper's system, in the shape of the reference's
``main()``.

Two ``cdc_envelope`` topics (employees, activities) each hold a fixed
backlog of :data:`BACKLOG_ROWS` rows, read :data:`ROWS_PER_BATCH` per
micro-batch with the default trigger (as fast as the engine drains).
Four queries run concurrently:

* hourly and daily watermarked aggregations of the enriched
  activities into update-mode memory sinks;
* the enriched activities into an append-mode memory sink;
* the enriched employees upserted into a ``LakeTable`` keyed on
  ``id``. The source cycles 499 employee ids, so most writes are real
  upserts.

A pass ends when every query has committed the final offset. The
measured pass is the first in the process, so its first micro-batch
per query carries the JVM's warm-up.
"""

from __future__ import annotations

import datetime as dt
import importlib
import json
import os
import re
import time
from dataclasses import dataclass, field

from harness import PKG, quantile

ROWS_PER_BATCH = 1000
BACKLOG_ROWS = 4000
DRAIN_TIMEOUT_S = 120
QUERIES = ("hourly", "daily", "activities", "lake")
_TOPICS = {
    "employees": "employee-server.public.employees",
    "activities": "employee-server.public.employee_activities",
}


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def _epoch_s(iso: str) -> float:
    stamp = dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return stamp.replace(tzinfo=dt.timezone.utc).timestamp()


def _end_offset(progress: dict) -> int:
    # the Python source reports its offset as a dict repr, e.g. "{'offset': 500}"
    return int(re.search(r"\d+", str(progress["sources"][0]["endOffset"])).group())


def _stream(spark, table: str, backlog: int):
    return (
        spark.readStream.format("cdc_envelope")
        .option("topic", _TOPICS[table])
        .option("table", table)
        .option("rowsPerBatch", ROWS_PER_BATCH)
        .option("maxRows", backlog)
        .load()
    )


def _batch(spark, table: str):
    return (
        spark.read.format("cdc_envelope")
        .option("topic", _TOPICS[table])
        .option("table", table)
        .option("rows", BACKLOG_ROWS)
        .option("numPartitions", os.environ["SPARK_GRAFT_CPUS"])
        .load()
    )


def timed_lake_class():
    """``LakeTable`` whose ``upsert_batch`` calls are timed."""
    lake = _mod("streaming.lake")

    @dataclass
    class TimedLakeTable(lake.LakeTable):
        upsert_s: list = field(default_factory=list)

        def upsert_batch(self, batch, spark, delete_col=None):
            t0 = time.perf_counter()
            super().upsert_batch(batch, spark, delete_col=delete_col)
            self.upsert_s.append(time.perf_counter() - t0)

    return TimedLakeTable


@dataclass
class PassResult:
    tag: str
    t0: float  # epoch seconds just before the first query started
    backlog: int
    progress: dict[str, list[dict]]  # each query's data micro-batches, in order
    lake: object
    pipeline: object

    @property
    def batch_ms(self) -> list[float]:
        return [p["durationMs"]["triggerExecution"]
                for batches in self.progress.values() for p in batches]

    def seconds_to(self, rows: int) -> float:
        """From the start of the pass until every query has committed
        the micro-batch that reached offset ``rows``."""
        ends = []
        for batches in self.progress.values():
            p = next(p for p in batches if _end_offset(p) >= rows)
            ends.append(_epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3)
        return max(ends) - self.t0

    @property
    def wall_s(self) -> float:
        return self.seconds_to(self.backlog)


def run_pass(spark, root: str, tag: str, lake_cls=None,
             backlog: int = BACKLOG_ROWS) -> PassResult:
    """Drain a ``backlog`` of rows per topic once, through fresh
    checkpoints and sinks. The queries are left running (idle) for
    the caller to check and stop."""
    pipeline_mod, lake_mod, sinks = (
        _mod("streaming.pipeline"), _mod("streaming.lake"), _mod("streaming.sinks")
    )
    pipe = pipeline_mod.CdcPipeline(spark, checkpoint_root=os.path.join(root, tag))
    emp = pipe.employees(_stream(spark, "employees", backlog))
    act = pipe.activities(_stream(spark, "activities", backlog))
    lake = (lake_cls or lake_mod.LakeTable)(path=os.path.join(root, tag, "lake", "employees"))
    starters = {
        "hourly": lambda: sinks.write_memory(
            pipe.hourly_aggregation(act), f"hourly_{tag}",
            output_mode="update", available_now=False,
        ),
        "daily": lambda: sinks.write_memory(
            pipe.daily_aggregation(act), f"daily_{tag}",
            output_mode="update", available_now=False,
        ),
        "activities": lambda: sinks.write_memory(
            act, f"activities_{tag}", available_now=False
        ),
        # the engine's default is a 2-minute trigger: the lake query
        # would sit idle for the whole pass
        "lake": lambda: lake_mod.write_stream_to_lake(
            emp, lake, checkpoint_root=pipe.checkpoint_root, processing_time=None
        ),
    }
    t0 = time.time()
    for name in QUERIES:
        pipe.orchestrator.register(name, starters[name]())
    deadline = time.monotonic() + DRAIN_TIMEOUT_S
    pending = set(QUERIES)
    while pending:
        failed = pipe.orchestrator.failed()
        if failed:
            raise RuntimeError(f"streaming query failed: {failed}")
        if time.monotonic() > deadline:
            raise TimeoutError(f"{sorted(pending)} did not drain in {DRAIN_TIMEOUT_S} s")
        for name in list(pending):
            last = pipe.orchestrator.queries[name].lastProgress
            if last is not None and _end_offset(json.loads(last.json)) >= backlog:
                pending.discard(name)
        # coarse polling: the pass's end comes from progress timestamps
        time.sleep(0.25)
    progress = {
        name: [p for p in map(json.loads, (x.json for x in q.recentProgress))
               if p.get("numInputRows", 0) > 0]
        for name, q in pipe.orchestrator.queries.items()
    }
    return PassResult(tag, t0, backlog, progress, lake, pipe)


def summarize(res: PassResult) -> dict[str, float]:
    wall = res.wall_s
    return {
        "wall_s": wall,
        "cold_wall_s": res.seconds_to(ROWS_PER_BATCH),
        "rows_per_s": 2 * res.backlog / wall,
        "batch_p50_ms": quantile(res.batch_ms, 0.5),
    }


# -- output checks ----------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _final_rows(rows, key_cols):
    """Last emitted row per key of an update-mode sink (sink order is
    batch order)."""
    out = {}
    for r in rows:
        d = r.asDict()
        out[tuple(d[k] for k in key_cols)] = {k: _norm(v) for k, v in d.items()}
    return out


def check(spark, res: PassResult) -> list[tuple[str, str | None]]:
    """(check name, failure reason or None) for each output check. The
    expected outputs come from the batch ``cdc_envelope`` reader over
    the same offsets, run through the same decode, enrich and
    aggregation functions."""
    pipe = res.pipeline
    act = pipe.activities(_batch(spark, "activities")).persist()
    emp = pipe.employees(_batch(spark, "employees")).persist()
    try:
        return _check(spark, res, act, emp)
    finally:
        act.unpersist()
        emp.unpersist()


def _check(spark, res: PassResult, act, emp) -> list[tuple[str, str | None]]:
    from pyspark.sql import functions as F

    pipe = res.pipeline
    results = []

    hourly_keys = ("window_start", "window_end", "employee_id", "activity_type")
    want = _final_rows(pipe.hourly_aggregation(act).collect(), hourly_keys)
    got = _final_rows(spark.table(f"hourly_{res.tag}").collect(), hourly_keys)
    results.append(("hourly_windows", _diff(want, got)))

    daily_keys = ("window_start", "activity_type", "device_category")
    approx = (
        act.withColumn("_ts", F.col("activity_timestamp").cast("timestamp"))
        .groupBy(F.window("_ts", "1 day").alias("w"), "activity_type", "device_category")
        .agg(F.approx_count_distinct("employee_id").alias("unique_employees"))
        .select(F.col("w.start").alias("window_start"), "activity_type",
                "device_category", "unique_employees")
    )
    daily = pipe.daily_aggregation(act).drop("unique_employees").join(approx, list(daily_keys))
    want = _final_rows(daily.collect(), daily_keys)
    got = _final_rows(spark.table(f"daily_{res.tag}").collect(), daily_keys)
    results.append(("daily_windows", _diff(want, got)))

    want_ids = sorted(r.id for r in act.select("id").collect())
    got_ids = sorted(r.id for r in spark.table(f"activities_{res.tag}").select("id").collect())
    results.append(("enriched_activities", None if want_ids == got_ids else
                    f"{len(got_ids)} rows, want {len(want_ids)}"))

    results.append(("lake_upserts", _check_lake(spark, res, emp)))
    return results


def _diff(want: dict, got: dict) -> str | None:
    if want == got:
        return None
    bad = [k for k in want.keys() | got.keys() if want.get(k) != got.get(k)]
    return f"{len(bad)} of {len(want)} keys differ, e.g. {sorted(map(str, bad))[:1]}"


def _check_lake(spark, res: PassResult, emp) -> str | None:
    """The lake keeps, per id, a version from the newest micro-batch
    that carried the id. Its precombine field is the batch's processing
    time, so among several versions of one id inside that batch any
    one may win; the check accepts each of them."""
    cols = ["id", "name", "email", "department", "department_category",
            "employee_level", "op", "event_timestamp"]
    raw = _batch(spark, "employees")
    # decoding drops the source offset; the event time maps back to it
    offset_of = {r.timestamp: r.offset for r in raw.select("offset", "timestamp").collect()}
    versions: dict[int, tuple[int, set]] = {}
    for r in emp.select(*cols).collect():
        row = tuple(r)
        b = offset_of[r.event_timestamp] // ROWS_PER_BATCH
        best = versions.get(r.id)
        if best is None or b > best[0]:
            versions[r.id] = (b, {row})
        elif b == best[0]:
            best[1].add(row)
    latest: dict[int, tuple] = {}
    for r in res.lake.read(spark).select(*cols, "processing_timestamp").collect():
        d = r.asDict()
        if d["id"] not in latest or d["processing_timestamp"] > latest[d["id"]][0]:
            latest[d["id"]] = (d["processing_timestamp"], tuple(d[c] for c in cols))
    if latest.keys() != versions.keys():
        return f"lake holds {len(latest)} ids, want {len(versions)}"
    stale = [i for i, (_, row) in latest.items() if row not in versions[i][1]]
    return f"{len(stale)} ids hold a stale version" if stale else None


# -- per-layer numbers ------------------------------------------------------


def streaming_layers(progress: list[dict]) -> dict[str, float]:
    """Totals over every data micro-batch of every query."""
    phases = {
        "streaming.latest_offset_ms": "latestOffset",
        "streaming.get_batch_ms": "getBatch",
        "streaming.query_planning_ms": "queryPlanning",
        "streaming.add_batch_ms": "addBatch",
        "streaming.wal_commit_ms": "walCommit",
        "streaming.commit_offsets_ms": "commitOffsets",
    }
    out = {k: float(sum(p["durationMs"].get(v, 0) for p in progress)) for k, v in phases.items()}
    ops = [op for p in progress for op in p.get("stateOperators", ())]
    out["streaming.state_commit_ms"] = float(sum(op.get("commitTimeMs", 0) for op in ops))
    out["streaming.state_partitions"] = float(
        max((op.get("numStateStoreInstances", 0) for op in ops), default=0)
    )
    final: dict[str, dict] = {}
    for p in progress:  # progress arrives in batch order per query
        final[p["id"]] = p
    last_ops = [op for p in final.values() for op in p.get("stateOperators", ())]
    out["streaming.state_rows"] = float(sum(op.get("numRowsTotal", 0) for op in last_ops))
    out["streaming.state_memory_bytes"] = float(
        sum(op.get("memoryUsedBytes", 0) for op in last_ops)
    )
    return out


def prefix_layers(spark, pipe, reps: int = 3) -> dict[str, float]:
    """Self time of each layer, from batch jobs over the same activity
    rows that stop after read, decode, enrich and aggregate."""
    import statistics

    cdc = _mod("sources.cdc")
    schemas = _mod("schemas")
    raw = _batch(spark, "activities")
    decoded = cdc.decode_cdc(raw, schemas.ACTIVITY_SCHEMA)
    enriched = _mod("operators.enrich").enrich_activities(decoded)
    stages = [
        [raw], [decoded], [enriched],
        [pipe.hourly_aggregation(enriched), pipe.daily_aggregation(enriched)],
    ]

    def timed(frames) -> float:
        t0 = time.perf_counter()
        for df in frames:
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    t = [statistics.median(timed(s) for _ in range(reps)) for s in stages]
    return {
        "sources.read_s": t[0],
        "sources.decode_s": t[1] - t[0],
        "operators.enrich_s": t[2] - t[1],
        # each aggregation job re-runs the enriched prefix
        "operators.window_agg_s": t[3] - 2 * t[2],
    }
