"""``catalog_shared_legs``: the registry queries served from the
shared-leg cache, one query at a time.

Eight ``CACHE_BACKED_QUERIES``: the dedup family (one mined 3-gram
pair leg) and the recommender-evaluation family (one scored leg pair),
over seeded ``documents`` and ``lineitem`` tables. The cold pass runs
right after ``clear_shared_leg_cache()`` and builds the legs; warm
passes find every leg in the cache. A query's time is its builder call
plus collecting its rows, which the output checks then compare with
the query's DuckDB oracle.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

from harness import quantile

QUERIES = (
    "ngram_jaccard_pairs",
    "near_dup_clusters",
    "near_dup_canonical_docs",
    "dedup_keep_best_documents",
    "dedup_survivorship_audit",
    "reco_precision_at_k",
    "reco_mrr_at_k",
    "reco_ndcg_at_k",
)
SCALE = 0.1  # of the sf0.1 fixture: 500 documents, ~60,000 line items
MIN_WARM_PASSES = 3  # the reported figures are per-query medians over these


@dataclass
class QueryRun:
    name: str
    build_s: float
    exec_s: float
    legs_built: int
    input_rows: int
    result: list = field(repr=False)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


class Catalog:
    def __init__(self, registry, data_dir: str) -> None:
        self.registry = registry
        self.data_dir = data_dir
        self.by_name = {q.name: q for q in registry.REGISTRY}
        missing = [n for n in QUERIES if n not in self.by_name]
        if missing:
            raise KeyError(f"registry lacks {missing}")
        self._footer_rows: dict[str, int] = {}

    def _leg_entries(self) -> int:
        root = self.registry._shared_leg_cache_root()
        return sum(os.path.isdir(os.path.join(root, e)) for e in os.listdir(root))

    def _input_rows(self, df) -> int:
        import pyarrow.parquet as pq

        total = 0
        for uri in df.inputFiles():
            path = uri[len("file:"):] if uri.startswith("file:") else uri
            if path not in self._footer_rows:
                self._footer_rows[path] = pq.read_metadata(path).num_rows
            total += self._footer_rows[path]
        return total

    def run_pass(self, spark) -> list[QueryRun]:
        runs = []
        for name in QUERIES:
            before = self._leg_entries()
            t0 = time.perf_counter()
            df = self.by_name[name].builder(spark, self.data_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            result = _normalize(df.columns, [tuple(r) for r in rows])
            runs.append(QueryRun(name, t1 - t0, t2 - t1, self._leg_entries() - before,
                                 self._input_rows(df), result))
        return runs

    def cold_pass(self, spark) -> list[QueryRun]:
        self.registry.clear_shared_leg_cache()
        return self.run_pass(spark)

    def check(self, passes: dict[str, list[QueryRun]]) -> list[tuple[str, str | None]]:
        """Each pass's rows of each query against the query's DuckDB
        oracle over the same parquet files: same columns, same rows in
        any order, floats compared to 6 significant digits."""
        import duckdb

        con = duckdb.connect()
        for table in ("documents", "lineitem"):
            path = os.path.join(self.data_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        want = {}
        for name in QUERIES:
            sql = self.registry.resolve_oracle(self.by_name[name])
            if sql is not None:
                res = con.execute(sql)
                want[name] = _normalize([d[0] for d in res.description], res.fetchall())
        con.close()
        results = []
        for tag, runs in passes.items():
            for r in runs:
                if r.name not in want:
                    err = "no oracle"
                elif r.result != want[r.name]:
                    err = _mismatch(r.result, want[r.name])
                else:
                    err = None
                results.append((f"{tag}.{r.name}", err))
        return results


def _cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [sorted(cols)] + sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def _mismatch(got, want) -> str:
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got) != len(want):
        return f"{len(got) - 1} rows, oracle {len(want) - 1}"
    return "values differ"


def summarize(cold: list[QueryRun], warm: list[list[QueryRun]]) -> dict[str, float]:
    # each query's median over the warm passes: a query that runs slow in
    # one pass (the JIT is still compiling the warm path) does not move
    # the figures. Pooling every pass's latencies instead would put the
    # p50 on the gap between the reco and dedup families.
    latencies = [quantile([p[i].wall_s for p in warm], 0.5) for i in range(len(QUERIES))]
    wall = sum(latencies)
    rows = quantile([sum(r.input_rows for r in p) for p in warm], 0.5)
    return {
        "wall_s": wall,
        "cold_wall_s": sum(r.wall_s for r in cold),
        "rows_per_s": rows / wall,
        "batch_p50_ms": quantile(latencies, 0.5) * 1e3,
    }


def plan_layers(runs: list[QueryRun]) -> dict[str, float]:
    built = sum(r.legs_built for r in runs)
    hits = sum(1 for r in runs if r.legs_built == 0)
    return {
        "plans.build_s": sum(r.build_s for r in runs),
        "plans.exec_s": sum(r.exec_s for r in runs),
        "plans.leg_hits": float(hits),
        "plans.leg_misses": float(built),
        "plans.leg_hit_ratio": hits / max(1, hits + built),
    }
