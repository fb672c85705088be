"""Session lifecycle and statistics shared by the workloads.

Every path the engine or Spark writes to (temp files, shuffle and
state dirs, warehouse, event log, shared-leg cache) is placed under
one per-run directory inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

PKG = "streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark"
SET_UPS = 3  # set-ups per run; setup_s is their median


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    data = sorted(values)
    if len(data) == 1:
        return data[0]
    pos = q * (len(data) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(data) - 1)
    return data[lo] + (data[hi] - data[lo]) * (pos - lo)


def prepare_env(root: str, run_dir: str) -> None:
    """Environment the session and its Python workers inherit. Must run
    before pyspark is imported."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # local[nproc]: the engine's own default assumes a 32-core box
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the package by name; without the checkout
    # on their path they die with ModuleNotFoundError
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if root not in sys.path:
        sys.path.insert(0, root)


class Engine:
    """Starts, restarts and finally shuts down the engine's session."""

    def __init__(self, run_dir: str) -> None:
        self.run_dir = run_dir
        self.spark = None
        self.session = importlib.import_module(f"{PKG}.session")
        self.cdc_source = importlib.import_module(f"{PKG}.sources.cdc_source")

    def conf(self, extra: dict[str, str] | None = None) -> dict[str, str]:
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        conf.update(extra or {})
        return conf

    def start(self, master: str | None = None, extra: dict[str, str] | None = None):
        """``get_session`` plus the DataSource registration; returns the
        seconds spent in ``get_session``."""
        t0 = time.perf_counter()
        self.spark = self.session.get_session(
            "perfbench", master=master, extra_conf=self.conf(extra)
        )
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.dataSource.register(self.cdc_source.CdcEnvelopeDataSource)
        return took

    def restart(self, master: str | None = None, extra: dict[str, str] | None = None):
        self.stop()
        if master is None:
            master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
        return self.start(master, extra)

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.session.stop_session()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def import_registry(fresh: bool):
    """Import the query registry; ``fresh`` drops it from the module
    cache first so the import runs again as in a new process."""
    name = f"{PKG}.plans.registry"
    if fresh:
        plans = sys.modules[f"{PKG}.plans"]
        for mod in [m for m in sys.modules if m.startswith(name)]:
            del sys.modules[mod]
            # `from . import registryN` resolves through the package attribute
            plans.__dict__.pop(mod.rsplit(".", 1)[1], None)
    t0 = time.perf_counter()
    registry = importlib.import_module(name)
    return registry, time.perf_counter() - t0


def set_up(engine: Engine, process_start: float):
    """Set the engine up :data:`SET_UPS` times: session, DataSource,
    registry. The first set-up runs from process start and launches
    the JVM; later ones restart the session inside it and re-import
    the registry. Returns the registry and the timings."""
    totals, starts, imports = [], [], []
    registry = None
    for i in range(SET_UPS):
        t0 = process_start if i == 0 else time.perf_counter()
        if i:
            engine.stop()
        starts.append(engine.start())
        registry, took = import_registry(fresh=i > 0)
        imports.append(took)
        totals.append(time.perf_counter() - t0)
    return registry, {
        "setup_s": statistics.median(totals),
        "session.first_setup_s": totals[0],
        "session.start_s": statistics.median(starts),
        "plans.registry_import_s": statistics.median(imports),
    }
