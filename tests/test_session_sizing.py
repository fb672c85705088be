"""Session sizing comes from the machine: shuffle (and so state-store)
partitions from the core count, driver heap from physical RAM."""

from __future__ import annotations

import uuid

import pytest

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import get_session
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.sources.cdc_source import (
    CdcEnvelopeDataSource,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.streaming.pipeline import (
    CdcPipeline,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.streaming.sinks import (
    write_memory,
)

KEY = "spark.sql.shuffle.partitions"


def _mem_total_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:")) * 1024


def _jvm_bytes(size: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    size = size.strip().lower()
    if size[-1] in units:
        return int(size[:-1]) * units[size[-1]]
    return int(size)


@pytest.fixture()
def default_sized(spark):
    """The shared session, re-fetched through ``get_session`` with no
    ``shuffle_partitions``, after setting the conf to a value that is
    not the core count."""
    before = spark.conf.get(KEY)
    spark.conf.set(KEY, "7")
    try:
        yield get_session("engine-tests")
    finally:
        spark.conf.set(KEY, before)


def test_shuffle_partitions_default_to_core_count(spark, default_sized):
    assert default_sized is spark
    assert int(spark.conf.get(KEY)) == spark.sparkContext.defaultParallelism


def test_explicit_shuffle_partitions_win(spark):
    before = spark.conf.get(KEY)
    try:
        assert get_session("engine-tests", shuffle_partitions=3).conf.get(KEY) == "3"
        got = get_session("engine-tests", shuffle_partitions=3, extra_conf={KEY: "5"})
        assert got.conf.get(KEY) == "5"
    finally:
        spark.conf.set(KEY, before)


def test_driver_memory_within_physical_ram(spark):
    ram = _mem_total_bytes()
    asked = spark.sparkContext.getConf().get("spark.driver.memory")
    assert asked is not None and _jvm_bytes(asked) <= ram
    assert spark._jvm.java.lang.Runtime.getRuntime().maxMemory() <= ram


def test_pipeline_state_stores_follow_core_count(default_sized, tmp_path):
    """The hourly window's state store runs one instance per core: a
    tuned partition constant in the session would show up here."""
    spark = default_sized
    spark.dataSource.register(CdcEnvelopeDataSource)
    raw = (
        spark.readStream.format("cdc_envelope")
        .option("topic", "employee-server.public.employee_activities")
        .option("table", "activities")
        .option("rowsPerBatch", 200)
        .option("maxRows", 400)
        .load()
    )
    pipe = CdcPipeline(spark, checkpoint_root=str(tmp_path / "ckpt"))
    hourly = pipe.hourly_aggregation(pipe.activities(raw))
    q = write_memory(
        hourly, f"sizing_hourly_{uuid.uuid4().hex[:8]}", output_mode="update",
        available_now=False,
    )
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert progress
    cores = spark.sparkContext.defaultParallelism
    for p in progress:
        assert p["stateOperators"][0]["numStateStoreInstances"] == cores
