"""Upsert-lake semantics (Hudi COW emulation — SURVEY §7 M3)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.streaming.lake import (
    LakeTable,
)


def _rows(spark, data):
    return spark.createDataFrame(
        data, "id int, val string, processing_timestamp timestamp, processing_date date"
    )


def test_upsert_latest_precombine_wins(spark, tmp_path):
    import datetime as dt

    d = dt.date(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t2 = dt.datetime(2024, 1, 1, 11, 0, 0)
    table = LakeTable(path=str(tmp_path / "t"))

    table.upsert_batch(_rows(spark, [(1, "old", t1, d), (2, "keep", t1, d)]), spark)
    table.upsert_batch(_rows(spark, [(1, "new", t2, d)]), spark)

    got = {r.id: r.val for r in table.read(spark).collect()}
    assert got == {1: "new", 2: "keep"}


def test_upsert_within_batch_dedupe(spark, tmp_path):
    import datetime as dt

    d = dt.date(2024, 1, 2)
    t1 = dt.datetime(2024, 1, 2, 9, 0, 0)
    t2 = dt.datetime(2024, 1, 2, 9, 30, 0)
    table = LakeTable(path=str(tmp_path / "t2"))
    table.upsert_batch(_rows(spark, [(1, "a", t1, d), (1, "b", t2, d)]), spark)
    got = [r.val for r in table.read(spark).collect()]
    assert got == ["b"]  # precombine max wins inside one batch too


def test_upsert_within_batch_tie_newest_event_wins(spark, tmp_path):
    """Two CDC versions of one id in one micro-batch share the batch's
    processing time; the later ``event_timestamp`` must survive, in
    either arrival order."""
    import datetime as dt

    d = dt.date(2024, 1, 3)
    batch_ts = dt.datetime(2024, 1, 3, 12, 0, 0)
    older = (1, "older", batch_ts, d, dt.datetime(2024, 1, 3, 11, 0, 0))
    newer = (1, "newer", batch_ts, d, dt.datetime(2024, 1, 3, 11, 0, 1))
    for i, rows in enumerate(([older, newer], [newer, older])):
        table = LakeTable(path=str(tmp_path / f"tie{i}"))
        table.upsert_batch(
            spark.createDataFrame(
                rows,
                "id int, val string, processing_timestamp timestamp, "
                "processing_date date, event_timestamp timestamp",
            ),
            spark,
        )
        assert [r.val for r in table.read(spark).collect()] == ["newer"]


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    import datetime as dt

    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    t9 = dt.datetime(2024, 1, 3, 10, 0, 0)
    table = LakeTable(path=str(tmp_path / "t3"))
    table.upsert_batch(
        _rows(spark, [(1, "p1", t, d1), (2, "p2", t, d2)]), spark
    )
    # second batch touches only partition d2
    table.upsert_batch(_rows(spark, [(2, "p2-new", t9, d2)]), spark)
    got = {r.id: r.val for r in table.read(spark).collect()}
    assert got == {1: "p1", 2: "p2-new"}
    # both partition dirs still present
    parts = {p.split("=")[-1] for p in glob.glob(str(tmp_path / "t3" / "*=*"))}
    assert parts == {"2024-01-01", "2024-01-02"}


def test_compaction_reduces_files(spark, tmp_path):
    import datetime as dt

    d = dt.date(2024, 1, 1)
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    table = LakeTable(path=str(tmp_path / "t4"))
    big = _rows(
        spark, [(i, f"v{i}", t, d) for i in range(50)]
    ).repartition(8)
    table.upsert_batch(big, spark)
    before = len(glob.glob(str(tmp_path / "t4" / "*" / "*.parquet")))
    table.compact(spark, target_files_per_partition=1)
    after = len(glob.glob(str(tmp_path / "t4" / "*" / "*.parquet")))
    assert after <= before and after == 1
    assert table.read(spark).count() == 50


def test_upsert_schema_evolution_across_batches(spark, tmp_path):
    """A later batch introduces a column (additive evolution): old
    partitions read as typed nulls via mergeSchema; an old-schema
    batch arriving after the evolution still upserts cleanly."""
    import datetime as dt

    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    t1 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t2 = dt.datetime(2024, 1, 2, 10, 0, 0)
    t3 = dt.datetime(2024, 1, 3, 10, 0, 0)
    table = LakeTable(path=str(tmp_path / "evo"))

    table.upsert_batch(_rows(spark, [(1, "a", t1, d1)]), spark)
    evolved = spark.createDataFrame(
        [(2, "b", "gold", t2, d2)],
        "id int, val string, tier string, "
        "processing_timestamp timestamp, processing_date date",
    )
    table.upsert_batch(evolved, spark)
    got = {r.id: (r.val, r.tier) for r in table.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b", "gold")}

    # pre-evolution producer still writes (missing col -> null),
    # and its newer precombine wins over the evolved row
    table.upsert_batch(_rows(spark, [(2, "b2", t3, d2)]), spark)
    got = {r.id: (r.val, r.tier) for r in table.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b2", None)}


def test_upsert_redelivery_is_idempotent(spark, tmp_path):
    """foreachBatch may redeliver a batch after a failure between
    write and checkpoint commit; replaying the identical batch must
    not duplicate rows (the exactly-once claim, MSP-parity
    PROJECT_DOCUMENTATION.md:532-543)."""
    import datetime as dt

    d = dt.date(2024, 1, 1)
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    table = LakeTable(path=str(tmp_path / "idem"))
    batch = _rows(spark, [(1, "a", t, d), (2, "b", t, d)])
    table.upsert_batch(batch, spark)
    table.upsert_batch(batch, spark)  # redelivery
    rows = table.read(spark).collect()
    assert len(rows) == 2
    assert {r.id: r.val for r in rows} == {1: "a", 2: "b"}


def test_clustered_compaction_produces_disjoint_file_ranges(spark, tmp_path):
    """With cluster_key set, compaction range-sorts each partition's
    files so their min/max cluster-key ranges are pairwise disjoint —
    the parquet-footer data-skipping layout. Content must survive
    unchanged."""
    import datetime as dt

    import duckdb

    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    table = LakeTable(path=str(tmp_path / "cl"), cluster_key="id")
    # interleaved ids across two dates, written in shuffled order
    data = [(i, f"v{i}", t, d1 if i % 2 else d2) for i in range(400)]
    import random

    random.Random(7).shuffle(data)
    table.upsert_batch(_rows(spark, data), spark)
    table.compact(spark, target_files_per_partition=4)

    for part_dir in glob.glob(str(tmp_path / "cl" / "processing_date=*")):
        ranges = []
        for f in glob.glob(part_dir + "/*.parquet"):
            mn, mx = duckdb.sql(
                f"SELECT min(id), max(id) FROM read_parquet('{f}')"
            ).fetchone()
            ranges.append((mn, mx))
        ranges.sort()
        for (_, amax), (bmin, _) in zip(ranges, ranges[1:]):
            assert amax < bmin, f"overlapping file ranges in {part_dir}: {ranges}"
    got = {r.id: r.val for r in table.read(spark).collect()}
    assert got == {i: f"v{i}" for i in range(400)}


def test_upsert_with_cdc_tombstones(spark, tmp_path):
    """A winning delete tombstone removes its key; a later re-insert
    resurrects it; deleting a missing key is a no-op."""
    import datetime as dt

    d = dt.date(2024, 1, 1)

    def rows(data):
        return spark.createDataFrame(
            data,
            "id int, val string, processing_timestamp timestamp, "
            "processing_date date, is_delete boolean",
        )

    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 1, 11)
    t3 = dt.datetime(2024, 1, 1, 12)
    table = LakeTable(path=str(tmp_path / "tomb"))
    table.upsert_batch(
        rows([(1, "a", t1, d, False), (2, "b", t1, d, False)]),
        spark,
        delete_col="is_delete",
    )
    # delete 1, insert 3, delete missing 9
    table.upsert_batch(
        rows([(1, None, t2, d, True), (3, "c", t2, d, False),
              (9, None, t2, d, True)]),
        spark,
        delete_col="is_delete",
    )
    assert {r.id: r.val for r in table.read(spark).collect()} == {
        2: "b", 3: "c"
    }
    # stale delete loses to the newer version in the same batch
    table.upsert_batch(
        rows([(2, None, t1, d, True), (2, "b2", t3, d, False)]),
        spark,
        delete_col="is_delete",
    )
    got = {r.id: r.val for r in table.read(spark).collect()}
    assert got == {2: "b2", 3: "c"}


def test_tombstone_blocks_stale_resurrection(spark, tmp_path):
    """A persisted tombstone outranks an older insert replayed AFTER
    the delete (out-of-order micro-batches): the key stays dead until
    a genuinely newer version arrives. Compaction purges markers."""
    import datetime as dt

    d = dt.date(2024, 1, 1)

    def rows(data):
        return spark.createDataFrame(
            data,
            "id int, val string, processing_timestamp timestamp, "
            "processing_date date, is_delete boolean",
        )

    t1, t2, t3 = (dt.datetime(2024, 1, 1, h) for h in (10, 11, 12))
    table = LakeTable(path=str(tmp_path / "res"))
    table.upsert_batch(
        rows([(1, None, t2, d, True)]), spark, delete_col="is_delete"
    )
    # older insert replayed after the delete: must NOT resurrect
    table.upsert_batch(
        rows([(1, "old", t1, d, False)]), spark, delete_col="is_delete"
    )
    assert table.read(spark).filter("id = 1").count() == 0
    # genuinely newer version does resurrect
    table.upsert_batch(
        rows([(1, "new", t3, d, False)]), spark, delete_col="is_delete"
    )
    assert [r.val for r in table.read(spark).filter("id = 1").collect()] == ["new"]


def test_orc_roundtrip_with_declared_schema(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.sources.files import (
        read_orc,
        write_orc,
    )

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("name", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, 0.0)], schema
    )
    path = str(tmp_path / "t.orc")
    write_orc(df, path)
    back = read_orc(spark, path, schema)
    assert back.schema == schema
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    # pushdown reaches the ORC scan
    plan = back.filter(F.col("k") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "k" in plan


def test_purge_keys_erases_all_versions_and_tombstones(spark, tmp_path):
    import datetime as dt

    d1, d2 = dt.date(2024, 2, 1), dt.date(2024, 2, 2)
    t1 = dt.datetime(2024, 2, 1, 9, 0, 0)
    t2 = dt.datetime(2024, 2, 2, 9, 0, 0)
    table = LakeTable(path=str(tmp_path / "purge"))
    table.upsert_batch(
        _rows(spark, [(1, "a", t1, d1), (2, "b", t1, d1), (3, "c", t2, d2)]), spark
    )
    # key 2 gets a tombstone — purge must remove the marker too
    deld = _rows(spark, [(2, "b", t2, d1)]).withColumn("is_del", F.lit(True))
    table.upsert_batch(deld, spark, delete_col="is_del")

    removed = table.purge_keys(spark, [1, 2])
    assert removed == 2  # live row for 1 + tombstone marker for 2
    got = {r.id for r in table.read(spark).collect()}
    assert got == {3}
    # no physical row for the purged keys remains (raw read incl. markers)
    raw = spark.read.option("mergeSchema", "true").parquet(table.path)
    assert raw.filter(F.col("id").isin([1, 2])).count() == 0


def test_purge_keys_drops_partition_left_empty(spark, tmp_path):
    import datetime as dt

    d1, d2 = dt.date(2024, 3, 1), dt.date(2024, 3, 2)
    t = dt.datetime(2024, 3, 1, 8, 0, 0)
    table = LakeTable(path=str(tmp_path / "purge2"))
    table.upsert_batch(_rows(spark, [(1, "only", t, d1), (2, "other", t, d2)]), spark)

    assert table.purge_keys(spark, [1]) == 1
    assert glob.glob(str(tmp_path / "purge2" / "processing_date=2024-03-01")) == []
    assert {r.id for r in table.read(spark).collect()} == {2}


def test_expire_partitions_is_metadata_only_and_bounded(spark, tmp_path):
    import datetime as dt

    table = LakeTable(path=str(tmp_path / "retention"))
    t = dt.datetime(2024, 4, 1, 8, 0, 0)
    for i in range(1, 5):
        d = dt.date(2024, 4, i)
        table.upsert_batch(_rows(spark, [(i, f"v{i}", t, d)]), spark)

    expired = table.expire_partitions(spark, keep_from=dt.date(2024, 4, 3))
    assert expired == ["2024-04-01", "2024-04-02"]
    kept = {r.id for r in table.read(spark).collect()}
    assert kept == {3, 4}
    # second sweep is a no-op
    assert table.expire_partitions(spark, keep_from=dt.date(2024, 4, 3)) == []
