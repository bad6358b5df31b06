"""Crash-atomicity of the manifest-commit protocol (pipeline/atomic.py):
a commit killed at ANY intermediate step leaves readers on the prior
complete version, and a straight re-run converges to the right state."""

from __future__ import annotations

import json
import os

import pytest

from aichemy_data_pipelines_spark.pipeline.atomic import (
    AtomicParquetTable,
    ConcurrentWriteError,
)


def _df(spark, rows):
    return spark.createDataFrame([(i,) for i in rows], "id long")


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_append_overwrite_read_roundtrip(spark, tmp_path):
    t = AtomicParquetTable(str(tmp_path / "t"))
    assert t.read(spark) is None
    assert t.append(_df(spark, [1, 2])) == 1
    assert t.append(_df(spark, [3])) == 2
    assert _ids(t.read(spark)) == [1, 2, 3]
    assert t.overwrite(_df(spark, [9])) == 3
    assert _ids(t.read(spark)) == [9]


def test_kill_after_data_before_manifest(spark, tmp_path):
    """Crash between writing the data dir and publishing the manifest:
    the orphan dir must be invisible to readers, reclaimed by vacuum,
    and a re-run of the same append must succeed and be complete."""
    t = AtomicParquetTable(str(tmp_path / "t"))
    t.append(_df(spark, [1]))

    real_publish = t._publish
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(t, "_publish", lambda *a: (_ for _ in ()).throw(KeyboardInterrupt))
        with pytest.raises(KeyboardInterrupt):
            t.append(_df(spark, [2]))
    # reader still sees only the committed version
    assert _ids(t.read(spark)) == [1]
    assert t.version() == 1
    # orphan exists on disk until vacuumed
    data = os.listdir(tmp_path / "t" / "data")
    assert len(data) == 2
    removed = t.vacuum()
    assert len(removed) == 1
    # re-run converges
    t._publish = real_publish
    t.append(_df(spark, [2]))
    assert _ids(t.read(spark)) == [1, 2]


def test_kill_mid_manifest_write(spark, tmp_path):
    """A torn manifest TEMP file (crash during fsync) must never be
    picked up: readers resolve only published manifest-N files."""
    t = AtomicParquetTable(str(tmp_path / "t"))
    t.append(_df(spark, [1]))
    # simulate a torn temp left behind by a crashed writer
    torn = tmp_path / "t" / ".manifest-0000000002.deadbeef.tmp"
    torn.write_text('{"version": 2, "dirs": ["data/')
    assert t.version() == 1
    assert _ids(t.read(spark)) == [1]
    t.vacuum()
    assert not torn.exists()


def test_concurrent_publish_detected(spark, tmp_path):
    """Two writers racing to version N+1: the loser raises instead of
    silently clobbering, and its data dir stays invisible."""
    t1 = AtomicParquetTable(str(tmp_path / "t"))
    t2 = AtomicParquetTable(str(tmp_path / "t"))
    t1.append(_df(spark, [1]))

    # t2 computes next version, then t1 publishes first
    v = t2._latest_version()
    rel = t2._write_data(_df(spark, [99]), v + 1)
    t1.append(_df(spark, [2]))
    with pytest.raises(ConcurrentWriteError):
        t2._publish(v + 1, [rel])
    assert _ids(t1.read(spark)) == [1, 2]
    # loser retries cleanly at the next version
    t2.append(_df(spark, [3]))
    assert _ids(t1.read(spark)) == [1, 2, 3]


def test_pipeline_cycle_crash_rerun_idempotent(spark, tmp_path):
    """End-to-end: kill the batch pipeline mid-ledger-commit, re-run
    the cycle, and the ledger holds exactly one row for the run (no
    torn/partial state, no double count)."""
    from aichemy_data_pipelines_spark.pipeline.batch import (
        PipelineConfig,
        WatchConvertPipeline,
    )

    rund = tmp_path / "watch" / "plate_A" / "run1.d"
    rund.mkdir(parents=True)
    (rund / "x.bin").write_bytes(b"payload")
    cfg = PipelineConfig(
        watch_dir=str(tmp_path / "watch"),
        output_dir=str(tmp_path / "out"),
        archive_dir=str(tmp_path / "arc"),
        quiet_seconds=0,
    )
    pipe = WatchConvertPipeline(spark, cfg)

    table = pipe._ledger_table
    real_publish = AtomicParquetTable._publish
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            AtomicParquetTable,
            "_publish",
            lambda self, *a: (_ for _ in ()).throw(KeyboardInterrupt),
        )
        with pytest.raises(KeyboardInterrupt):
            pipe.run_once()
    assert table.read(spark) is None  # nothing committed
    # re-run: same cycle replays cleanly — the already-written output
    # is detected (reference already_converted semantics), no double
    # conversion, and the ledger ends with exactly one complete row
    pipe.run_once()
    led = table.read(spark)
    rows = led.collect()
    assert len(rows) == 1
    assert rows[0].base == "run1"
    assert rows[0].status in ("ok", "already_converted")
    # the already_converted row retires the run: the next cycle does
    # not rediscover it and the ledger keeps its single row
    assert pipe.run_once()["total"] == 0
    assert table.read(spark).count() == 1


def test_time_travel_reads(spark, tmp_path):
    """Every un-vacuumed version stays readable exactly as committed;
    vacuum retires old versions' manifests AND data together, after
    which time travel fails cleanly."""
    t = AtomicParquetTable(str(tmp_path / "t"))
    t.append(_df(spark, [1]))          # v1
    t.append(_df(spark, [2]))          # v2 = {1,2}
    t.overwrite(_df(spark, [9]))       # v3 = {9}
    assert _ids(t.read(spark, version=1)) == [1]
    assert _ids(t.read(spark, version=2)) == [1, 2]
    assert _ids(t.read(spark, version=3)) == [9]
    assert _ids(t.read(spark)) == [9]

    t.vacuum()
    assert _ids(t.read(spark)) == [9]
    with pytest.raises(FileNotFoundError, match="vacuumed or never"):
        t.read(spark, version=2)
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=99)


def test_manifest_meta_roundtrip(spark, tmp_path):
    """Commit metadata (the foreachBatch idempotence stamp) is
    per-version: readable for the latest and for time travel, and NOT
    inherited by later commits that don't restate it."""
    t = AtomicParquetTable(str(tmp_path / "t"))
    assert t.meta() == {}
    df = spark.range(3)
    v1 = t.append(df, meta={"last_batch_id": 0})
    assert t.meta() == {"last_batch_id": 0}
    t.overwrite(df)
    assert t.meta() == {}
    assert t.meta(v1) == {"last_batch_id": 0}


def test_compact_preserves_contents_and_meta(spark, tmp_path):
    """Many small appends → one compacted version: contents equal,
    file count drops, commit meta carries over, the pre-compaction
    version stays time-travelable until vacuum removes it."""
    import os

    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    root = str(tmp_path / "t")
    table = AtomicParquetTable(root)
    for i in range(5):
        df = spark.range(i * 10, (i + 1) * 10).withColumnRenamed("id", "k")
        table.append(df.repartition(4), meta={"last_batch_id": i})
    v_before = table.version()
    before = sorted(r.k for r in table.read(spark).collect())

    def n_parquet_files():
        return sum(
            1
            for d in table.current_dirs()
            for base, _, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        )

    files_before = n_parquet_files()
    v_after = table.compact(spark)
    assert v_after == v_before + 1
    after = sorted(r.k for r in table.read(spark).collect())
    assert after == before == list(range(50))
    assert n_parquet_files() < files_before
    # replay-idempotence stamp survives compaction
    assert table.meta()["last_batch_id"] == 4
    # time travel to the pre-compaction version still works...
    old = sorted(r.k for r in table.read(spark, version=v_before).collect())
    assert old == before
    # ...until vacuum drops the superseded dirs
    removed = table.vacuum()
    assert removed
    assert sorted(r.k for r in table.read(spark).collect()) == before


def test_compact_empty_table_is_noop(spark, tmp_path):
    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    table = AtomicParquetTable(str(tmp_path / "empty"))
    assert table.compact(spark) == 0


def test_read_merge_schema_evolves_appends(spark, tmp_path):
    """Schema evolution: an append that adds a column reads back as
    one relation with nulls for pre-evolution rows (merge_schema=True);
    the default read keeps the cheap single-footer path."""
    from pyspark.sql import functions as F

    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    table = AtomicParquetTable(str(tmp_path / "evolve"))
    table.append(spark.range(3).withColumnRenamed("id", "k"))
    table.append(
        spark.range(3, 6)
        .withColumnRenamed("id", "k")
        .withColumn("extra", F.col("k") * 10)
    )
    merged = table.read(spark, merge_schema=True)
    assert set(merged.columns) == {"k", "extra"}
    rows = {r.k: r.extra for r in merged.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 30, 4: 40, 5: 50}


def test_compact_preserves_evolved_schema(spark, tmp_path):
    """Compacting a schema-evolved table must carry every column any
    append introduced — and survive a subsequent vacuum."""
    from pyspark.sql import functions as F

    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    table = AtomicParquetTable(str(tmp_path / "ev"))
    table.append(spark.range(3).withColumnRenamed("id", "k"))
    table.append(
        spark.range(3, 6)
        .withColumnRenamed("id", "k")
        .withColumn("extra", F.col("k") * 10)
    )
    table.compact(spark)
    table.vacuum()
    out = table.read(spark, merge_schema=True)
    assert set(out.columns) == {"k", "extra"}
    rows = {r.k: r.extra for r in out.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 30, 4: 40, 5: 50}


def test_compact_refuses_to_flatten_partitions(spark, tmp_path):
    """A hive-partitioned version cannot be silently flattened: compact
    without partition_by must raise; with it, the layout survives."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    table = AtomicParquetTable(str(tmp_path / "part"))
    df = spark.range(10).withColumn("shard", (F.col("id") % 2).cast("string"))
    table.overwrite(df, partition_by=["shard"])
    with _pytest.raises(ValueError, match="hive-partitioned"):
        table.compact(spark)
    v = table.compact(spark, partition_by=["shard"])
    assert v == 2
    (d,) = table.current_dirs()
    subdirs = {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    assert {"shard=0", "shard=1"} <= subdirs
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(10))


def test_kill_mid_compact_leaves_table_intact(spark, tmp_path):
    """A crash between the compaction rewrite and its manifest
    publish must leave readers on the old version; vacuum then
    removes the orphaned rewrite dir."""
    import pytest as _pytest

    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    table = AtomicParquetTable(str(tmp_path / "t"))
    for i in range(3):
        table.append(spark.range(i * 5, (i + 1) * 5).withColumnRenamed("id", "k"))
    before = sorted(r.k for r in table.read(spark).collect())
    v_before = table.version()

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            table,
            "_publish",
            lambda *a: (_ for _ in ()).throw(KeyboardInterrupt),
        )
        with _pytest.raises(KeyboardInterrupt):
            table.compact(spark)

    assert table.version() == v_before
    assert sorted(r.k for r in table.read(spark).collect()) == before
    removed = table.vacuum()
    assert removed, "orphaned compaction dir must be vacuumable"
    assert sorted(r.k for r in table.read(spark).collect()) == before


def test_empty_append_does_not_brick_reads(spark, tmp_path):
    """An empty (partitioned) append commits a data-less dir; reads
    must skip it instead of raising UNABLE_TO_INFER_SCHEMA."""
    from pyspark.sql import functions as F

    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    table = AtomicParquetTable(str(tmp_path / "t"))
    df = spark.range(4).withColumn("b", (F.col("id") % 2).cast("string"))
    table.append(df, partition_by=["b"])
    empty = df.where(F.lit(False))
    table.append(empty, partition_by=["b"])
    out = table.read(spark)
    assert sorted(r.id for r in out.collect()) == [0, 1, 2, 3]
    # a table whose ONLY commits are empty reads as None, like v0
    t2 = AtomicParquetTable(str(tmp_path / "t2"))
    t2.append(empty, partition_by=["b"])
    assert t2.read(spark) is None


def test_partition_type_survives_read_and_compact(spark, tmp_path):
    """Hive dirs carry values, not types: a numeric-looking STRING
    shard column ('01' vs '1' — distinct strings, equal ints) must
    round-trip byte-exact through read() and compact(), not be
    silently retyped to int by partition inference (which would
    collapse the two partitions permanently once vacuumed)."""
    import os

    from pyspark.sql import functions as F

    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    table = AtomicParquetTable(str(tmp_path / "typed"))
    df = spark.createDataFrame(
        [(1, "01"), (2, "1"), (3, "01"), (4, "2")], "id int, shard string"
    )
    table.overwrite(df, partition_by=["shard"])

    got = table.read(spark)
    assert dict(got.dtypes)["shard"] == "string"
    assert sorted((r.id, r.shard) for r in got.collect()) == [
        (1, "01"), (2, "1"), (3, "01"), (4, "2"),
    ]

    # compact must preserve both the type and the distinct dirs
    table.compact(spark, partition_by=["shard"])
    (d,) = table.current_dirs()
    subdirs = {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    assert {"shard=01", "shard=1", "shard=2"} <= subdirs
    got2 = table.read(spark)
    assert dict(got2.dtypes)["shard"] == "string"
    assert sorted((r.id, r.shard) for r in got2.collect()) == [
        (1, "01"), (2, "1"), (3, "01"), (4, "2"),
    ]

    # typed (int) partition columns keep their type too
    t2 = AtomicParquetTable(str(tmp_path / "typed_int"))
    t2.overwrite(
        spark.range(4).withColumn("b", (F.col("id") % 2).cast("int")),
        partition_by=["b"],
    )
    t2.append(
        spark.range(4, 8).withColumn("b", (F.col("id") % 2).cast("int")),
        partition_by=["b"],
    )
    got3 = t2.read(spark)
    assert dict(got3.dtypes)["b"] == "int"
    assert sorted(r.id for r in got3.collect()) == list(range(8))


def test_time_travel_uses_matching_partition_schema(spark, tmp_path):
    """read(version=v) must pair version-v dirs with version-v
    partition schemas — after a later commit changes the layout, the
    pinned read still casts its shard column from ITS manifest (the
    double-resolution race fix, exercised via time travel)."""
    from pyspark.sql import functions as F

    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    table = AtomicParquetTable(str(tmp_path / "tt"))
    table.overwrite(
        spark.createDataFrame(
            [(1, "01"), (2, "1")], "id int, shard string"
        ),
        partition_by=["shard"],
    )
    # v2: unpartitioned, different shape entirely
    table.overwrite(spark.range(3).withColumn("b", F.lit("x")))

    old = table.read(spark, version=1)
    assert dict(old.dtypes)["shard"] == "string"
    assert sorted((r.id, r.shard) for r in old.collect()) == [
        (1, "01"), (2, "1"),
    ]
    assert sorted(r.id for r in table.read(spark).collect()) == [0, 1, 2]


def test_read_never_touches_session_conf(spark, tmp_path):
    """r06 ADVICE: the typed-partition read must not toggle the
    session-global partitionColumnTypeInference conf — a concurrent
    read on the same session during the toggle window would silently
    change inference behavior. Pin: read() makes NO conf.set calls,
    yet still preserves writer-typed partition values ('01' vs '1')."""
    from pyspark.sql import functions as F

    from aichemy_data_pipelines_spark.pipeline.atomic import (
        AtomicParquetTable,
    )

    t = AtomicParquetTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, "01"), (2, "1"), (3, "02")], "a int, shard string"
    )
    t.overwrite(df, partition_by=["shard"])

    calls = []
    orig_set = type(spark.conf).set

    def spy_set(self, key, value):
        calls.append(key)
        return orig_set(self, key, value)

    type(spark.conf).set = spy_set
    try:
        got = t.read(spark)
        vals = sorted(r.shard for r in got.collect())
    finally:
        type(spark.conf).set = orig_set
    assert vals == ["01", "02", "1"]
    assert got.schema["shard"].dataType.simpleString() == "string"
    assert not any("partitionColumnTypeInference" in k for k in calls), calls
