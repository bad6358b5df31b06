"""Reference-parity behavior tests for the filesystem pipeline
(WatchConvertPipeline) on temp directories: discovery, quiet-wait,
idempotent re-runs, attempt escalation to permanent skip, archive
policies, failure-threshold verification."""

from __future__ import annotations

import gzip
import hashlib
import os
import tarfile
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aichemy_data_pipelines_spark.pipeline.batch import (
    PipelineConfig,
    WatchConvertPipeline,
)


def make_tree(root, plates):
    """plates: {plate: {run_base: {relative path: bytes}}}"""
    for plate, runs in plates.items():
        for base, files in runs.items():
            for rel, data in files.items():
                fp = os.path.join(root, plate, base + ".d", rel)
                os.makedirs(os.path.dirname(fp), exist_ok=True)
                with open(fp, "wb") as f:
                    f.write(data)


@pytest.fixture
def pipe(spark, tmp_path):
    watch = str(tmp_path / "watch")
    out = str(tmp_path / "out")
    arc = str(tmp_path / "arc")
    make_tree(
        watch,
        {
            "plate A": {  # reference: plate names may contain spaces
                "run1": {"a.bin": b"alpha", "b.bin": b"beta"},
                "run2": {"a.bin": b"gamma"},
            },
            "plate_B": {"run3": {"x.bin": b"delta"}},
        },
    )
    cfg = PipelineConfig(
        watch_dir=watch, output_dir=out, archive_dir=arc, quiet_seconds=0
    )
    return WatchConvertPipeline(spark, cfg)


def test_discover_finds_runs(pipe):
    runs = pipe.discover().collect()
    assert sorted(r.base for r in runs) == ["run1", "run2", "run3"]
    r1 = next(r for r in runs if r.base == "run1")
    assert r1.n_files == 2 and r1.total_bytes == len(b"alpha") + len(b"beta")
    assert r1.plate_rel == "plate A"


def test_nested_run_files_are_discovered_and_converted(pipe):
    """Files below a run dir (the Agilent AcqData/ layout) count toward
    their run: a run with data only in a subdirectory is discovered,
    and a mixed run counts its nested files in n_files/total_bytes."""
    make_tree(
        pipe.cfg.watch_dir,
        {
            "plate_B": {
                "nested": {"AcqData/MSScan.bin": b"scan", "AcqData/x.bin": b"y"}
            },
            "plate A": {"run2": {"AcqData/MSPeak.bin": b"peak-bytes"}},
        },
    )
    runs = {r.base: r for r in pipe.discover().collect()}
    assert set(runs) == {"run1", "run2", "run3", "nested"}
    assert (runs["nested"].n_files, runs["nested"].total_bytes) == (2, 5)
    assert runs["nested"].plate_rel == "plate_B"
    assert runs["nested"].run_dir.endswith("/plate_B/nested.d")
    assert (runs["run2"].n_files, runs["run2"].total_bytes) == (2, 15)
    stats = pipe.run_once()
    assert stats["succeeded"] == 4 and stats["failed"] == 0
    out = os.path.join(
        pipe.cfg.output_dir, "plate_B", "nested-converted.mzML.gz"
    )
    want = hashlib.md5(b"scan" + b"y").hexdigest()
    with gzip.open(out) as f:
        assert f'checksum="{want}" bytes="5"'.encode() in f.read()


def test_quiet_filter_blocks_fresh_writes(pipe):
    runs = pipe.discover()
    pipe.cfg.quiet_seconds = 3600  # nothing is an hour old
    assert pipe.quiet_filter(runs).count() == 0
    pipe.cfg.quiet_seconds = 0
    assert pipe.quiet_filter(runs).count() == 3


def test_convert_and_idempotent_rerun(pipe):
    stats = pipe.run_once()
    assert stats["succeeded"] == 3 and stats["failed"] == 0
    out = os.path.join(
        pipe.cfg.output_dir, "plate A", "run1-converted.mzML.gz"
    )
    assert os.path.exists(out)
    content = gzip.open(out, "rb").read()
    assert b'base="run1"' in content and b"checksum=" in content
    # second cycle: ledger suppresses re-discovery entirely
    stats2 = pipe.run_once()
    assert stats2["total"] == 0


def test_new_run_picked_up_incrementally(pipe):
    pipe.run_once()
    make_tree(pipe.cfg.watch_dir, {"plate A": {"run9": {"n.bin": b"new"}}})
    stats = pipe.run_once()
    assert stats["total"] == 1 and stats["succeeded"] == 1


def test_failed_run_escalates_to_permanent_skip(pipe, spark):
    # a corrupt input fails conversion (reference: msconvert rc != 0);
    # note: an EMPTY run dir is simply invisible to the file-driven
    # scan — discovery is file-level, like any Spark source
    make_tree(
        pipe.cfg.watch_dir, {"plate A": {"bad": {"x.bin": b"CORRUPT data"}}}
    )
    stats = pipe.run_once()  # 3 good + 1 bad: under threshold, no raise
    assert stats["failed"] == 1 and stats["succeeded"] == 3
    # retry cycles: only the bad run remains, so each batch is
    # all-failed — verify raises, but attempts still accumulate
    for _ in range(pipe.cfg.max_attempts - 1):
        with pytest.raises(RuntimeError, match="All 1 conversions failed"):
            pipe.run_once()
    # after max_attempts failures the run is permanently skipped
    stats = pipe.run_once()
    assert stats["total"] == 0
    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    led = AtomicParquetTable(
        os.path.join(pipe.cfg.output_dir, "_ledger.parquet")
    ).read(spark)
    bad = led.where(F.col("base") == "bad")
    assert bad.agg(F.max("attempts")).collect()[0][0] == pipe.cfg.max_attempts


def test_archive_policy_skip_vs_replace(pipe):
    pipe.run_once()
    arc = os.path.join(pipe.cfg.archive_dir, "plate_B", "run3-archive.tar.gz")
    assert os.path.exists(arc)
    with tarfile.open(arc) as tf:
        assert any(m.name.endswith("x.bin") for m in tf.getmembers())
    mtime = os.path.getmtime(arc)
    # force re-archive of same run: clear ledger + output, policy=skip
    os.remove(
        os.path.join(pipe.cfg.output_dir, "plate_B", "run3-converted.mzML.gz")
    )
    import shutil

    shutil.rmtree(os.path.join(pipe.cfg.output_dir, "_ledger.parquet"))
    pipe.run_once()
    assert os.path.getmtime(arc) == mtime  # skip policy kept existing
    # replace policy rewrites
    os.remove(
        os.path.join(pipe.cfg.output_dir, "plate_B", "run3-converted.mzML.gz")
    )
    shutil.rmtree(os.path.join(pipe.cfg.output_dir, "_ledger.parquet"))
    pipe.cfg.archive_policy = "replace"
    time.sleep(0.05)
    pipe.run_once()
    assert os.path.getmtime(arc) > mtime


def test_verify_raises_when_all_fail(pipe, spark):
    import shutil

    for plate in ("plate A", "plate_B"):
        shutil.rmtree(os.path.join(pipe.cfg.watch_dir, plate))
    make_tree(pipe.cfg.watch_dir, {"p": {"only_bad": {"x.bin": b"CORRUPT!"}}})
    with pytest.raises(RuntimeError, match="All 1 conversions failed"):
        pipe.run_once()


def test_verify_counts_plain_rows(tmp_path):
    """verify counts the collected batch rows on the driver: no
    SparkSession needed."""
    cfg = PipelineConfig(
        watch_dir=str(tmp_path / "w"), output_dir=str(tmp_path / "o"),
        archive_dir=str(tmp_path / "a"), fail_threshold=2,
    )
    v = WatchConvertPipeline(None, cfg)
    assert v.verify([]) == {
        "total": 0, "failed": 0, "skipped": 0, "succeeded": 0
    }
    rows = [Row(status=s) for s in
            ("ok", "failed", "failed", "already_converted", "ok")]
    # failed == min(fail_threshold, total) passes
    assert v.verify(rows) == {
        "total": 5, "failed": 2, "skipped": 1, "succeeded": 2
    }
    # one more failure raises
    with pytest.raises(RuntimeError, match=r"3/6 conversions failed \(> 2\)"):
        v.verify(rows + [Row(status="failed")])


def test_delete_original(pipe):
    pipe.cfg.delete_original = True
    pipe.run_once()
    assert not os.path.exists(
        os.path.join(pipe.cfg.watch_dir, "plate A", "run1.d")
    )
    # archive still holds the data
    arc = os.path.join(pipe.cfg.archive_dir, "plate A", "run1-archive.tar.gz")
    with tarfile.open(arc) as tf:
        names = [m.name for m in tf.getmembers()]
    assert any(n.endswith("a.bin") for n in names)


def test_run_forever_fixed_rate_scheduler(pipe):
    """Daemon loop: >=2 timed cycles on the reference's fixed-rate
    grid, idempotent re-discovery on the second cycle, injected clock
    asserting the sleep lands on t0 + n*interval."""
    clock_now = [100.0]
    sleeps = []

    def clock():
        return clock_now[0]

    def sleep(s):
        sleeps.append(s)
        clock_now[0] += s

    seen = []
    results = pipe.run_forever(
        300.0,
        max_cycles=2,
        clock=clock,
        sleep=sleep,
        on_cycle=lambda n, s: seen.append((n, s)),
    )
    assert len(results) == 2 and len(seen) == 2
    # cycle 1 converts everything; cycle 2 re-discovers nothing new
    assert results[0]["succeeded"] == 3
    assert results[1]["total"] == 0 and results[1]["failed"] == 0
    # exactly one sleep (between the two cycles), landing the second
    # cycle on the t0+interval grid line regardless of cycle duration
    assert len(sleeps) == 1
    assert sleeps[0] == pytest.approx(300.0)


def test_run_forever_survives_failed_verdict(pipe, tmp_path):
    """A failing batch (verify raising) must not stop the schedule —
    the attempt ledger advances and the loop keeps polling."""
    bad = os.path.join(pipe.cfg.watch_dir, "plate_B", "runbad.d")
    os.makedirs(bad)
    with open(os.path.join(bad, "x.bin"), "wb") as f:
        f.write(b"CORRUPT data")
    pipe.cfg.fail_threshold = 0
    results = pipe.run_forever(
        60.0, max_cycles=4, clock=lambda: 0.0, sleep=lambda s: None
    )
    assert len(results) == 4
    assert results[0]["verdict"] == "failed"  # 1 corrupt of 4
    # attempts escalate each failing cycle (1, 2, 3 = max_attempts);
    # cycle 4 then re-discovers nothing — the poisoned run is
    # permanently skipped, exactly the reference's .skip sentinel
    assert all(r.get("verdict") == "failed" for r in results[:3])
    assert results[3]["total"] == 0 and results[3]["failed"] == 0


def test_cli_table_compact(spark, tmp_path, capsys):
    """The table-compact subcommand compacts and optionally vacuums
    an atomic table, reporting the new version."""
    import json as _json

    from aichemy_data_pipelines_spark.cli import main
    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    root = str(tmp_path / "tbl")
    t = AtomicParquetTable(root)
    for i in range(3):
        t.append(spark.range(i * 5, (i + 1) * 5).repartition(3))
    rc = main(
        ["table-compact", "--table-root", root, "--target-file-mb", "1",
         "--vacuum"]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 4
    assert out["vacuumed"] > 0
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(15))


def test_cli_table_compact_partition_by_tolerates_spaces(
    spark, tmp_path, capsys
):
    """'--partition-by \"shard, b\"' must parse to ['shard', 'b'] —
    a bare split(',') used to produce a column named ' b' and fail
    the rewrite on an otherwise valid invocation."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from aichemy_data_pipelines_spark.cli import main
    from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

    root = str(tmp_path / "ptbl")
    t = AtomicParquetTable(root)
    t.overwrite(
        spark.range(8)
        .withColumn("shard", (F.col("id") % 2).cast("string"))
        .withColumn("b", (F.col("id") % 4).cast("string")),
        partition_by=["shard", "b"],
    )
    rc = main(
        ["table-compact", "--table-root", root, "--target-file-mb", "1",
         "--partition-by", "shard, b,"]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 2
    (d,) = t.current_dirs()
    assert any(n.startswith("shard=") for n in os.listdir(d))
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(8))


def test_cli_index_build(spark, tmp_path, capsys):
    import json as _json

    from aichemy_data_pipelines_spark.cli import main
    from tests.conftest import SF_SMOKE

    for kind in ("lsh", "ivf", "lm"):
        rc = main(
            ["index-build", "--kind", kind, "--sf-dir", SF_SMOKE,
             "--root", str(tmp_path / kind)]
        )
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out == {"kind": kind, "version": 1}


def test_user_converter_hook_end_to_end(spark, tmp_path):
    """cfg.extra['converter'] + ['converter_ctx'] (the real-tool hook,
    reference msconvert_dag.py:48-60 container knobs) must run inside
    the mapInPandas stage through run_once: output written via the
    .partial -> rename protocol, ledger rows ok, byte counts from the
    converter's return."""

    # nested (not module-level) so cloudpickle ships it BY VALUE to
    # executors — a test-module global would pickle by reference and
    # fail to import on the worker
    def _fake_msconvert(run_dir, tmp_out, ctx):
        data = b""
        for fn in sorted(os.listdir(run_dir)):
            fp = os.path.join(run_dir, fn)
            if os.path.isfile(fp):
                data += open(fp, "rb").read()
        if not data:
            raise ValueError("empty run")
        payload = (
            b"FAKE-MSCONVERT image=" + ctx["image"].encode()
            + b" uid=" + str(ctx["uid"]).encode()
            + b" bytes=" + str(len(data)).encode()
        )
        with open(tmp_out, "wb") as f:
            f.write(payload)
        return len(data), len(payload)

    watch = str(tmp_path / "watch")
    out = str(tmp_path / "out")
    arc = str(tmp_path / "arc")
    make_tree(
        watch,
        {"plateX": {"runA": {"a.bin": b"payload-a"},
                    "runB": {"b.bin": b"payload-bb"}}},
    )
    cfg = PipelineConfig(
        watch_dir=watch, output_dir=out, archive_dir=arc,
        quiet_seconds=0, gzip_out=False,
        extra={
            "converter": _fake_msconvert,
            "converter_ctx": {
                "image": "chambm/pwiz-skyline-i-agree:latest",
                "privileged": True, "uid": 1000, "gid": 1000,
                "wine_cache": "/tmp/winecache",
            },
        },
    )
    pipe = WatchConvertPipeline(spark, cfg)
    stats = pipe.run_once()
    assert stats["succeeded"] == 2, stats
    fa = os.path.join(out, "plateX", "runA-converted.mzML")
    assert os.path.exists(fa)
    body = open(fa, "rb").read()
    assert body.startswith(b"FAKE-MSCONVERT image=chambm/pwiz")
    assert b"uid=1000" in body and b"bytes=9" in body
    assert not os.path.exists(fa + ".partial")
    # re-run is idempotent: the ledger suppresses re-discovery
    stats2 = pipe.run_once()
    assert stats2["total"] == 0, stats2


def test_user_converter_failure_ledgers_attempt(spark, tmp_path):
    """A converter that raises must produce a 'failed' ledger row and
    count an attempt, same as the stub path — and any partial output
    it wrote must be cleaned up (no orphaned .partial files)."""
    watch = str(tmp_path / "watch")
    make_tree(watch, {"p": {"bad": {"a.bin": b"x"}}})

    def boom(run_dir, tmp_out, ctx):
        # write SOME bytes first (the real external-tool failure
        # mode), then die — the framework must unlink the .partial
        with open(tmp_out, "wb") as f:
            f.write(b"half-written")
        raise RuntimeError("tool exit 1")

    cfg = PipelineConfig(
        watch_dir=watch, output_dir=str(tmp_path / "o"),
        archive_dir=str(tmp_path / "a"), quiet_seconds=0,
        extra={"converter": boom},
    )
    pipe = WatchConvertPipeline(spark, cfg)
    # single-run batch, converter raises -> all failed -> verify raises
    with pytest.raises(RuntimeError, match="All 1 conversions failed"):
        pipe.run_once()
    led = pipe._read_ledger()
    row = led.where(F.col("base") == "bad").orderBy(
        F.desc("attempts")
    ).first()
    assert row.status == "failed" and row.attempts == 1
    partials = [
        os.path.join(base, f)
        for base, _, files in os.walk(str(tmp_path / "o"))
        for f in files
        if f.endswith(".partial")
    ]
    assert not partials, partials
