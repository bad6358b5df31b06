"""Self-tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from perfbench import sparkstore, stats
from perfbench.datagen import MsTree
from perfbench.ms_ingest import INCREMENTAL, MsIngest, job_label
from perfbench.olap import MIX, PASSES, OlapQueries, rows_match


@pytest.mark.parametrize(
    "n, want",
    [(5, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
     (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, want):
    got = stats.tail([float(i) for i in range(n)])
    assert (got and got[0]) == want
    if got:
        p, value = got
        assert sum(v > value for v in range(n)) >= stats.MIN_BEYOND


def test_summary_reports_median_count_and_tail():
    s = stats.summary([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["tail_p"] == 90.0 and s["tail"] == pytest.approx(90.1)


def test_self_time_counts_overlapping_children_once():
    # children overlap each other (1-4, 3-6) and stick out (8-12)
    assert stats.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]) == 3
    assert stats.self_time((0, 10), []) == 10
    assert stats.self_time((0, 10), [(0, 10), (2, 3)]) == 0


def test_partition_gives_each_instant_to_the_deepest_interval():
    labelled = [
        (0.0, 8.0, 1, "cycle"),  # span
        (1.0, 3.0, 2, "discover"),  # child span
        (2.0, 5.0, 1000, "convert"),  # job, overlaps the child span
        (4.0, 6.0, 1000, "convert"),  # overlapping job, same label
    ]
    out = stats.partition((0.0, 10.0), labelled, "harness")
    assert out == {"cycle": 3.0, "discover": 1.0, "convert": 4.0, "harness": 2.0}
    assert sum(out.values()) == 10.0


def test_ms_tree_expected_stats(tmp_path):
    tree = MsTree(str(tmp_path / "watch"), seed=7, max_attempts=3)
    tree.add_runs(0, 10, n_corrupt=2, n_fresh=1)
    # backfill: the fresh run waits, both corrupt runs fail
    assert tree.expect(0) == {
        "total": 9, "failed": 2, "skipped": 0, "succeeded": 7, "archived": 7
    }
    tree.add_runs(1, 3, n_corrupt=1, n_fresh=1)
    # deferred run + 2 quiet new + 3 corrupt retries (2 old, 1 new)
    assert tree.expect(1) == {
        "total": 5, "failed": 3, "skipped": 0, "succeeded": 2, "archived": 2
    }
    tree.add_runs(2, 0, 0, 0)
    # fresh run of cycle 1 + third attempt of the old corrupt runs
    assert tree.expect(2)["total"] == 1 + 2 + 1
    # old corrupt runs have used max_attempts: only the newer one is left
    assert tree.expect(3) == {
        "total": 1, "failed": 1, "skipped": 0, "succeeded": 0, "archived": 0
    }
    assert tree.expect(4)["total"] == 0
    # the tree on disk matches the model: 13 runs, corrupt marker in place
    runs = [d for p in os.listdir(tree.root) for d in os.listdir(tree.root + "/" + p)]
    assert len(runs) == 13
    bad = tree.runs[0]
    with open(os.path.join(tree.root, bad.plate, bad.base + ".d", "scan00.bin"), "rb") as f:
        assert f.read().startswith(b"CORRUPT")


def test_ms_tree_is_seeded(tmp_path):
    a = MsTree(str(tmp_path / "a"), seed=3)
    b = MsTree(str(tmp_path / "b"), seed=3)
    a.add_runs(0, 4, 1, 1)
    b.add_runs(0, 4, 1, 1)
    assert [r.md5 for r in a.runs] == [r.md5 for r in b.runs]


def _line_of(path: str, text: str) -> int:
    with open(path) as f:
        for i, line in enumerate(f, 1):
            if text in line:
                return i
    raise LookupError(text)


def test_call_site_attribution_to_module_and_stage():
    from aichemy_data_pipelines_spark.pipeline import atomic, batch

    path = batch.__file__
    line = _line_of(path, "rows = self.convert(runs).collect()")
    loc = sparkstore.code_location(f"collect at {path}:{line}")
    assert (loc.module, loc.function) == ("pipeline.batch", "run_once")
    job = sparkstore.Job(0, "g", f"collect at {path}:{line}", 0, 1, 1, [])
    assert job_label(job) == "convert"
    line = _line_of(path, ").count()")  # end of the multi-line archive count
    job.call_site = f"count at {path}:{line}"
    assert job_label(job) == "archive"
    line = _line_of(path, "runs = runs.localCheckpoint(eager=True)")
    job.call_site = f"localCheckpoint at {path}:{line}"
    assert job_label(job) == "discover"
    line = _line_of(atomic.__file__, "w.parquet(os.path.join(self.root, rel))")
    job.call_site = f"parquet at {atomic.__file__}:{line}"
    assert job_label(job) == "commit"
    line = _line_of(atomic.__file__, "return reader.parquet(d)")
    job.call_site = f"parquet at {atomic.__file__}:{line}"
    assert job_label(job) is None  # a ledger read belongs to its caller
    assert sparkstore.code_location("parquet at NativeMethodAccessorImpl.java:0") is None


def test_rows_match_tolerates_float_rounding_only():
    assert rows_match([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not rows_match([(1, 0.31)], [(1, 0.3)])
    assert not rows_match([(1, 0.3)], [(1, 0.3), (2, 0.0)])


class _SlowRunner:
    """Records operation kinds; reports a wall far past any time budget."""

    spark = None
    wall = 1e9

    def __init__(self) -> None:
        self.ops: list[str] = []

    def run(self, kind, fn, check) -> None:
        self.ops.append(kind)


def test_sections_have_a_fixed_operation_count(tmp_path):
    ms = MsIngest(str(tmp_path), seed=5)
    ms._pipeline = lambda spark, tag, tree: SimpleNamespace(
        cfg=SimpleNamespace(output_dir=str(tmp_path / "o"), archive_dir=str(tmp_path / "a"))
    )
    ms._check_outputs = lambda runner, tree, pipe: None
    runner = _SlowRunner()
    ms.section(runner, "timed")
    assert runner.ops == ["backfill"] + ["incremental"] * INCREMENTAL
    runner = _SlowRunner()
    OlapQueries(str(tmp_path), seed=5).section(runner, "timed")
    assert len(runner.ops) == PASSES * len(MIX)
