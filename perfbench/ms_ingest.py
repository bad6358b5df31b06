"""``ms_ingest``: the paper's watch → stabilize → convert → archive →
verify cycle, through ``WatchConvertPipeline.run_once``.

The timed section is one backfill cycle over a seeded history, then
``INCREMENTAL`` incremental cycles that each add a small delta of runs:
the same operations in every run, however fast the machine.  Backfill
loads the per-run convert/archive work; incremental cycles
are dominated by the per-cycle fixed cost (whole-tree listing, ledger
commit), so ``op_p50_s`` tracks the incremental cycle.
"""

from __future__ import annotations

import gzip
import os
import re

from perfbench import harness, sparkstore
from perfbench.datagen import MsTree

HISTORY = 200  # runs present before the backfill cycle
HISTORY_CORRUPT = 3
HISTORY_FRESH = 3
DELTA = 12  # runs added before each incremental cycle
DELTA_FRESH = 2  # of them written too recently: deferred one cycle
INCREMENTAL = 2  # incremental cycles after the backfill
WARM_RUNS = 3  # runs in the smallest input (warm-up tree)

STATS_KEYS = ("total", "failed", "skipped", "succeeded", "archived")
_CHECKSUM = re.compile(rb'checksum="([0-9a-f]{32})" bytes="(\d+)"')

#: cycle stage each traced span's exclusive time is booked to
_SPAN_LABELS = {
    "pipeline.batch.run_once": "cycle_self",
    "pipeline.batch.discover": "discover",
    "pipeline.batch.quiet_filter": "cycle_self",
    "pipeline.batch.convert": "convert",
    "pipeline.batch.archive": "archive",
    "pipeline.batch.verify": "verify",
    "pipeline.atomic.append": "commit",
    "pipeline.atomic.overwrite": "commit",
    "pipeline.metrics.record_cycle": "record_cycle",
}


def job_label(job) -> str | None:
    """Which cycle stage a Spark job belongs to, from its call site.

    Jobs called from ``run_once`` itself are told apart by their source
    statement (``self.convert(runs).collect()`` / ``archived...count()``);
    ``_with_prev_attempts`` materializes the discovered batch, so its
    jobs are discovery work."""
    loc = sparkstore.code_location(job.call_site)
    if loc is None:
        return None
    if loc.module == "pipeline.atomic":
        return "commit" if loc.function in harness.ATOMIC_COMMIT else None
    if loc.module == "pipeline.metrics":
        return "record_cycle"
    if loc.module != "pipeline.batch":
        return None
    if loc.function == "_with_prev_attempts":
        return "discover"
    if loc.function == "run_once":
        for stage in ("convert", "archive", "verify"):
            if stage in loc.statement:
                return stage
        return "cycle_self"
    if loc.function in ("discover", "convert", "archive", "verify"):
        return loc.function
    return None


class MsIngest:
    name = "ms_ingest"
    writes = True

    def __init__(self, work_dir: str, seed: int):
        self.work = os.path.join(work_dir, self.name)
        self.seed = seed
        self.warm = None  # (pipeline, tree) of the last warm-up
        self.sections: dict[str, dict] = {}
        self.discovered = []  # discover() results, traced run only
        self.exclusive: dict[str, float] = {}

    def _pipeline(self, spark, tag: str, tree: MsTree):
        from aichemy_data_pipelines_spark.pipeline.batch import (
            PipelineConfig,
            WatchConvertPipeline,
        )

        base = os.path.join(self.work, tag)
        cfg = PipelineConfig(
            watch_dir=tree.root,
            output_dir=os.path.join(base, "out"),
            archive_dir=os.path.join(base, "archive"),
            quiet_seconds=tree.quiet_s,
            max_attempts=tree.max_attempts,
        )
        return WatchConvertPipeline(spark, cfg)

    def generate(self) -> None:
        os.makedirs(self.work, exist_ok=True)

    def warmup(self, spark, k: int) -> None:
        """One backfill cycle on the smallest input (a fresh tree)."""
        tree = MsTree(os.path.join(self.work, f"warm{k}", "watch"), self.seed)
        tree.add_runs(0, WARM_RUNS, 0, 0)
        pipe = self._pipeline(spark, f"warm{k}", tree)
        _expect_equal(pipe.run_once(now_ms=tree.now_s(0) * 1000), tree.expect(0))
        self.warm = (pipe, tree)

    def prime(self, spark) -> None:
        """An incremental cycle with a corrupt run on the warm-up tree,
        so the ledger, retry and failure paths are compiled too."""
        pipe, tree = self.warm
        tree.add_runs(1, 2, 1, 0)
        _expect_equal(pipe.run_once(now_ms=tree.now_s(1) * 1000), tree.expect(1))

    def section(self, runner, tag: str):
        """Backfill plus INCREMENTAL cycles; returns the ops (also in
        runner.ops)."""
        tree = MsTree(os.path.join(self.work, tag, "watch"), self.seed)
        in_bytes = tree.add_runs(0, HISTORY, HISTORY_CORRUPT, HISTORY_FRESH)
        pipe = self._pipeline(runner.spark, tag, tree)
        listed = []  # (files listed, run dirs listed) per cycle
        for cycle in range(INCREMENTAL + 1):
            if cycle:
                in_bytes += tree.add_runs(
                    cycle, DELTA, 1 if cycle % 2 else 0, DELTA_FRESH
                )
            expected = tree.expect(cycle)
            now_ms = tree.now_s(cycle) * 1000
            runner.run(
                "backfill" if cycle == 0 else "incremental",
                lambda: pipe.run_once(now_ms=now_ms),
                lambda stats, e=expected: _expect_equal(stats, e),
            )
            if self.discovered:
                files = [
                    f for f in self.discovered.pop().inputFiles()
                    if tree.root in f
                ]
                listed.append((len(files), len({os.path.dirname(f) for f in files})))
        self._check_outputs(runner, tree, pipe)
        cfg = pipe.cfg
        self.sections[tag] = {
            "stored_bytes": harness.dir_bytes(cfg.output_dir)
            + harness.dir_bytes(cfg.archive_dir),
            "input_bytes": in_bytes,
            "pipe": pipe,
            "listed": listed,
        }
        return runner.ops

    def _check_outputs(self, runner, tree: MsTree, pipe) -> None:
        """Untimed: every converted output embeds the md5 and size of
        its run's files; corrupt runs have no output and stopped after
        ``max_attempts`` attempts.  A wrong output fails the last op."""
        from pyspark.sql import functions as F

        errors = []
        ext = "mzML.gz"
        for r in tree.runs:
            out = os.path.join(
                pipe.cfg.output_dir, r.plate, f"{r.base}-converted.{ext}"
            )
            if not r.ok:
                if os.path.exists(out):
                    errors.append(f"{r.base}: output for a failed run")
                continue
            m = None
            if os.path.exists(out):
                with gzip.open(out) as f:
                    m = _CHECKSUM.search(f.read())
            if m is None or (m.group(1).decode(), int(m.group(2))) != (
                r.md5, r.n_bytes
            ):
                errors.append(f"{r.base}: checksum/size mismatch")
        runner.spark.sparkContext.setJobGroup("perfbench-check", "check")
        led = pipe._ledger_table.read(runner.spark)
        attempts = {
            row.base: row.a
            for row in led.groupBy("base").agg(F.max("attempts").alias("a")).collect()
        }
        for r in tree.runs:
            if r.corrupt and attempts.get(r.base, 0) != r.attempts:
                errors.append(
                    f"{r.base}: ledger attempts {attempts.get(r.base)} != {r.attempts}"
                )
        if errors:
            last = runner.ops[-1]
            last.ok = False
            last.error = "; ".join(errors[:5])

    def trace_hooks(self, tracer) -> None:
        from aichemy_data_pipelines_spark.pipeline import atomic, batch, metrics

        W = batch.WatchConvertPipeline
        tracer.wrap(W, "run_once", "pipeline.batch")
        tracer.wrap(W, "discover", "pipeline.batch", on_return=self.discovered.append)
        for attr in ("quiet_filter", "convert", "archive", "verify"):
            tracer.wrap(W, attr, "pipeline.batch")
        for attr in ("append", "overwrite"):
            tracer.wrap(atomic.AtomicParquetTable, attr, "pipeline.atomic")
        tracer.wrap(metrics.PipelineMetrics, "record_cycle", "pipeline.metrics")

    def layer_metrics(self, ops, tracer, jobs, tag: str) -> dict:
        from pyspark.sql import functions as F

        sec = self.sections[tag]
        ex = self.exclusive = harness.exclusive_times(
            ops, tracer, jobs, lambda s: _SPAN_LABELS[s.name], job_label
        )
        commits = sum(s.layer == "pipeline.atomic" for s in tracer.spans)
        listed = sec["listed"]
        admitted = sum(o.items for o in ops)
        led = sec["pipe"]._ledger_table.read(sec["pipe"].spark)
        retry = led.agg(
            F.avg((F.col("attempts") > 1).cast("double")).alias("r")
        ).collect()[0].r
        n = len(ops)
        return {
            "pipeline.batch.discover_s": ex.get("discover", 0.0),
            "pipeline.batch.convert_s": ex.get("convert", 0.0),
            "pipeline.batch.archive_s": ex.get("archive", 0.0),
            "pipeline.batch.verify_s": ex.get("verify", 0.0),
            "pipeline.batch.cycle_self_s": ex.get("cycle_self", 0.0),
            "pipeline.batch.files_listed": sum(f for f, _ in listed) / max(1, len(listed)),
            "pipeline.batch.admitted_per_listed_run": admitted / max(1, sum(r for _, r in listed)),
            "pipeline.batch.retry_share": float(retry or 0.0),
            "pipeline.atomic.commit_s": ex.get("commit", 0.0),
            "pipeline.atomic.commits": commits / n,
            "pipeline.atomic.bytes_written": harness.dir_bytes(
                sec["pipe"]._ledger_path
            ) / n,
            "pipeline.metrics.record_cycle_s": ex.get("record_cycle", 0.0),
        }


def _expect_equal(stats: dict, expected: dict) -> int:
    got = {k: stats.get(k) for k in STATS_KEYS}
    if got != expected:
        raise AssertionError(f"verify stats {got} != expected {expected}")
    return stats["total"]
