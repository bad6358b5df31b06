"""``corpus_curation``: the LLM-data path, where writes sit beside
reads on the same atomic tables.

The seeded feed is cut into micro-batches by ``doc_id``.  Each batch
goes through ``streaming.corpus_ingest.ingest_batch``: quality gate,
dedup screen against the signature index (which grows every batch),
then atomic appends to the curated, audit and index tables.  The
section is a fixed number of batches, then one
``CorpusBuildPipeline.build_once`` full snapshot of the feed.

``FULL`` is the size of the workload run on its own; ``SMALL`` is the
size of the corpus section that the traced ``ms_ingest`` run adds, so
that ``streaming.corpus_ingest`` and ``pipeline.corpus_build`` are
measured by a workload BENCHMARK.json lists.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass

from perfbench import harness, sparkstore
from perfbench.datagen import corpus_documents


@dataclass(frozen=True)
class Size:
    feed_docs: int
    batch: int  # documents per micro-batch
    n_batches: int  # micro-batches per section, before the build


FULL = Size(feed_docs=1500, batch=100, n_batches=3)
SMALL = Size(feed_docs=80, batch=40, n_batches=2)
WARM_DOCS = 40  # smallest input: two warm-up batches of 20

_SPAN_LABELS = {
    "streaming.corpus_ingest.ingest_batch": "ingest",
    "pipeline.corpus_build.build_once": "build",
    "pipeline.atomic.append": "commit",
    "pipeline.atomic.overwrite": "commit",
}


def _write_feed(path: str, n_docs: int, seed: int) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "documents.parquet")
    pq.write_table(pa.table(corpus_documents(n_docs, seed)), out)
    return os.path.getsize(out)


def job_label(job) -> str | None:
    loc = sparkstore.code_location(job.call_site)
    if loc is None:
        return None
    if loc.module == "pipeline.atomic":
        return "commit" if loc.function in harness.ATOMIC_COMMIT else None
    if loc.module == "streaming.corpus_ingest":
        return "ingest"
    if loc.module == "pipeline.corpus_build":
        return "build"
    return None


class CorpusCuration:
    name = "corpus_curation"
    writes = True

    def __init__(self, work_dir: str, seed: int, size: Size = FULL):
        self.work = os.path.join(work_dir, self.name)
        self.seed = seed
        self.size = size
        self.feed = os.path.join(self.work, "feed")
        self.warm_feed = os.path.join(self.work, "warm_feed")
        self.input_bytes = 0
        self.warm = None  # tables of the last warm-up
        self.sections: dict[str, dict] = {}
        self.exclusive: dict[str, float] = {}

    def generate(self) -> None:
        self.input_bytes = _write_feed(self.feed, self.size.feed_docs, self.seed)
        _write_feed(self.warm_feed, WARM_DOCS, self.seed + 1)

    def _tables(self, tag: str):
        from aichemy_data_pipelines_spark.pipeline.atomic import AtomicParquetTable

        base = os.path.join(self.work, tag)
        return tuple(
            AtomicParquetTable(os.path.join(base, name))
            for name in ("curated", "sig_index", "audit")
        )

    def _batch(self, spark, feed: str, b: int, size: int, tables, tag: str):
        from pyspark.sql import functions as F

        from aichemy_data_pipelines_spark.streaming import corpus_ingest

        curated, sig, audit = tables
        df = spark.read.parquet(os.path.join(feed, "documents.parquet")).where(
            (F.col("doc_id") >= b * size) & (F.col("doc_id") < (b + 1) * size)
        )
        corpus_ingest.ingest_batch(df, b, curated, sig, run_id=tag, audit=audit)

    def _build(self, spark, feed: str, tag: str):
        from aichemy_data_pipelines_spark.pipeline.corpus_build import (
            CorpusBuildConfig,
            CorpusBuildPipeline,
        )

        pipe = CorpusBuildPipeline(
            spark,
            CorpusBuildConfig(sf_dir=feed, output_dir=os.path.join(self.work, tag, "build")),
        )
        return pipe, pipe.build_once()

    def warmup(self, spark, k: int) -> None:
        """One micro-batch of the smallest feed into fresh tables."""
        self.warm = self._tables(f"warm{k}")
        self._batch(spark, self.warm_feed, 0, WARM_DOCS // 2, self.warm, f"warm{k}")

    def prime(self, spark) -> None:
        """A second warm-up batch (index-screen path) and a build of
        the smallest feed, untimed."""
        self._batch(spark, self.warm_feed, 1, WARM_DOCS // 2, self.warm, "prime")
        self._build(spark, self.warm_feed, "prime")

    def _check_batch(self, spark, tables, b: int, accepted: list[int]) -> int:
        """Curated and audit rows partition the batch exactly once."""
        from pyspark.sql import functions as F

        curated, _, audit = tables
        lo, hi = b * self.size.batch, (b + 1) * self.size.batch
        want = list(range(lo, min(hi, self.size.feed_docs)))
        kept = [
            r.doc_id
            for r in curated.read(spark)
            .where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .select("doc_id").collect()
        ]
        rejected_df = audit.read(spark)
        rejected = [] if rejected_df is None else [
            r.doc_id
            for r in rejected_df.where(F.col("batch_id") == b).select("doc_id").collect()
        ]
        if sorted(kept + rejected) != want:
            raise AssertionError(
                f"batch {b}: {len(kept)} curated + {len(rejected)} audit rows "
                f"do not partition its {len(want)} docs"
            )
        accepted.append(len(kept))
        return len(want)

    def _check_build(self, spark, result) -> int:
        pipe, stats = result
        n = pipe.curated.read(spark).count()
        if n != stats["n_final"]:
            raise AssertionError(f"snapshot has {n} rows, build reported {stats['n_final']}")
        return 0

    def section(self, runner, tag: str):
        """``size.n_batches`` micro-batches, then one full build."""
        spark = runner.spark
        tables = self._tables(tag)
        accepted: list[int] = []  # curated docs per batch
        batch = self.size.batch
        for b in range(self.size.n_batches):
            runner.run(
                "batch",
                lambda b=b: self._batch(spark, self.feed, b, batch, tables, tag),
                lambda _, b=b: self._check_batch(spark, tables, b, accepted),
            )
        runner.run(
            "build",
            lambda: self._build(spark, self.feed, tag),
            lambda res: self._check_build(spark, res),
        )
        self.sections[tag] = {
            "stored_bytes": harness.dir_bytes(os.path.join(self.work, tag)),
            "input_bytes": self.input_bytes,
            "accepted": accepted,
        }
        return runner.ops

    def trace_hooks(self, tracer) -> None:
        from aichemy_data_pipelines_spark.pipeline import atomic, corpus_build
        from aichemy_data_pipelines_spark.streaming import corpus_ingest

        tracer.wrap(corpus_ingest, "ingest_batch", "streaming.corpus_ingest")
        tracer.wrap(corpus_build.CorpusBuildPipeline, "build_once", "pipeline.corpus_build")
        for attr in ("append", "overwrite"):
            tracer.wrap(atomic.AtomicParquetTable, attr, "pipeline.atomic")

    def layer_metrics(self, ops, tracer, jobs, tag: str) -> dict:
        ex = self.exclusive = harness.exclusive_times(
            ops, tracer, jobs, lambda s: _SPAN_LABELS[s.name], job_label
        )
        batches = [o for o in ops if o.kind == "batch"]
        builds = [o for o in ops if o.kind == "build"]
        checkpoints = [
            sum(
                1 for j in sparkstore.op_jobs(jobs, o.group)
                if j.call_site.startswith("localCheckpoint at")
                and (loc := sparkstore.code_location(j.call_site))
                and loc.module == "streaming.corpus_ingest"
            )
            for o in batches
        ]
        commits = sum(s.layer == "pipeline.atomic" for s in tracer.spans)
        n = len(ops)
        return {
            "streaming.corpus_ingest.batch_s": statistics.median(o.wall for o in batches),
            "streaming.corpus_ingest.accept_ratio": sum(self.sections[tag]["accepted"])
            / max(1, sum(o.items for o in batches)),
            "streaming.corpus_ingest.checkpoint_jobs": statistics.median(checkpoints),
            "pipeline.corpus_build.build_s": builds[0].wall if builds else 0.0,
            "pipeline.atomic.commit_s": ex.get("commit", 0.0),
            "pipeline.atomic.commits": commits / n,
            "pipeline.atomic.bytes_written": self.sections[tag]["stored_bytes"] / n,
        }
