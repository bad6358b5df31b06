"""Batch watch→stabilize→convert→archive→verify pipeline.

Spark-first re-expression of the reference Airflow DAG
(msconvert_dag.py — see SURVEY.md §1), one stage per method:

| Reference task                  | Here                                 |
| ---                             | ---                                  |
| discover_new_runs (:176-221)    | ``discover`` — binaryFile scan →     |
|                                 | run-level agg → left-join the        |
|                                 | ledger's per-run state, drop done    |
|                                 | and retired runs → stable sort →     |
|                                 | batch cap                            |
| wait_until_quiet (:224-243)     | ``quiet_filter`` — declarative: keep |
|                                 | runs whose newest mtime is older     |
|                                 | than quiet_seconds (no sleeping; the |
|                                 | noisy runs surface next cycle)       |
| convert_one (:249-343)          | ``convert`` — Arrow-batched          |
|                                 | mapInPandas; atomic .partial→rename  |
|                                 | writes; per-run attempt ledger with  |
|                                 | permanent skip after MAX_ATTEMPTS    |
| archive_original (:346-439)     | ``archive`` — tar.gz via             |
|                                 | mapInPandas, skip|replace policy,    |
|                                 | optional delete-original             |
| verify_batch (:442-476)         | ``verify`` — failure-threshold count |
|                                 | over the collected batch (driver)    |

The conversion payload transform is a STUB (the real tool is a
closed-source Windows binary in the reference; this container has no
decoder libs): a deterministic fake "mzML" document derived from the
input bytes' md5. The Spark plumbing — discovery, ledgers, schema,
Arrow batching, atomic writes, idempotent re-runs — is real and
tested (tests/test_pipeline.py).

Scale: every cycle lists the whole watch tree (Spark's
InMemoryFileIndex lists in parallel on the driver+executors), so
listing is the per-cycle fixed cost that grows with the tree —
``delete_original`` keeps the tree to the unconverted runs. The
attempt ledger is read once per cycle and aggregated to one row per
run ever attempted before it is joined onto the listing (Spark
broadcasts it while it is under the broadcast threshold and shuffles
beyond). Only the batch — at most ``max_map`` rows of run metadata —
is collected to the driver; conversion and archiving run on
executors.
"""

from __future__ import annotations

import os
import re
import tarfile
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CONVERT_SCHEMA = StructType(
    [
        StructField("base", StringType()),
        StructField("plate_rel", StringType()),
        StructField("outfile", StringType()),
        StructField("n_bytes_in", LongType()),
        StructField("n_bytes_out", LongType()),
        StructField("status", StringType()),
        StructField("attempts", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("converted_at", StringType()),  # utc iso seconds
    ]
)

ARCHIVE_SCHEMA = StructType(
    [
        StructField("base", StringType()),
        StructField("plate_rel", StringType()),
        StructField("archive_path", StringType()),
        StructField("action", StringType()),
    ]
)


@dataclass
class PipelineConfig:
    """Reference variables (msconvert_dag.py:22-64), minus the
    Docker/Wine specifics that have no Spark analog."""

    watch_dir: str
    output_dir: str
    archive_dir: str
    fmt: str = "mzML"  # mzml | mzxml
    gzip_out: bool = True
    archive_original: bool = True
    archive_gzip: bool = True
    delete_original: bool = False
    archive_policy: str = "skip"  # skip | replace
    quiet_seconds: int = 0
    max_map: int = 1024
    max_attempts: int = 3
    fail_threshold: int = 10
    run_suffix: str = ".d"
    #: Open extension point.  Recognized keys:
    #:
    #: * ``pool`` — Spark fair-scheduler pool (reference MS_POOL).
    #: * ``converter`` — a picklable callable
    #:   ``(run_dir, tmp_out_path, ctx) -> (n_bytes_in, n_bytes_out)``
    #:   executed on EXECUTORS in place of the deterministic stub:
    #:   it must write the converted output to ``tmp_out_path`` (the
    #:   framework renames atomically and ledgers the attempt) and
    #:   raise on failure.  This is the hook for the real
    #:   msconvert-in-container invocation (reference
    #:   msconvert_dag.py:249-343) — the callable shells out to
    #:   docker/the tool using the knobs in ``ctx``.
    #: * ``converter_ctx`` — dict passed verbatim to ``converter``:
    #:   the container knobs the reference configures via env
    #:   (msconvert_dag.py:48-60 — PWIZ_IMAGE, MS_DOCKER_PRIVILEGED,
    #:   RUN_UID/RUN_GID, HOST_WINE_CACHE), e.g. ``{"image": ...,
    #:   "privileged": True, "uid": 1000, "gid": 1000,
    #:   "wine_cache": "/cache"}``.
    extra: dict = field(default_factory=dict)


class WatchConvertPipeline:
    """One polling cycle = ``run_once()`` (the reference runs the DAG
    on a 5-minute schedule; schedule externally or via
    streaming/watch.py)."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        os.makedirs(cfg.output_dir, exist_ok=True)
        os.makedirs(cfg.archive_dir, exist_ok=True)

    # -- stage 1: discover ------------------------------------------------
    def discover(self) -> DataFrame:
        """Run-level view of the watch tree via a binaryFile scan.

        Layout (= reference): watch_dir/<plate>/<run>.d/<files>; every
        file at any depth under the run dir counts toward its run
        (instruments write into subdirectories such as AcqData/);
        files outside a run dir at that depth are ignored. Returns one row per run with size/mtime aggregates and the
        ledger's ``prev_attempts``, minus runs that are done (an ``ok``
        or ``already_converted`` ledger row) or retired (max_attempts
        used up), stably sorted and capped at max_map.
        """
        cfg = self.cfg
        watch = os.path.abspath(cfg.watch_dir)
        # binaryFile yields file:/... URIs; the scheme is left out of
        # run_dir so downstream os-level stages get plain paths
        run = (
            f"^(?:file:)?({re.escape(watch)}/([^/]+)/([^/]+)"
            f"{re.escape(cfg.run_suffix)})/"
        )
        runs = (
            self.spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(cfg.watch_dir)
            .select(
                F.regexp_extract("path", run, 1).alias("run_dir"),
                F.regexp_extract("path", run, 3).alias("base"),
                F.regexp_extract("path", run, 2).alias("plate_rel"),
                "length",
                "modificationTime",
            )
            .where(F.col("run_dir") != "")
            .groupBy("run_dir", "base", "plate_rel")
            .agg(
                F.count("*").alias("n_files"),
                F.sum("length").alias("total_bytes"),
                (F.unix_micros(F.max("modificationTime")) / 1000)
                .cast("long")
                .alias("newest_mtime_ms"),
            )
        )
        ledger = self._read_ledger()
        if ledger is None:
            runs = runs.withColumn("prev_attempts", F.lit(0))
        else:
            state = ledger.groupBy("base", "plate_rel").agg(
                F.max("attempts").alias("prev_attempts"),
                F.max(F.col("status").isin("ok", "already_converted")).alias(
                    "done"
                ),
            )
            runs = (
                runs.join(state, ["base", "plate_rel"], "left")
                .fillna({"prev_attempts": 0, "done": False})
                .where(
                    ~F.col("done") & (F.col("prev_attempts") < cfg.max_attempts)
                )
                .drop("done")
            )
        return runs.orderBy("run_dir").limit(cfg.max_map)

    # -- stage 2: wait_until_quiet ----------------------------------------
    def quiet_filter(self, runs: DataFrame, now_ms: int | None = None) -> DataFrame:
        """Keep only runs stable for quiet_seconds (declarative: no
        sleeping — unstable runs are re-discovered next cycle)."""
        if now_ms is None:
            now_ms = int(time.time() * 1000)
        cutoff = now_ms - self.cfg.quiet_seconds * 1000
        return runs.where(F.col("newest_mtime_ms") <= F.lit(cutoff))

    # -- stage 3: convert --------------------------------------------------
    def convert(self, runs: DataFrame) -> DataFrame:
        """Fan-out conversion via Arrow-batched mapInPandas.

        Stub transform (deterministic fake mzML from the input md5 —
        see module docstring); real per-run semantics: reads every
        file in the run dir, writes output atomically
        (.partial → rename, = reference's tmp.replace), tracks
        attempts, honors the existing-output idempotency check.

        A REAL converter plugs in via ``cfg.extra["converter"]`` /
        ``extra["converter_ctx"]`` (see PipelineConfig): the callable
        runs on executors inside this same mapInPandas stage, writes
        to the ``.partial`` path, and inherits the full
        attempt/rename/ledger protocol — only the payload generation
        is swapped.
        """
        cfg = self.cfg
        ext = "mzML" if cfg.fmt.lower() == "mzml" else "mzXML"
        gz = ".gz" if cfg.gzip_out else ""
        out_root = cfg.output_dir
        converter = cfg.extra.get("converter")
        converter_ctx = dict(cfg.extra.get("converter_ctx", {}))

        def do_convert(batches):
            import gzip as gzmod
            import hashlib
            from datetime import datetime, timezone

            import pandas as pd

            for pdf in batches:
                rows = []
                for r in pdf.itertuples():
                    t_start = time.perf_counter()
                    now_iso = datetime.now(timezone.utc).strftime(
                        "%Y-%m-%d %H:%M:%S"
                    )
                    attempts = r.prev_attempts + 1
                    outdir = os.path.join(out_root, r.plate_rel)
                    os.makedirs(outdir, exist_ok=True)
                    outfile = os.path.join(
                        outdir, f"{r.base}-converted.{ext}{gz}"
                    )
                    if os.path.exists(outfile):
                        rows.append(
                            (r.base, r.plate_rel, outfile, r.total_bytes, 0,
                             "already_converted", attempts - 1, 0, now_iso)
                        )
                        continue
                    try:
                        tmp = outfile + ".partial"
                        if converter is not None:
                            # user-supplied real converter (e.g. the
                            # containerized msconvert invocation):
                            # writes tmp, returns byte counts, raises
                            # on failure — rename/ledger stay ours
                            n_in, n_out = converter(
                                r.run_dir, tmp, converter_ctx
                            )
                        else:
                            h = hashlib.md5()
                            n_in = 0
                            # every file at any depth, in sorted
                            # relative-path order
                            for fp in sorted(
                                os.path.join(d, fn)
                                for d, _, fns in os.walk(r.run_dir)
                                for fn in fns
                            ):
                                with open(fp, "rb") as f:
                                    data = f.read()
                                if data.startswith(b"CORRUPT"):
                                    # stand-in for the real tool's
                                    # nonzero exit on unreadable input
                                    raise ValueError(f"corrupt input {fp}")
                                n_in += len(data)
                                h.update(data)
                            if n_in == 0:
                                raise ValueError(f"empty run dir {r.run_dir}")
                            payload = (
                                f'<?xml version="1.0"?><{ext}>'
                                f'<run base="{r.base}" '
                                f'checksum="{h.hexdigest()}" bytes="{n_in}"/>'
                                f"</{ext}>"
                            ).encode()
                            if cfg.gzip_out:
                                payload = gzmod.compress(payload, mtime=0)
                            with open(tmp, "wb") as f:
                                f.write(payload)
                            n_out = len(payload)
                        os.replace(tmp, outfile)
                        dur = int((time.perf_counter() - t_start) * 1000)
                        rows.append(
                            (r.base, r.plate_rel, outfile, n_in,
                             n_out, "ok", attempts, dur, now_iso)
                        )
                    except Exception:  # noqa: BLE001 — status ledger, not crash
                        # a real converter may have written PART of
                        # tmp before dying — remove it or the orphan
                        # .partial lingers in the output tree forever
                        # (the stub buffers in memory, but the hook
                        # contract writes incrementally)
                        try:
                            os.unlink(tmp)
                        except OSError:
                            pass
                        dur = int((time.perf_counter() - t_start) * 1000)
                        rows.append(
                            (r.base, r.plate_rel, "", r.total_bytes, 0,
                             "failed", attempts, dur, now_iso)
                        )
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "base", "plate_rel", "outfile", "n_bytes_in",
                        "n_bytes_out", "status", "attempts", "duration_ms",
                        "converted_at",
                    ],
                )

        return runs.mapInPandas(do_convert, CONVERT_SCHEMA)

    # -- stage 4: archive ---------------------------------------------------
    def archive(self, converted: DataFrame) -> DataFrame:
        """tar(.gz) originals for successful conversions; skip|replace
        policy; atomic .partial rename; optional delete-original."""
        cfg = self.cfg
        if not cfg.archive_original:
            return self.spark.createDataFrame([], ARCHIVE_SCHEMA)
        watch, arc_root = cfg.watch_dir, cfg.archive_dir
        suffix, policy = cfg.run_suffix, cfg.archive_policy
        gzip_mode, delete = cfg.archive_gzip, cfg.delete_original

        def do_archive(batches):
            import glob
            import shutil

            import pandas as pd

            for pdf in batches:
                rows = []
                for r in pdf.itertuples():
                    if r.status not in ("ok", "already_converted"):
                        continue
                    run_dir = os.path.join(
                        watch, r.plate_rel, r.base + suffix
                    )
                    plate_arc = os.path.join(arc_root, r.plate_rel)
                    os.makedirs(plate_arc, exist_ok=True)
                    existing = glob.glob(
                        os.path.join(plate_arc, f"{r.base}-*.tar*")
                    )
                    if existing and policy == "skip":
                        rows.append(
                            (r.base, r.plate_rel, existing[0], "keep_existing")
                        )
                        continue
                    for p in existing:
                        os.unlink(p)
                    mode = "w:gz" if gzip_mode else "w"
                    ext = ".tar.gz" if gzip_mode else ".tar"
                    final = os.path.join(plate_arc, f"{r.base}-archive{ext}")
                    tmp = final + ".partial"
                    try:
                        with tarfile.open(tmp, mode) as tf:
                            tf.add(run_dir, arcname=os.path.basename(run_dir))
                        os.replace(tmp, final)
                        if delete:
                            shutil.rmtree(run_dir, ignore_errors=True)
                        rows.append(
                            (r.base, r.plate_rel, final,
                             "replace" if existing else "create")
                        )
                    except Exception:  # noqa: BLE001
                        if os.path.exists(tmp):
                            os.unlink(tmp)
                        rows.append((r.base, r.plate_rel, "", "failed"))
                yield pd.DataFrame(
                    rows,
                    columns=["base", "plate_rel", "archive_path", "action"],
                )

        return converted.mapInPandas(do_archive, ARCHIVE_SCHEMA)

    # -- stage 5: verify -----------------------------------------------------
    def verify(self, rows: list) -> dict:
        """Reference verify_batch over the collected batch rows: raise
        if all failed or failures exceed min(threshold, total)."""
        total = len(rows)
        failed = sum(r.status == "failed" for r in rows)
        skipped = sum(r.status == "already_converted" for r in rows)
        threshold = min(self.cfg.fail_threshold, total)
        if total > 0 and failed == total:
            raise RuntimeError(f"All {total} conversions failed")
        if failed > threshold:
            raise RuntimeError(
                f"{failed}/{total} conversions failed (> {threshold})"
            )
        return {
            "total": total,
            "failed": failed,
            "skipped": skipped,
            "succeeded": total - failed - skipped,
        }

    # -- ledger -------------------------------------------------------------
    @property
    def _ledger_path(self) -> str:
        return os.path.join(self.cfg.output_dir, "_ledger.parquet")

    @property
    def _ledger_table(self):
        from aichemy_data_pipelines_spark.pipeline.atomic import (
            AtomicParquetTable,
        )

        return AtomicParquetTable(self._ledger_path)

    def _read_ledger(self) -> DataFrame | None:
        return self._ledger_table.read(self.spark)

    def _append_ledger(self, converted: DataFrame) -> None:
        # manifest-commit (pipeline/atomic.py): a crash mid-append can
        # never leave a torn ledger — attempt history is all-or-nothing
        # per cycle, so a re-run of the crashed cycle is idempotent.
        self._ledger_table.append(
            converted.select(
                "base", "plate_rel", "status", "attempts", "duration_ms",
                "converted_at",
            )
        )

    # -- one polling cycle ----------------------------------------------------
    def run_once(self, now_ms: int | None = None) -> dict:
        from aichemy_data_pipelines_spark.pipeline.metrics import PipelineMetrics

        t_cycle = time.perf_counter()
        # reference parity: MS_POOL concurrency pool -> Spark fair-
        # scheduler pool (bounds this pipeline's share of the cluster)
        pool = self.cfg.extra.get("pool")
        if pool:
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", pool
            )
        # the cycle's only ledger read happens inside discover
        runs = self.quiet_filter(self.discover(), now_ms=now_ms)
        # Materialize the batch ONCE and cut lineage: the convert plan
        # depends on the ledger parquet, and appending to that ledger
        # below would invalidate a cache and silently re-run the cycle
        # against the updated ledger (side effects twice, stats of an
        # empty batch). The batch is bounded metadata (≤ max_map
        # rows), so a driver round-trip is sound at any data scale;
        # archive, ledger append and verify all start from these rows.
        rows = self.convert(runs).collect()
        converted = self.spark.createDataFrame(rows, CONVERT_SCHEMA)
        archived = self.archive(converted)
        n_archived = archived.where(
            F.col("action").isin("create", "replace")
        ).count()
        # ledger BEFORE verify: attempt tracking must survive a failed
        # batch verdict (reference: _on_convert_failure writes
        # .attempts/.skip regardless of verify_batch)
        self._append_ledger(converted)
        metrics = PipelineMetrics(self.spark, self.cfg.output_dir)
        try:
            stats = self.verify(rows)
        except RuntimeError:
            metrics.record_cycle(
                {"total": len(rows), "verdict": "failed"},
                int((time.perf_counter() - t_cycle) * 1000),
            )
            raise
        stats["archived"] = n_archived
        metrics.record_cycle(
            {**stats, "verdict": "ok"},
            int((time.perf_counter() - t_cycle) * 1000),
        )
        return stats

    # -- scheduler loop -------------------------------------------------------
    def run_forever(
        self,
        interval_s: float,
        max_cycles: int | None = None,
        clock=time.monotonic,
        sleep=time.sleep,
        on_cycle=None,
    ) -> list[dict]:
        """Cron-style FIXED-RATE polling loop — the reference's
        ``schedule_interval="*/5 * * * *"`` (msconvert_dag.py:167):
        cycle n starts at t0 + n·interval regardless of how long the
        previous cycle took (an overrunning cycle starts the next one
        immediately, it does not drift the grid). Runs until
        ``max_cycles`` (None = until SIGINT/KeyboardInterrupt, the
        daemon mode the CLI exposes as ``watch --interval``).

        A failed batch verdict (verify raising) does NOT stop the
        loop — the reference's failed DAG run doesn't unschedule the
        DAG either; the attempt ledger already advanced, so poisoned
        runs hit max_attempts and drop out of discovery.

        ``clock``/``sleep`` are injectable for tests.
        """
        results: list[dict] = []
        t0 = clock()
        n = 0
        while True:
            try:
                results.append(self.run_once())
            except RuntimeError as e:
                results.append({"verdict": "failed", "error": str(e)})
            n += 1
            if on_cycle is not None:
                on_cycle(n, results[-1])
            if max_cycles is not None and n >= max_cycles:
                return results
            delay = (t0 + n * interval_s) - clock()
            if delay > 0:
                sleep(delay)
