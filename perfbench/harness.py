"""Process set-up, the closed-loop operation runner and the metrics
derived from it.

One benchmark process drives one workload through one SparkSession on
``local[nproc]``.  Every operation runs under its own Spark job group
(``perfbench-<n>``), so the traced run can attribute jobs to it.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench import sparkstore
from perfbench.stats import partition, self_time, summary

#: Job groups the benchmark gives its operations.
GROUP_PREFIX = "perfbench-"


#: Driver heap (the inputs are tens of MB).
HEAP = "2g"


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pin_environment(work_dir: str) -> int:
    """Pin Spark to this machine before the JVM starts; returns cores.

    * ``local[nproc]`` and nproc shuffle partitions, through the
      session factory's ``SPARK_GRAFT_CPUS``;
    * the repo root on ``PYTHONPATH``, which Python workers inherit
      (``mapInPandas`` workers import the package);
    * scratch, temp and Spark local dirs inside the work dir, and no
      JVM perf-data file in /tmp (``-XX:-UsePerfData`` for every JVM),
      so the process writes nothing outside the checkout;
    * enough retained jobs/stages in the status store for a whole run.

    The driver heap is fixed at ``HEAP`` and touched at launch
    (``spark.driver.memory``, ``-Xms``, ``-XX:+AlwaysPreTouch``), so no
    heap resizing or first-touch page faults happen during a timed
    section.  Left to grow towards the session factory's 8g, the JVM
    sized its heap differently from run to run and ``peak_rss_mb``
    varied by a third between seeds.  With the heap fixed,
    ``peak_rss_mb`` is the heap plus what the program holds outside it
    (JVM metaspace, code cache, direct buffers, threads; the Python
    driver); heap use itself shows in ``old_gen_peak_mb``.
    """
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = repo_root()
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100",
            "--conf 'spark.driver.extraJavaOptions="
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}'",
            "pyspark-shell",
        ]),
    })
    if root not in sys.path:
        sys.path.insert(0, root)
    return cores


def versions(spark) -> dict:
    out = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    java = [line for line in out if " version " in line]
    return {
        "spark": spark.version,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
    }


class Session:
    """The SparkSession, started through the repo's ``session`` layer.
    ``start`` again stops the context and starts a new one in the same
    driver JVM; ``close`` stops the context and the JVM."""

    def __init__(self) -> None:
        self.spark = None

    def start(self):
        from aichemy_data_pipelines_spark import session

        if self.spark is not None:
            self.spark.stop()
        self.spark = session.get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int | None:
        gw = self.spark.sparkContext._gateway if self.spark else None
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def peak_rss_mb(pids: list[int | None]) -> float:
    """Summed VmHWM (peak resident set) of ``pids``, from /proc."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _old_gen_pools(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if "Old Gen" in p.getName()]


def reset_old_gen_peak(spark) -> None:
    for p in _old_gen_pools(spark):
        p.resetPeakUsage()


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation since the last
    ``reset_old_gen_peak``: objects that live past a young collection
    (cached and broadcast data, large buffers).  The program drives it,
    whatever the heap's size."""
    return sum(p.getPeakUsage().getUsed() for p in _old_gen_pools(spark)) / 2**20


def cpu_probe() -> float:
    """Seconds a fixed single-thread loop takes: how fast the machine
    runs at this moment (it changes over minutes on shared hosts)."""
    t0, acc = time.perf_counter(), 0
    for i in range(100_000):
        acc += i * i % 7
    return time.perf_counter() - t0


@dataclass
class Op:
    idx: int
    kind: str
    group: str
    start: float  # wall clock, seconds
    end: float
    wall: float  # perf_counter duration
    ok: bool = True
    items: int = 0
    error: str | None = None
    probe: float = 0.0  # cpu_probe() just before the operation


@dataclass
class OpRunner:
    """Closed loop with one caller: the next operation starts only
    after the previous one returned and its output was checked."""

    spark: object
    tracer: object | None = None
    first_idx: int = 0  # op numbers (and job groups) start here
    ops: list[Op] = field(default_factory=list)

    def run(self, kind: str, fn, check) -> Op:
        """Time ``fn()``; then ``check(result)`` (untimed) returns the
        items the operation completed, or raises if its output is
        wrong.  Any exception marks the operation failed."""
        idx = self.first_idx + len(self.ops)
        group = f"{GROUP_PREFIX}{idx}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        probe = cpu_probe()
        if self.tracer is not None:
            self.tracer.op = idx
        start, t0 = time.time(), time.perf_counter()
        op = Op(idx, kind, group, start, start, 0.0, probe=probe)
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 - counted, run continues
            result, op.ok, op.error = None, False, f"{type(e).__name__}: {e}"
        op.wall = time.perf_counter() - t0
        op.end = time.time()
        if self.tracer is not None:
            self.tracer.op = None
        sc.setJobGroup("perfbench-check", "check")
        if op.ok:
            try:
                op.items = int(check(result))
            except Exception as e:  # noqa: BLE001 - counted, run continues
                op.ok, op.error = False, f"check: {type(e).__name__}: {e}"
        if op.error:
            print(f"op {idx} {kind} FAILED: {op.error[:500]}", file=sys.stderr)
        self.ops.append(op)
        return op

    @property
    def wall(self) -> float:
        return sum(o.wall for o in self.ops)


def end_to_end(ops: list[Op]) -> dict:
    """items/s, latency summary and error ratio of a timed section."""
    walls = [o.wall for o in ops]
    done = sum(o.items for o in ops if o.ok)
    return {
        "items_per_s": done / sum(walls),
        "op": summary(walls),
        "op_error_ratio": sum(not o.ok for o in ops) / len(ops),
    }


def engine_metrics(ops: list[Op], jobs, stages) -> dict:
    """Per-operation means of the Spark-side counters (``engine.*``)."""
    n = len(ops)
    tot = dict.fromkeys(
        ("jobs", "tasks", "busy", "gap", "input", "records", "shuffle_write",
         "spill"),
        0.0,
    )
    for op in ops:
        mine = sparkstore.op_jobs(jobs, op.group)
        tot["jobs"] += len(mine)
        tot["tasks"] += sum(j.n_tasks for j in mine)
        tot["gap"] += self_time((op.start, op.end), [(j.start, j.end) for j in mine])
        for sid in {s for j in mine for s in j.stage_ids}:
            st = stages.get(sid)
            if st is None:
                continue
            tot["busy"] += st.run_time_s
            tot["input"] += st.input_bytes
            tot["records"] += st.input_records
            tot["shuffle_write"] += st.shuffle_write_bytes
            tot["spill"] += st.spill_bytes
    return {
        "engine.jobs_per_op": tot["jobs"] / n,
        "engine.tasks_per_op": tot["tasks"] / n,
        "engine.busy_s": tot["busy"] / n,
        "engine.driver_gap_s": tot["gap"] / n,
        "engine.input_bytes": tot["input"] / n,
        "engine.input_records": tot["records"] / n,
        "engine.shuffle_write_bytes": tot["shuffle_write"] / n,
        "engine.spill_bytes": tot["spill"] / n,
    }


def plan_s(ops: list[Op], jobs) -> float:
    """Median time from an operation's call to its first Spark job."""
    gaps = []
    for op in ops:
        mine = sparkstore.op_jobs(jobs, op.group)
        if mine:
            gaps.append(max(0.0, min(j.start for j in mine) - op.start))
    return statistics.median(gaps) if gaps else 0.0


#: AtomicParquetTable functions on the write (commit) path: jobs called
#: from them are commit time; jobs from its reads count toward the
#: stage that reads.
ATOMIC_COMMIT = frozenset({"append", "overwrite", "_commit", "_write_data"})

#: Nesting depth given to Spark jobs in ``exclusive_times``: deeper
#: than any span, so job time goes to the job's own label.
JOB_DEPTH = 1000


def exclusive_times(ops, tracer, jobs, span_label, job_label) -> dict:
    """Mean exclusive seconds per label per operation.

    Each operation's interval is split by ``stats.partition`` over its
    spans (labelled by ``span_label(span)``, at their nesting depth)
    and its Spark jobs (labelled by ``job_label(job)``; None leaves a
    job's time to the span around it).  Time no span covers goes to
    ``harness``.  Per operation the labels sum to its wall time.
    """
    totals: dict[str, float] = {}
    for op in ops:
        spans = tracer.of_op(op.idx)
        by_id = {s.span_id: s for s in spans}
        labelled = []
        for s in spans:
            depth, p = 1, s.parent
            while p in by_id:
                depth, p = depth + 1, by_id[p].parent
            labelled.append((s.start, s.end, depth, span_label(s)))
        for j in sparkstore.op_jobs(jobs, op.group):
            lab = job_label(j)
            if lab is not None:
                labelled.append((j.start, j.end, JOB_DEPTH, lab))
        for lab, t in partition((op.start, op.end), labelled, "harness").items():
            totals[lab] = totals.get(lab, 0.0) + t
    return {k: v / len(ops) for k, v in totals.items()}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
