"""Spark job and stage records read from the driver's status store.

The status store (``SparkContext.statusStore``) is filled by the
listener bus even with the web UI disabled.  ``read_jobs`` returns one
record per job with its job group, call site and submit/end times;
``read_stages`` gives the per-stage executor counters.  Every benchmark
operation runs under its own job group, so jobs are attributed to the
operation that caused them, and ``code_location`` maps a job's call
site to the repo module and function that triggered it.
"""

from __future__ import annotations

import ast
import functools
import importlib
import json
import os
import re
import sys
from dataclasses import asdict, dataclass

PACKAGE = "aichemy_data_pipelines_spark"
_CALL_SITE = re.compile(r"^(\S+) at (.+):(\d+)$")


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str
    start: float  # wall-clock seconds
    end: float
    n_tasks: int
    stage_ids: list[int]


@dataclass
class Stage:
    run_time_s: float  # summed executorRunTime over its tasks
    input_bytes: int
    input_records: int
    shuffle_write_bytes: int
    spill_bytes: int  # memoryBytesSpilled


def _opt(o):
    return o.get() if o.isDefined() else None


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def drain(sc) -> None:
    """Wait until every queued listener event has reached the store."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def read_jobs(sc) -> list[Job]:
    jobs = []
    for j in _iter(sc._jsc.sc().statusStore().jobsList(None)):
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or done is None:
            continue
        jobs.append(Job(
            job_id=j.jobId(),
            group=_opt(j.jobGroup()),
            call_site=j.name(),
            start=sub.getTime() / 1000.0,
            end=done.getTime() / 1000.0,
            n_tasks=j.numTasks(),
            stage_ids=list(_iter(j.stageIds())),
        ))
    return sorted(jobs, key=lambda j: j.job_id)


def read_stages(sc) -> dict[int, Stage]:
    """Counters per stage id, summed over attempts."""
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 0)
    out: dict[int, Stage] = {}
    store = sc._jsc.sc().statusStore()
    for s in _iter(store.stageList(None, False, False, quantiles, None)):
        prev = out.get(s.stageId(), Stage(0.0, 0, 0, 0, 0))
        out[s.stageId()] = Stage(
            prev.run_time_s + s.executorRunTime() / 1000.0,
            prev.input_bytes + s.inputBytes(),
            prev.input_records + s.inputRecords(),
            prev.shuffle_write_bytes + s.shuffleWriteBytes(),
            prev.spill_bytes + s.memoryBytesSpilled(),
        )
    return out


@dataclass(frozen=True)
class CodeLocation:
    module: str  # dotted, relative to the package: "pipeline.batch"
    function: str  # innermost enclosing def, "" at module level
    statement: str  # source of the innermost statement on that line


@functools.lru_cache(maxsize=None)
def _parse(path: str):
    """(function spans, simple-statement spans, source lines) of a file."""
    with open(path) as f:
        src = f.read()
    nodes = list(ast.walk(ast.parse(src)))
    defs = tuple(
        (n.lineno, n.end_lineno, n.name)
        for n in nodes
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    )
    stmts = tuple(
        (n.lineno, n.end_lineno)
        for n in nodes
        if isinstance(n, ast.stmt) and not hasattr(n, "body")
    )
    return defs, stmts, tuple(src.splitlines())


def code_location(call_site: str) -> CodeLocation | None:
    """The repo module, function and source line a job was called
    from, or None when the call site lies outside the package."""
    m = _CALL_SITE.match(call_site)
    if m is None:
        return None
    path, line = m.group(2), int(m.group(3))
    parts = path.replace(os.sep, "/").split("/")
    if PACKAGE not in parts or not os.path.isfile(path):
        return None
    rel = parts[parts.index(PACKAGE) + 1:]
    module = ".".join(rel)[: -len(".py")]
    defs, stmts, lines = _parse(path)
    inner = [f for f in defs if f[0] <= line <= f[1]]
    function = max(inner)[2] if inner else ""
    spans = [s for s in stmts if s[0] <= line <= s[1]] or [(line, line)]
    first, last = max(spans)
    text = " ".join(x.strip() for x in lines[first - 1:last])
    return CodeLocation(module, function, text)


def op_jobs(jobs: list[Job], group: str) -> list[Job]:
    return [j for j in jobs if j.group == group]


def dump_jobs(jobs: list[Job], path: str) -> None:
    with open(path, "w") as f:
        for j in jobs:
            f.write(json.dumps(asdict(j)) + "\n")


#: PySpark calls that start jobs without setting a Python call site
#: (Spark then reports "NativeMethodAccessorImpl.java:0").
_UNNAMED = (
    ("pyspark.sql.classic.dataframe", "DataFrame", ("count", "localCheckpoint", "checkpoint")),
    ("pyspark.sql.readwriter", "DataFrameReader", ("load", "parquet")),
    ("pyspark.sql.readwriter", "DataFrameWriter", ("save", "parquet")),
)


class _Naming:
    active = False


def name_call_sites(tracer) -> None:
    """Traced run only: make the calls in ``_UNNAMED`` name their
    Python caller as the call site of the jobs they start, the way
    PySpark's actions (``collect``, ``count``) already do.  Patched
    through ``tracer`` so that ``tracer.restore`` undoes it."""
    state = _Naming()

    def named(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            if sc is None or state.active:
                return fn(*args, **kwargs)
            caller = sys._getframe(1)
            state.active = True
            sc._jsc.setCallSite(
                f"{fn.__name__} at {caller.f_code.co_filename}:{caller.f_lineno}"
            )
            try:
                return fn(*args, **kwargs)
            finally:
                sc._jsc.setCallSite(None)
                state.active = False

        return wrapper

    for module, cls_name, attrs in _UNNAMED:
        cls = getattr(importlib.import_module(module), cls_name)
        for attr in attrs:
            tracer.patch(cls, attr, named(cls.__dict__[attr]))
