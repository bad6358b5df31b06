"""``olap_queries``: read-only registry queries over the seeded star
schema at ``SF``.

The timed section is ``PASSES`` passes over the ten-query mix, each in
an order drawn from the seed.  Every
result is compared with the query's DuckDB twin (``ORACLE``), computed
once per run before the timed section.  The workload scans, joins,
shuffles and generates code, but writes nothing, starts no Python
workers and never touches ``pipeline.*``: a change on the ingest side
should leave it unchanged.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import statistics
from decimal import Decimal

from perfbench import harness
from perfbench.datagen import write_star_schema

SF = 0.05  # stated input size (lineitem ~ 300k rows)
WARM_SF = 0.001  # smallest input, for warm-up and priming
PASSES = 1  # passes over the mix per section
#: (operator module, query name, short name used in metric names)
MIX = [
    ("tpch", "q1_pricing_summary", "q1"),
    ("tpch", "q3_shipping_priority", "q3"),
    ("tpch", "q5_local_supplier_volume", "q5"),
    ("tpch", "q6_revenue_forecast", "q6"),
    ("tpch", "q9_product_profit", "q9"),
    ("tpch", "q18_large_volume_customer", "q18"),
    ("timeseries", "events_sessionize", "events_sessionize"),
    ("timeseries", "events_asof_join", "events_asof_join"),
    ("dedup", "dedup_minhash_lsh", "dedup_minhash_lsh"),
    ("similarity", "ann_cosine_topk", "ann_cosine_topk"),
]
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _operator(module: str):
    import importlib

    return importlib.import_module(f"aichemy_data_pipelines_spark.operators.{module}")


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    return v


def _rows(columns, records) -> list[tuple]:
    """Rows as tuples over name-sorted columns, sorted (NULL-safe)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in records), key=repr
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


class OlapQueries:
    name = "olap_queries"
    writes = False

    def __init__(self, work_dir: str, seed: int):
        self.work = os.path.join(work_dir, self.name)
        self.seed = seed
        self.data_dir = os.path.join(self.work, "sf")
        self.warm_dir = os.path.join(self.work, "warm")
        self.oracle: dict[str, list[tuple]] = {}
        self.tracer = None
        self.exclusive: dict[str, float] = {}

    def generate(self) -> None:
        """Write both inputs and compute every oracle answer."""
        import duckdb

        write_star_schema(self.data_dir, SF, self.seed)
        write_star_schema(self.warm_dir, WARM_SF, self.seed + 1)
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for module, query, _ in MIX:
                rel = con.sql(_operator(module).ORACLE[query])
                self.oracle[query] = _rows(rel.columns, rel.fetchall())
        finally:
            con.close()

    def _run(self, spark, module: str, query: str, sf_dir: str):
        build = _operator(module).QUERIES[query]
        if self.tracer is None or self.tracer.op is None:
            df = build(spark, sf_dir)
            return df.columns, df.collect()
        df = self.tracer.call("operators", "operators.build", build, spark, sf_dir)
        return df.columns, self.tracer.call("engine", "engine.collect", df.collect)

    def warmup(self, spark, k: int) -> None:
        """The mix's first query on the smallest input."""
        module, query, _ = MIX[0]
        self._run(spark, module, query, self.warm_dir)

    def prime(self, spark) -> None:
        """One pass of the mix on the stated input, untimed: code
        generation of every plan, and JIT compilation and OS caching at
        the input's size, happen before the timed pass."""
        for module, query, _ in MIX:
            self._run(spark, module, query, self.data_dir)

    def _check(self, query: str, result) -> int:
        columns, records = result
        want = self.oracle[query]
        if not want:
            raise AssertionError(f"{query}: oracle result is empty")
        if not rows_match(_rows(columns, [tuple(r) for r in records]), want):
            raise AssertionError(f"{query}: result differs from the DuckDB oracle")
        return 1

    def section(self, runner, tag: str):
        """PASSES passes over the mix, each in seeded order."""
        order = random.Random(self.seed)
        for _ in range(PASSES):
            mix = MIX[:]
            order.shuffle(mix)
            for module, query, _ in mix:
                runner.run(
                    query,
                    lambda m=module, q=query: self._run(
                        runner.spark, m, q, self.data_dir
                    ),
                    lambda res, q=query: self._check(q, res),
                )
        return runner.ops

    def trace_hooks(self, tracer) -> None:
        """Each query records a plan-building span (the operator
        function) and an execution span (``collect``)."""
        self.tracer = tracer

    def layer_metrics(self, ops, tracer, jobs, tag: str) -> dict:
        out = {}
        for _, query, short in MIX:
            walls = [o.wall for o in ops if o.kind == query]
            out[f"operators.query.{short}_s"] = statistics.median(walls)
        out["operators.plan_s"] = harness.plan_s(ops, jobs)
        self.exclusive = harness.exclusive_times(
            ops, tracer, jobs, lambda s: s.name, lambda j: None
        )
        return out
