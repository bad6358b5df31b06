"""The repo benchmark: one seeded workload per process, Spark
``local[nproc]``.

    python3 perfbench/run.py --workload ms_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Prints every metric by name and unit, then, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` whose metrics
are the ``end_to_end`` list of BENCHMARK.json (``--trace 0``) or its
``per_layer`` list (``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.stats import percentile  # noqa: E402

N_SETUPS = 3
WORKLOADS = ("ms_ingest", "olap_queries", "corpus_curation")
#: The traced ms_ingest run also traces a small corpus_curation section
#: and reports these layers from it: corpus_curation itself is too slow
#: for BENCHMARK.json's per-run time (see README.md, "Time budget").
CORPUS_LAYERS = ("streaming.corpus_ingest.", "pipeline.corpus_build.")


def _workload(name: str, work_dir: str, seed: int):
    if name == "ms_ingest":
        from perfbench.ms_ingest import MsIngest

        return MsIngest(work_dir, seed)
    if name == "olap_queries":
        from perfbench.olap import OlapQueries

        return OlapQueries(work_dir, seed)
    from perfbench.corpus import CorpusCuration

    return CorpusCuration(work_dir, seed)


def _contract() -> dict:
    with open(os.path.join(harness.repo_root(), "BENCHMARK.json")) as f:
        return json.load(f)


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def run_workload(args) -> int:
    root = harness.repo_root()
    bench_dir = os.path.join(root, "perfbench", "_work")
    work = os.path.join(bench_dir, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = harness.pin_environment(work)
    try:
        import aichemy_data_pipelines_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    contract = _contract()
    wl = _workload(args.workload, work, args.seed)
    session = harness.Session()
    try:
        return _measure(args, contract, wl, session, cores, work, bench_dir)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)


def _trace_corpus(spark, work: str, seed: int, first_idx: int):
    """Warm up, prime and trace one ``corpus.SMALL`` section; returns
    its ops and its metrics of the CORPUS_LAYERS."""
    from perfbench import sparkstore
    from perfbench.corpus import SMALL, CorpusCuration
    from perfbench.spans import Tracer

    wl = CorpusCuration(work, seed, SMALL)
    wl.generate()
    wl.warmup(spark, 0)
    wl.prime(spark)
    tracer = Tracer()
    sparkstore.name_call_sites(tracer)
    wl.trace_hooks(tracer)
    runner = harness.OpRunner(spark, tracer, first_idx=first_idx)
    try:
        wl.section(runner, "traced")
    finally:
        tracer.restore()
    sparkstore.drain(spark.sparkContext)
    jobs = sparkstore.read_jobs(spark.sparkContext)
    layer = wl.layer_metrics(runner.ops, tracer, jobs, "traced")
    return runner.ops, {k: v for k, v in layer.items() if k.startswith(CORPUS_LAYERS)}


def _measure(args, contract, wl, session, cores, work, bench_dir) -> int:
    from perfbench.spans import Tracer

    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    starts, warmups = [], []
    for k in range(N_SETUPS):
        t0 = time.perf_counter()
        spark = session.start()
        t1 = time.perf_counter()
        wl.warmup(spark, k)
        starts.append(t1 - t0)
        warmups.append(time.perf_counter() - t1)
    setups = [a + b for a, b in zip(starts, warmups)]
    t0 = time.perf_counter()
    wl.prime(spark)
    prime_s = time.perf_counter() - t0
    info = {"cores": cores, "seed": args.seed, **harness.versions(spark)}

    runner = harness.OpRunner(spark)
    harness.reset_old_gen_peak(spark)
    ops = wl.section(runner, "timed")
    all_ops = list(ops)
    layer: dict[str, float] = {"engine.old_gen_peak_mb": harness.old_gen_peak_mb(spark)}
    if args.trace:
        from perfbench import sparkstore

        tracer = Tracer()
        sparkstore.name_call_sites(tracer)
        wl.trace_hooks(tracer)
        traced = harness.OpRunner(spark, tracer, first_idx=len(ops))
        try:
            wl.section(traced, "traced")
        finally:
            tracer.restore()
        sparkstore.drain(spark.sparkContext)
        jobs = sparkstore.read_jobs(spark.sparkContext)
        stages = sparkstore.read_stages(spark.sparkContext)
        t_ops = traced.ops
        layer.update(harness.engine_metrics(t_ops, jobs, stages))
        layer.update(wl.layer_metrics(t_ops, tracer, jobs, "traced"))
        layer["trace.overhead_s"] = traced.wall - runner.wall
        all_ops += t_ops
        if wl.name == "ms_ingest":
            side_ops, side = _trace_corpus(spark, work, args.seed, len(all_ops))
            layer.update(side)
            all_ops += side_ops
        os.makedirs(bench_dir, exist_ok=True)
        tracer.dump(os.path.join(bench_dir, f"spans-{wl.name}.jsonl"))
        sparkstore.dump_jobs(jobs, os.path.join(bench_dir, f"jobs-{wl.name}.jsonl"))
    layer["session.cold_setup_s"] = setups[0]  # includes the JVM launch
    layer["session.start_s"] = statistics.median(starts)
    layer["session.warmup_s"] = statistics.median(warmups)
    layer["session.prime_s"] = prime_s

    e2e = harness.end_to_end(ops)
    metrics = {
        "setup_s": statistics.median(setups),
        "items_per_s": e2e["items_per_s"],
        "op_p50_s": e2e["op"]["p50"],
        "peak_rss_mb": harness.peak_rss_mb([os.getpid(), session.jvm_pid()]),
    }
    extra = {"op_error_ratio": e2e["op_error_ratio"]}
    if len(ops) >= 100:
        metrics["op_p90_s"] = percentile([o.wall for o in ops], 90.0)
    if wl.writes:
        sec = wl.sections["timed"]
        extra["stored_bytes_per_input_byte"] = sec["stored_bytes"] / sec["input_bytes"]

    failed = sum(not o.ok for o in all_ops)
    _report(args, wl, info, gen_s, setups, ops, metrics, extra, e2e, layer)
    wanted = contract["per_layer" if args.trace else "end_to_end"]
    values = {**metrics, **extra, **layer}
    missing = [m["name"] for m in wanted if m["name"] not in values]
    out = {
        m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
        for m in wanted
    }
    if missing and not args.trace:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": out,
    }))
    return 0


def _report(args, wl, info, gen_s, setups, ops, metrics, extra, e2e, layer):
    p = print
    p(f"perfbench workload={wl.name} seed={args.seed} trace={args.trace} "
      f"cores={info['cores']} spark={info['spark']} python={info['python']} "
      f"java={info['java']!r}")
    p(f"  input generation {gen_s:.2f} s (excluded); cpu probe median "
      f"{statistics.median(o.probe for o in ops) * 1000:.2f} ms")
    p(f"  setup_s                     {_fmt(metrics['setup_s'])} s   "
      f"(median of {len(setups)} set-ups: {', '.join(_fmt(s) for s in setups)})")
    p(f"  items_per_s                 {_fmt(metrics['items_per_s'])} 1/s")
    op = e2e["op"]
    p(f"  op_p50_s                    {_fmt(op['p50'])} s   (n={op['n']}; "
      f"ops: {', '.join(f'{o.kind} {o.wall:.3f}' for o in ops)})")
    if "op_p90_s" in metrics:
        p(f"  op_p90_s                    {_fmt(metrics['op_p90_s'])} s")
    elif "tail_p" in op:
        p(f"  op_p90_s                    n/a; highest percentile with >=10 "
          f"beyond: p{op['tail_p']:g} = {_fmt(op['tail'])} s (n={op['n']})")
    else:
        p(f"  op_p90_s                    n/a (n={op['n']}: no percentile has >=10 samples beyond it)")
    p(f"  op_error_ratio              {_fmt(extra['op_error_ratio'])} ratio")
    p(f"  peak_rss_mb                 {_fmt(metrics['peak_rss_mb'])} MB   "
      f"(old generation peak in the timed section: "
      f"{_fmt(layer['engine.old_gen_peak_mb'])} MB)")
    if "stored_bytes_per_input_byte" in extra:
        p(f"  stored_bytes_per_input_byte {_fmt(extra['stored_bytes_per_input_byte'])} ratio")
    for name in sorted(layer):
        p(f"  {name:<40s} {_fmt(layer[name])}")
    ex = getattr(wl, "exclusive", None)
    if args.trace and ex:
        total = sum(ex.values())
        p(f"  exclusive time per op: {json.dumps({k: round(v, 4) for k, v in sorted(ex.items())})}")
        p(f"  exclusive times sum to {total:.4f} s = mean traced op wall; "
          f"tracing overhead {layer['trace.overhead_s']:.4f} s per section "
          f"({layer['trace.overhead_s'] / len(ops):.4f} s per op)")



def _exit_on_sigterm(signum, frame):
    # run the cleanup in ``run_workload``'s finally: stop the JVM
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the benchmark interface; every section has a fixed
    # operation count, sized to about 10 s at 4 cores (README.md)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload != "all":
        return run_workload(args)
    rc = 0
    for w in WORKLOADS:
        rc |= subprocess.run([
            sys.executable, os.path.abspath(__file__), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ], check=False).returncode
    return rc


if __name__ == "__main__":
    sys.exit(main())
