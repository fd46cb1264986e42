"""Repository benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload crawl_to_wet --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Set-up (session start, seeded input
generation, a checked warm-up pass) is counted in CPU seconds as
``setup_s``; then passes run back to back for ``--seconds`` (at least one)
at local[nproc], timed in CPU seconds net of JIT compilation, with
``spark.catalog.clearCache()`` and a JVM garbage collection between
passes, and ``clearCache()`` between queries. Every
pass's output is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics (plus the span file under
``.perfbench/spans/``) with ``--trace 1``. Exits 1 if any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

# every temp file the session and its workers write stays in the checkout
for _d in ("tmp", "spark-local"):
    (WORK / _d).mkdir(parents=True, exist_ok=True)
os.environ["TMPDIR"] = str(WORK / "tmp")
os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
# a 2 GiB driver heap holds every workload's inputs; the package default
# (8 GiB) lets the JVM grow to most of a small machine's memory
os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
sys.path[:0] = [str(HERE), str(ROOT)]

from harness import (  # noqa: E402
    RssSampler,
    Tracer,
    geomean,
    log,
    median,
    per_layer_catalogue,
    quantile,
    reset_between_passes,
    start_session,
    stop_session,
    tail_percentile,
    tree_cpu,
)
from crawl_to_wet import CrawlToWet  # noqa: E402
from query_mix import QueryMix  # noqa: E402

WORKLOADS = {"crawl_to_wet": CrawlToWet, "query_mix": QueryMix}
# input sizes per workload (the selftest shrinks them)
SIZES = {
    "crawl_to_wet": {"pages": 400, "big_pages": 2},
    "query_mix": {"sf": 0.01},
}
GEN_REPS = 3  # input generation is repeated; setup_s takes its median


def _timed(fn):
    """(result, wall s, cpu s of the whole process tree) of ``fn()``."""
    c, t = tree_cpu(os.getpid())[0], time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t, tree_cpu(os.getpid())[0] - c


def run(workload: str, seed: int, seconds: float, trace: bool, size: dict) -> dict:
    # fail fast, before any JVM starts, when the package is not importable
    import bench  # noqa: F401
    import docling_japanese_books_spark  # noqa: F401

    cores = os.cpu_count() or 4
    # set-up as (wall s, cpu s): session, median input generation, warm-up
    spark, *session = _timed(lambda: start_session(cores))
    try:
        wl = WORKLOADS[workload](spark, seed, **size)
        gen = [_timed(wl.generate)[1:] for _ in range(GEN_REPS)]
        (attempted, failures), *warm = _timed(wl.warm)
        reset_between_passes(spark)
        setup = [session[k] + median(g[k] for g in gen) + warm[k] for k in (0, 1)]
        log(
            f"[{workload}] setup {setup[1]:.2f} cpu-s, {setup[0]:.2f} s wall "
            f"(wall: session {session[0]:.2f}, gen {median(g[0] for g in gen):.2f} "
            f"x{GEN_REPS}, warm {warm[0]:.2f})"
        )
        walls, cpus, ops, rss, jits = [], [], [], [], []
        traced_vals, traced_tot = [], []
        tracer = Tracer()
        rounds = []
        deadline = time.perf_counter() + seconds
        with RssSampler() as sampler:
            while True:
                round_start = time.perf_counter()
                with sampler.window(rss):
                    j0 = tree_cpu(os.getpid())[1]
                    pass_ops, errs = wl.timed_pass()
                    jits.append(tree_cpu(os.getpid())[1] - j0)
                # a pass's time is its operations' time: output checks and
                # cache clearing between queries are not in it
                if pass_ops:
                    walls.append(sum(w for w, _ in pass_ops))
                    cpus.append(sum(c for _, c in pass_ops))
                reset_between_passes(spark)
                attempted += len(pass_ops) + len(errs)
                failures += errs
                ops += pass_ops
                if trace:
                    tracer.pass_id += 1
                    t = time.perf_counter()
                    with tracer.span("pass", workload=workload):
                        vals, n_ops, errs = wl.traced_pass(tracer)
                    traced_tot.append(time.perf_counter() - t)
                    reset_between_passes(spark)
                    attempted += n_ops
                    failures += errs
                    traced_vals.append(vals)
                # whole rounds only: stop when the next would overrun
                rounds.append(time.perf_counter() - round_start)
                if time.perf_counter() + median(rounds) > deadline:
                    break
    finally:
        stop_session(spark)

    for f in failures:
        log(f"FAILED {f}")
    walls, cpus = walls or [0.0], cpus or [0.0]  # every pass failed: the result says so
    lat = [w for w, _ in ops] or [0.0]
    op_cpu = [c for _, c in ops] or [0.0]
    n = len(lat)
    log(
        f"[{workload}] {len(walls)} passes: wall {', '.join(f'{w:.2f}' for w in walls)} s, "
        f"cpu {', '.join(f'{c:.2f}' for c in cpus)} cpu-s net of JIT compilation "
        f"({', '.join(f'{c:.2f}' for c in jits)} cpu-s); over {n} operations: "
        f"wall p50 {quantile(lat, 0.5) * 1e3:.1f} ms, p90 {quantile(lat, 0.9) * 1e3:.1f} ms, "
        f"cpu p50 {quantile(op_cpu, 0.5) * 1e3:.1f} ms, p90 {quantile(op_cpu, 0.9) * 1e3:.1f} ms, "
        f"geomean {geomean(op_cpu) * 1e3:.1f} ms "
        f"(not gated: the highest percentile with >=10 samples beyond it is "
        f"p{tail_percentile(n)})"
    )
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures)}
    if trace:
        cat = per_layer_catalogue()
        metrics = {k: {"value": 0, "unit": u} for k, u in cat.items()}
        for k in cat:
            seen = [v[k] for v in traced_vals if k in v]
            if seen:
                metrics[k]["value"] = median(seen)
        metrics["trace.overhead_s"]["value"] = median(traced_tot) - median(walls)
        metrics["untraced.setup_wall_s"]["value"] = setup[0]
        metrics["untraced.wall_s"]["value"] = median(walls)
        metrics["untraced.op_p50_ms"]["value"] = quantile(lat, 0.5) * 1e3
        spans = WORK / "spans" / f"{workload}-seed{seed}.json"
        tracer.write(spans)
        log(f"[{workload}] spans written to {spans.relative_to(ROOT)}")
    else:
        cpu = median(cpus)
        metrics = {
            "setup_s": {"value": setup[1], "unit": "s"},
            "cpu_s": {"value": cpu, "unit": "s"},
            "docs_per_cpu_s": {"value": wl.input_docs() / cpu, "unit": "1/s"},
            "op_geomean_cpu_ms": {"value": geomean(op_cpu) * 1e3, "unit": "ms"},
            "peak_rss_mb": {"value": median(rss), "unit": "MB"},
        }
        # failed_ops_ratio is 0 on a healthy run, so it rides in the
        # attempted/failed fields rather than the metrics map
        log(f"[{workload}] failed_ops_ratio {len(failures) / attempted:.4f} (ratio)")
    for k, v in metrics.items():
        log(f"  {k} = {v['value']:.6g} {v['unit']}")
    result["metrics"] = metrics
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), SIZES[args.workload])
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
