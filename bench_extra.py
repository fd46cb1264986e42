"""Extra benchmarks for optimization work (guide §1.4): per-query noop-sink
timing + .explain("formatted") capture, WITHOUT touching the frozen bench.py.

Usage:
    python bench_extra.py [--queries q1,q2,...] [--reps N] [--plans DIR]

Env (same contract as bench.py): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
Prints one JSON line {"queries": {name: min_sec}, "sf": ...} to stdout;
progress to stderr. Never used by the driver — numbers cited in
OPTIMIZATION_r08.md only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE  # noqa: E402  (the frozen bench's query list)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None, help="comma list; default headline")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir to dump explain(formatted)")
    ap.add_argument("--suffix", default="", help="plan filename suffix (_before/_after)")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from docling_japanese_books_spark.session import TABLES, get_spark

    qs = entry.queries()
    names = args.queries.split(",") if args.queries else HEADLINE

    spark = get_spark("bench_extra", cores=CPUS)
    # same warm-up as bench.py: footers + one trivial plan
    for name in TABLES:
        spark.read.parquet(f"{SF_DIR}/{name}.parquet").count()

    if args.plans:
        Path(args.plans).mkdir(parents=True, exist_ok=True)

    times = {}
    for name in names:
        df = qs[name](spark, SF_DIR)
        if args.plans:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (Path(args.plans) / f"{name}{args.suffix}.txt").write_text(buf.getvalue())
        reps = []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            reps.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        times[name] = round(min(reps), 3)
        log(f"  {name}: min {times[name]}s  (reps {[round(r, 2) for r in reps]})")

    print(
        json.dumps(
            {
                "metric": "bench_extra_noop",
                "queries": times,
                "value": round(sum(times.values()), 3),
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
