"""Self-test of the benchmark, at tiny input sizes:

    python3 perfbench/selftest.py

1. The correctness gates reject planted wrong outputs: one flipped byte in
   a WET record (``crawl_to_wet``) and one altered value in a query result
   (``query_mix``).
2. Every workload, untraced and traced, passes its checks and emits exactly
   the metric names ``BENCHMARK.json`` lists, each with its unit.

Exits 0 when every check holds.
"""

from __future__ import annotations

import gzip
import json
import os
import subprocess
import sys

import run  # noqa: F401  (sets the checkout-local temp dirs and sys.path)
from harness import ROOT, log, per_layer_catalogue, start_session, stop_session

TINY = {
    "crawl_to_wet": {"pages": 60, "big_pages": 1},
    "query_mix": {"sf": 0.002},
}
SEED = 5


def flip_one_wet_byte(out_dir) -> None:
    """Change one byte of the first record body in the first WET archive."""
    path = sorted(out_dir.glob("*.warc.wet.gz"))[0]
    data = bytearray(gzip.decompress(path.read_bytes()))
    conv = data.index(b"WARC-Type: conversion")
    body = data.index(b"\r\n\r\n", conv) + 4
    data[body] = ord("X") if data[body] != ord("X") else ord("Y")
    path.write_bytes(gzip.compress(bytes(data)))


def gate_checks() -> list:
    from crawl_to_wet import CrawlToWet
    from query_mix import QueryMix

    errors = []
    spark = start_session(os.cpu_count() or 4)
    try:
        crawl = CrawlToWet(spark, SEED, **TINY["crawl_to_wet"])
        crawl.generate()
        out = crawl._out_dir()
        report = crawl._pass(out)
        if crawl.check(out, report):
            errors.append(f"crawl_to_wet: clean output rejected: {crawl.check(out, report)}")
        flip_one_wet_byte(out)
        if not crawl.check(out, report):
            errors.append("crawl_to_wet: a flipped WET byte passed the gate")

        qm = QueryMix(spark, SEED, **TINY["query_mix"])
        qm.generate()
        name = "q1_pricing_summary"
        df = qm.fns[name](spark, str(qm.dir))
        rows = [tuple(r) for r in df.collect()]
        if qm.check(name, rows, df.columns):
            errors.append(f"query_mix: clean {name} rejected")
        tampered = [tuple(x + 1 if isinstance(x, float) else x for x in rows[0])] + rows[1:]
        if not qm.check(name, tampered, df.columns):
            errors.append(f"query_mix: an altered {name} value passed the gate")
        if not qm.check("similarity_topk_ivf", [], ["query_id"]):
            errors.append("query_mix: an empty top-k result passed the gate")
    finally:
        stop_session(spark)
    return errors


def metric_checks() -> list:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    errors = []
    if want[1] != per_layer_catalogue():
        errors.append("BENCHMARK.json per_layer differs from harness.per_layer_catalogue()")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(TINY):
        errors.append("BENCHMARK.json workloads differ from the self-test's")
    for wl in TINY:
        for trace in (0, 1):
            spans = ROOT / ".perfbench" / "spans" / f"{wl}-seed{SEED}.json"
            spans.unlink(missing_ok=True)
            # one process per run: a JVM cannot be restarted under the
            # package's module-level UDFs
            proc = subprocess.run(
                [sys.executable, __file__, "--run", wl, str(trace)],
                stdout=subprocess.PIPE,
                cwd=ROOT,
                timeout=600,
            )
            lines = proc.stdout.decode().strip().splitlines()
            if proc.returncode or not lines:
                errors.append(f"{wl} trace={trace}: exit {proc.returncode}")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                errors.append(f"{wl} trace={trace}: metrics {sorted(set(got) ^ set(want[trace]))} differ")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errors.append(f"{wl} trace={trace}: run not correct: {res}")
            if trace == 0 and any(v["value"] <= 0 for v in res["metrics"].values()):
                errors.append(f"{wl}: an end-to-end metric is not positive")
            if trace == 1 and not spans.exists():
                errors.append(f"{wl}: no span file")
    return errors


def main() -> int:
    if sys.argv[1:2] == ["--run"]:
        wl, trace = sys.argv[2], bool(int(sys.argv[3]))
        print(json.dumps(run.run(wl, SEED, 0.1, trace, TINY[wl])), flush=True)
        return 0
    errors = gate_checks() + metric_checks()
    for e in errors:
        log(f"SELFTEST FAIL {e}")
    log("selftest: ok" if not errors else f"selftest: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
