"""Shared machinery for the benchmark workloads: session start, the RSS
sampler, the span tracer, quantiles and the per-layer metric catalogue.

Nothing here imports Spark at module import time, so ``run.py`` can point
the JVM and Python temp dirs into the checkout before a session exists.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

# query_mix runs bench.HEADLINE plus the ANN engines (ROADMAP direction 4)
HEADLINE_EXTRA = (
    "similarity_topk_ivf",
    "similarity_topk_lsh",
    "similarity_topk_pq",
    "ann_ivf_persist",
)


def query_names() -> list:
    """The 10 frozen-bench headline queries plus the four ANN engines."""
    from bench import HEADLINE

    return list(HEADLINE) + list(HEADLINE_EXTRA)


CRAWL_OPS = (
    "sources.warc.read_warc",
    "extraction.html.extract_pages",
    "operators.normalize.normalize_cjk_udf",
    "operators.textstats.lang_quality",
    "operators.dedup.minhash_lsh_candidates",
    "pipeline.curate.curate_corpus",
    "sources.warc.write_wet",
)
RESUME_OPS = (
    "pipeline.driver.run_extraction_pipeline.killed",
    "pipeline.driver.completed_buckets",
    "pipeline.driver.run_extraction_pipeline.resumed",
)


def per_layer_catalogue() -> dict:
    """name -> unit for every per-layer metric, in BENCHMARK.json order.
    Every traced run emits all of them; a layer the traced workload never
    calls reports 0 (perfbench/README.md maps layers to workloads)."""
    cat = {
        "sources.warc.read_warc.busy_s": "s",
        "sources.warc.read_warc.rows_out": "count",
        "sources.warc.read_warc.bytes_in": "bytes",
        "sources.warc.write_wet.busy_s": "s",
        "sources.warc.write_wet.bytes_out": "bytes",
        "sources.warc.write_wet.files": "count",
        "extraction.html.extract_pages.busy_s": "s",
        "extraction.html.extract_pages.bytes_in": "bytes",
        "extraction.html.extract_pages.bytes_out": "bytes",
        "extraction.html.extract_pages.ok_ratio": "ratio",
        "operators.normalize.normalize_cjk_udf.busy_s": "s",
        "operators.textstats.lang_quality.busy_s": "s",
        "operators.dedup.minhash_lsh_candidates.busy_s": "s",
        "operators.dedup.minhash_lsh_candidates.candidate_pairs": "count",
        "operators.dedup.minhash_lsh_candidates.pairs_verified_ratio": "ratio",
        "pipeline.curate.curate_corpus.busy_s": "s",
        "pipeline.curate.curate_corpus.quality_pass_ratio": "ratio",
        "pipeline.curate.curate_corpus.near_dup_removed_ratio": "ratio",
        "pipeline.driver.run_extraction_pipeline.killed.busy_s": "s",
        "pipeline.driver.run_extraction_pipeline.resumed.busy_s": "s",
        "pipeline.driver.completed_buckets.busy_s": "s",
        "pipeline.driver.wave_ms.p50": "ms",
        "pipeline.driver.wave_ms.max": "ms",
        "pipeline.driver.resume_skip_ratio": "ratio",
        "pipeline.driver.output_files": "count",
        "pipeline.driver.output_bytes": "bytes",
    }
    for q in query_names():
        cat[f"queries.{q}.plan_ms"] = "ms"
        cat[f"queries.{q}.exec_ms"] = "ms"
    for op in CRAWL_OPS + RESUME_OPS + tuple(f"queries.{q}" for q in query_names()):
        cat[f"{op}.persisted_rdds"] = "count"
    cat["trace.overhead_s"] = "s"
    # the untraced passes of the traced run, in wall time (the gated
    # end-to-end timings are CPU time: perfbench/README.md says why)
    cat["untraced.setup_wall_s"] = "s"
    cat["untraced.wall_s"] = "s"
    cat["untraced.op_p50_ms"] = "ms"
    return cat


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def start_session(cores: int):
    """One local[cores] session with the package's standard config; its
    scratch, warehouse and JVM temp files stay inside the checkout."""
    from docling_japanese_books_spark.session import get_spark

    tmp = WORK / "tmp"
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # compiler threads live as long as the JVM, so the CPU they
            # spend can be read per thread and left out of timed passes
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (its Python daemon and workers exit with it)."""
    from subprocess import TimeoutExpired

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def reset_between_passes(spark) -> None:
    """Drop every cached frame and collect the JVM heap, so no pass runs
    on state an earlier one left behind."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile of ``xs`` (q in [0, 1])."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 of ``n`` samples above it
    (0 when there are fewer than 10 samples)."""
    return max(0, int(100 * (n - 10) / n)) if n >= 10 else 0


# ---------------------------------------------------------------------------
# RSS sampler: one thread summing VmRSS over this process and every
# descendant (the JVM, the Python daemon and its forked workers)
# ---------------------------------------------------------------------------


def _children_map() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list:
    """The fields of a /proc stat file after ``comm`` (field 3 is index 0)."""
    try:
        with open(path, "rb") as f:
            stat = f.read()
    except OSError:
        return []
    return stat[stat.rindex(b")") + 2 :].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads in process ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm", "rb") as f:
                if not f.read().startswith((b"C1 CompilerThre", b"C2 CompilerThre")):
                    continue
        except OSError:
            continue
        f = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        ticks += int(f[11]) + int(f[12]) if f else 0
    return ticks


def tree_cpu(root: int) -> tuple:
    """(cpu s, of which JIT compiler s) used so far by ``root`` and every
    descendant, children already reaped included. The kernel does not
    charge a task for time its virtual CPU was descheduled by the host
    (steal), so steal does not show here as it does in wall time.

    A child reaped between the read of its parent and its own read would
    be missed now and counted in full, via the parent's cutime, by the next
    reading; such a scan is detected (the child's stat is gone) and
    repeated."""
    for _ in range(20):
        kids = _children_map()
        todo, ticks, jit, torn = [root], 0, 0, False
        while todo:
            p = todo.pop()
            f = _stat_fields(f"/proc/{p}/stat")
            if not f:
                torn = True
                break
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in f[11:15])
            jit += _jit_ticks(p)
            todo.extend(kids.get(p, ()))
        if not torn:
            break
    return ticks / _TICKS, jit / _TICKS


def work_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``'s process tree outside the JIT
    compiler threads. JIT compilation is JVM warm-up that runs for minutes
    and a short run never sees finish (one query_mix pass spent 32.7 JIT
    cpu-s, the identical next one 14.8); timed passes are measured net of it.
    """
    cpu, jit = tree_cpu(root)
    return cpu - jit


def tree_rss_mb(root: int) -> float:
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        p = todo.pop()
        total += _rss_kb(p)
        todo.extend(kids.get(p, ()))
    return total / 1024.0


class RssSampler:
    """Samples the process-tree RSS every ``interval`` seconds while a
    window is open; ``window()`` returns the peak seen inside it."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = 0.0
        self._open = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            if not self._open:
                continue
            mb = tree_rss_mb(pid)
            with self._lock:
                self._peak = max(self._peak, mb)

    @contextmanager
    def window(self, out: list):
        """Append the peak RSS (MB) seen during the block to ``out``."""
        with self._lock:
            self._peak = tree_rss_mb(os.getpid())
        self._open = True
        try:
            yield
        finally:
            self._open = False
            with self._lock:
                out.append(max(self._peak, tree_rss_mb(os.getpid())))


# ---------------------------------------------------------------------------
# span tracer: in memory, written once at the end
# ---------------------------------------------------------------------------


class Tracer:
    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass_id": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def busy(self, name: str) -> list:
        """Durations (s) of every span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=0))


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    """Geometric mean; a value below one clock tick counts as one tick."""
    return float(statistics.geometric_mean([max(x, 1 / _TICKS) for x in xs]))
