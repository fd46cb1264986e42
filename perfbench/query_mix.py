"""``query_mix``: small-row analytic queries from the registry.

The 10 frozen-bench headline queries (``bench.HEADLINE``) plus the four ANN
engines, on seeded sf-shaped tables. One operation is one query: the
registry call (driver-side plan build, ``plan_ms``) followed by a noop-sink
action (``exec_ms``). ``spark.catalog.clearCache()`` runs between queries,
never inside one.

Correctness (warm-up pass, every query collected): the DuckDB oracle value
hash where ``oracle_sql()`` has the query; otherwise a row-count check
against an independent count: the pure chunker for ``chunk_simple``,
planted-pair recall for ``dedup_minhash_lsh``, and for the approximate
top-k engines 1-3 ranked corpus rows per query, cosine scores exact and
PQ distances ascending.
"""

from __future__ import annotations

import os
import time

from harness import WORK, persisted_rdds, query_names, work_cpu_s
from tables import write_tables


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, seed: int, sf: float):
        import __spark_entry__ as entry

        self.spark = spark
        self.seed = seed
        self.sf = sf
        self.dir = WORK / "query_mix" / "tables"
        self.names = query_names()
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        self.counts: dict = {}

    def generate(self) -> None:
        self.counts = write_tables(self.dir, self.sf, self.seed)

    def input_docs(self) -> int:
        return self.counts["documents"]

    # -- correctness -------------------------------------------------------

    def _expected_rows(self, name: str, rows: list, cols: list) -> "str | None":
        if name in ("similarity_topk_ivf", "similarity_topk_lsh", "similarity_topk_pq"):
            return self._check_topk(rows, cols)
        if name == "chunk_simple":
            import pyarrow.parquet as pq

            from docling_japanese_books_spark.operators.chunking import (
                simple_sentence_chunker,
            )

            texts = pq.read_table(self.dir / "documents.parquet", columns=["text"])
            want = sum(
                len(simple_sentence_chunker(t or "", 500)[0])
                for t in texts.column("text").to_pylist()
            )
            return None if len(rows) == want else f"{len(rows)} rows, want {want}"
        if name == "dedup_minhash_lsh":
            got = {(r[cols.index("id_a")], r[cols.index("id_b")]) for r in rows}
            missing = [i for i in range(20) if (i, i + 1_000_000) not in got]
            return f"planted pairs missed: {missing}" if missing else None
        return f"no check for {name}"

    def _check_topk(self, rows: list, cols: list) -> "str | None":
        """Approximate top-3 for query vectors 0-2 over the vectors >= 3: per
        query 1-3 corpus rows ranked 1..n; every cosine score is exact and
        PQ distances ascend with rank."""
        import numpy as np
        import pyarrow.parquet as pq

        emb = pq.read_table(self.dir / "embeddings.parquet").to_pydict()
        vecs = dict(zip(emb["vec_id"], np.asarray(emb["embedding"], dtype=np.float64)))
        by_query: dict = {}
        for r in rows:
            rec = dict(zip(cols, r))
            by_query.setdefault(rec["query_id"], []).append(rec)
        if len(rows) > 9 or sorted(by_query) != [0, 1, 2]:
            return f"{len(rows)} rows for queries {sorted(by_query)}"
        for q, recs in by_query.items():
            if sorted(x["rank"] for x in recs) != list(range(1, len(recs) + 1)):
                return f"query {q}: ranks {sorted(x['rank'] for x in recs)}"
            recs.sort(key=lambda x: x["rank"])
            if any(x["vec_id"] < 3 or x["vec_id"] not in vecs for x in recs):
                return f"query {q}: vec ids {[x['vec_id'] for x in recs]}"
            if "adc_dist" in cols:  # PQ: approximate distance, ascending
                d = [x["adc_dist"] for x in recs]
                if d != sorted(d):
                    return f"query {q}: adc_dist not ascending by rank: {d}"
                continue
            for x in recs:
                a, b = vecs[q], vecs[x["vec_id"]]
                cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
                if abs(cos - x["score"]) > 1e-5:
                    return f"query {q}: vec {x['vec_id']} score {x['score']} vs {cos:.6f}"
        return None

    def check(self, name: str, rows: list, cols: list) -> "str | None":
        if name not in self.oracles:
            return self._expected_rows(name, rows, cols)
        import duckdb

        from tools.check_oracle import value_hash

        con = duckdb.connect()
        try:
            for t in self.counts:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.dir / (t + '.parquet')}')"
                )
            res = con.execute(self.oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        finally:
            con.close()
        if len(rows) != len(drows):
            return f"rowcount {len(rows)} vs oracle {len(drows)}"
        if sorted(cols) != sorted(dcols):
            return f"columns {sorted(cols)} vs oracle {sorted(dcols)}"
        hs, hd = value_hash(rows, cols), value_hash(drows, dcols)
        return None if hs == hd else f"value hash {hs} vs oracle {hd}"

    # -- passes --------------------------------------------------------------

    def _collect_check(self, name: str) -> "str | None":
        try:
            df = self.fns[name](self.spark, str(self.dir))
            rows = [tuple(r) for r in df.collect()]
            problem = self.check(name, rows, df.columns)
        except Exception as ex:  # a raising query is a failed operation
            problem = f"raised {type(ex).__name__}: {ex}"
        return f"{name}: {problem}" if problem else None

    def warm(self) -> tuple:
        """Set-up pass: collect and check every query, four at a time (the
        cold JVM and worker start overlap; timed passes stay one client).
        Returns (operations attempted, failures)."""
        from concurrent.futures import ThreadPoolExecutor

        # the ANN engines, last in the list, are the slowest cold: starting
        # them first keeps one of them from running alone at the end
        with ThreadPoolExecutor(4) as pool:
            results = list(pool.map(self._collect_check, self.names[::-1]))
        self.spark.catalog.clearCache()
        return len(self.names), [r for r in results if r]

    def _one(self, name: str) -> tuple:
        """(plan_s, exec_s, cpu_s, persisted_after, error)."""
        plan_s = exec_s = cpu_s = 0.0
        err = None
        try:
            c = work_cpu_s(os.getpid())
            t0 = time.perf_counter()
            df = self.fns[name](self.spark, str(self.dir))
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            cpu_s = work_cpu_s(os.getpid()) - c
            plan_s, exec_s = t1 - t0, t2 - t1
        except Exception as ex:
            err = f"{name}: raised {type(ex).__name__}: {ex}"
        leaked = persisted_rdds(self.spark)
        self.spark.catalog.clearCache()
        return plan_s, exec_s, cpu_s, leaked, err

    def timed_pass(self) -> tuple:
        """Returns ([(wall s, cpu s)] per query, failures)."""
        ops, failures = [], []
        for name in self.names:
            plan_s, exec_s, cpu_s, _, err = self._one(name)
            if err:
                failures.append(err)
            else:
                ops.append((plan_s + exec_s, cpu_s))
        return ops, failures

    def traced_pass(self, tracer) -> tuple:
        """Returns (per-layer values, operations attempted, failures);
        one span per query."""
        vals, failures = {}, []
        for name in self.names:
            with tracer.span(f"queries.{name}") as sp:
                plan_s, exec_s, _, leaked, err = self._one(name)
                sp["attrs"].update(plan_ms=plan_s * 1e3, exec_ms=exec_s * 1e3)
            if err:
                failures.append(err)
            vals[f"queries.{name}.plan_ms"] = plan_s * 1e3
            vals[f"queries.{name}.exec_ms"] = exec_s * 1e3
            vals[f"queries.{name}.persisted_rdds"] = leaked
        return vals, len(self.names), failures
