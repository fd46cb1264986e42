"""``crawl_to_wet``: the production path, WARC bytes to WET archives.

    *.warc.gz -> read_warc -> extract_pages(charset_col="charset_hint")
              -> curate_corpus (defaults) -> write_wet

Input (seeded, shares exact per seed): ``make_page`` pages with 10-30
paragraphs, 20% Japanese, 2% malformed. The Japanese pages take Shift_JIS,
EUC-JP and UTF-8 in equal turns, with the charset given only in the HTTP
header. A long tail of 1-2 MB pages, planted exact-duplicate groups and
planted near duplicates ride along. Records are shuffled and packed into
2 x nproc gzip-per-record archives.

Checks, every pass: each WET record's text equals ``normalize_cjk`` of the
golden text for its url; the record count equals
``rows_after_near_dedup``; the exact-dedup count equals the quality
survivors minus the planted copies; and at most the minimum url of each
planted exact-duplicate group survives.

The traced pass also runs the bucketed write and checkpoint-resume path
(``run_extraction_pipeline``, killed and resumed) on the crawl's pages.
"""

from __future__ import annotations

import gzip
import os
import random
import shutil
import time
from pathlib import Path

from harness import WORK, persisted_rdds, quantile, work_cpu_s

# exact shares per seed, so every seed carries the same work: make_page's
# own kinds ("ja" Japanese, "und" malformed, "en") are drawn to quota
SHARES = {"ja": 0.20, "und": 0.02}
BIG_PARAS = (4000, 8000)  # long-tail pages: ~1-2 MB of html
JP_CODECS = ("shift_jis", "euc_jp", "utf-8")  # equal shares of Japanese pages
EXACT_SHARE = 0.04  # source pages given 1, 2, 3, 1, ... byte-identical copies
NEAR_SHARE = 0.04  # source pages given one copy plus a paragraph
# bucketed resume (traced run only): 8 buckets in waves of 2, killed after 2
RESUME_BUCKETS, RESUME_WAVE, RESUME_KILL_AFTER = 8, 2, 2
NEAR_WORDS = "extra note on crawl corpus quality and dedup for this page".split()


def _near_paragraph(rng: random.Random) -> str:
    return " ".join(rng.choice(NEAR_WORDS) for _ in range(12)) + "."


def _page_ids(seed: int, n_pages: int) -> dict:
    """kind -> page ids: the first ids of each make_page kind, to quota.
    make_page draws the kind before the paragraphs, so a 1-paragraph call
    classifies an id cheaply."""
    from docling_japanese_books_spark.extraction.pages import make_page

    quota = {k: round(share * n_pages) for k, share in SHARES.items()}
    quota["en"] = n_pages - sum(quota.values())
    ids: dict = {k: [] for k in quota}
    i = 0
    while any(len(ids[k]) < quota[k] for k in quota):
        kind = make_page(seed, i, 1, 1)["lang"]
        if len(ids[kind]) < quota[kind]:
            ids[kind].append(i)
        i += 1
    return ids


def build_corpus(
    seed: int, n_pages: int, n_big: int, n_archives: int, out_dir: Path
) -> dict:
    """Write the archives; returns the golden record of what they hold.
    The ``n_big`` long-tail pages alternate English and Japanese, with
    sizes spread evenly over ``BIG_PARAS``; Japanese pages take the three
    charsets in equal turns. Only page content differs between seeds."""
    from docling_japanese_books_spark.extraction.pages import make_page
    from docling_japanese_books_spark.sources.warc import build_warc_record

    rng = random.Random(f"crawl_to_wet:{seed}")
    ids = _page_ids(seed, n_pages)
    lo, hi = BIG_PARAS
    big_ids = [rng.choice(ids["en" if k % 2 == 0 else "ja"]) for k in range(n_big)]
    big = {i: lo + (hi - lo) * k // max(1, n_big - 1) for k, i in enumerate(big_ids)}
    codecs = [JP_CODECS[k % len(JP_CODECS)] for k in range(len(ids["ja"]))]
    rng.shuffle(codecs)
    charset_of = dict(zip(ids["ja"], codecs))

    records = []  # (url, ts, html bytes, charset)
    golden = {}
    sources = []
    for i in sorted(i for kind in ids.values() for i in kind):
        paras = (big[i], big[i]) if i in big else (10, 30)
        page = make_page(seed, i, *paras)
        charset = charset_of.get(i, "utf-8")
        html = page["html"]
        if charset != "utf-8":
            html = html.decode("utf-8").encode(charset)
        records.append((page["url"], page["warc_ts"], html, charset))
        golden[page["url"]] = page["text"]
        if page["text"] and i not in big:
            sources.append(len(records) - 1)

    exact_groups = []
    n_exact, n_near = int(EXACT_SHARE * n_pages), int(NEAR_SHARE * n_pages)
    picks = rng.sample(sources, n_exact + n_near)
    exact_src, near_src = picks[:n_exact], picks[n_exact:]
    for n, k in enumerate(exact_src):
        url, ts, html, charset = records[k]
        group = [url]
        for j in range(1 + n % 3):
            copy = f"{url}/copy{j}"
            records.append((copy, ts, html, charset))
            golden[copy] = golden[url]
            group.append(copy)
        exact_groups.append(group)
    for k in near_src:
        url, ts, html, charset = records[k]
        extra = _near_paragraph(rng)
        near_html = html.replace(
            b"</article>", f"<p>{extra}</p></article>".encode(charset)
        )
        records.append((f"{url}/near", ts, near_html, charset))
        golden[f"{url}/near"] = golden[url] + "\n\n" + extra

    rng.shuffle(records)
    if out_dir.exists():
        shutil.rmtree(out_dir)
    out_dir.mkdir(parents=True)
    bytes_in = 0
    for a in range(n_archives):
        payload = b"".join(
            gzip.compress(
                build_warc_record(u, ts, h, content_type=f"text/html; charset={c}"),
                compresslevel=1,
            )
            for u, ts, h, c in records[a::n_archives]
        )
        (out_dir / f"part-{a:04d}.warc.gz").write_bytes(payload)
        bytes_in += len(payload)
    return {
        "golden": golden,
        "exact_groups": exact_groups,
        "records": len(records),
        "bytes_in": bytes_in,
        "shares": {
            "big": len(big) / n_pages,
            "ja": len(ids["ja"]) / n_pages,
            "malformed": len(ids["und"]) / n_pages,
            "exact_copies": sum(len(g) - 1 for g in exact_groups) / len(records),
            "near_copies": len(near_src) / len(records),
        },
    }


def read_wet_dir(out_dir: Path) -> list:
    """(url, text) per WET conversion record, parsed independently of the
    package's reader."""
    out = []
    for p in sorted(out_dir.glob("*.warc.wet.gz")):
        data = gzip.decompress(p.read_bytes())
        pos = 0
        while pos < len(data):
            head_end = data.index(b"\r\n\r\n", pos)
            headers = {}
            for line in data[pos:head_end].split(b"\r\n")[1:]:
                k, _, v = line.partition(b": ")
                headers[k.lower()] = v
            n = int(headers[b"content-length"])
            body = data[head_end + 4 : head_end + 4 + n]
            pos = head_end + 4 + n + 4
            if headers.get(b"warc-type") == b"conversion":
                out.append((headers[b"warc-target-uri"].decode(), body.decode("utf-8")))
    return out


class CrawlToWet:
    name = "crawl_to_wet"

    def __init__(self, spark, seed: int, pages: int, big_pages: int):
        self.spark = spark
        self.seed = seed
        self.n_pages = pages
        self.n_big = big_pages
        self.n_archives = 2 * (os.cpu_count() or 4)
        self.in_dir = WORK / "crawl_to_wet" / "warc"
        self.out_root = WORK / "crawl_to_wet" / "wet"
        self.glob = str(self.in_dir / "*.warc.gz")
        self.corpus: dict = {}
        self._expected: dict = {}
        self._n = 0

    def generate(self) -> None:
        from docling_japanese_books_spark.operators.normalize import normalize_cjk

        self.corpus = build_corpus(
            self.seed, self.n_pages, self.n_big, self.n_archives, self.in_dir
        )
        self._expected = {u: normalize_cjk(t) for u, t in self.corpus["golden"].items()}

    def input_docs(self) -> int:
        return self.corpus["records"]

    def _out_dir(self) -> Path:
        self._n += 1
        d = self.out_root / f"pass{self._n}"
        if self.out_root.exists():
            shutil.rmtree(self.out_root)
        return d

    def check(self, out_dir: Path, report) -> list:
        got = read_wet_dir(out_dir)
        urls = [u for u, _ in got]
        problems = []
        if len(set(urls)) != len(urls):
            problems.append("a url appears in more than one WET record")
        if len(got) != report.rows_after_near_dedup:
            problems.append(
                f"{len(got)} WET records, rows_after_near_dedup "
                f"{report.rows_after_near_dedup}"
            )
        bad = [u for u, t in got if self._expected.get(u) != t]
        if bad:
            problems.append(f"{len(bad)} records differ from golden, e.g. {bad[0]}")
        kept = set(urls)
        planted = 0
        for g in self.corpus["exact_groups"]:
            planted += len(g) - 1
            extra = (kept & set(g)) - {min(g)}
            if extra:
                problems.append(f"exact duplicate survived: {sorted(extra)[0]}")
        exact_removed = report.rows_quality_pass - report.rows_after_exact_dedup
        if exact_removed != planted:
            problems.append(f"exact dedup removed {exact_removed}, planted {planted}")
        return [f"{self.name}: " + "; ".join(problems)] if problems else []

    def _extracted(self, pages):
        from docling_japanese_books_spark.extraction.html import extract_pages

        return extract_pages(pages, charset_col="charset_hint")

    @staticmethod
    def _docs(extracted):
        from pyspark.sql import functions as F

        return extracted.select("url", F.col("extracted.text").alias("text"))

    def _pass(self, out: Path):
        """One pass into ``out``; returns the CurationReport."""
        from docling_japanese_books_spark.pipeline.curate import curate_corpus
        from docling_japanese_books_spark.sources.warc import read_warc, write_wet

        pages = read_warc(self.spark, self.glob)
        curated, report = curate_corpus(self._docs(self._extracted(pages)))
        write_wet(curated, str(out)).collect()
        return report

    def warm(self) -> tuple:
        out = self._out_dir()
        return 1, self.check(out, self._pass(out))

    def timed_pass(self) -> tuple:
        """Returns ([(wall s, cpu s)] for the pass, failures)."""
        out = self._out_dir()
        c = work_cpu_s(os.getpid())
        t = time.perf_counter()
        try:
            report = self._pass(out)
        except Exception as ex:
            return [], [f"{self.name}: raised {type(ex).__name__}: {ex}"]
        lat = time.perf_counter() - t
        cpu = work_cpu_s(os.getpid()) - c
        errs = self.check(out, report)
        return ([] if errs else [(lat, cpu)]), errs

    def traced_pass(self, tracer) -> tuple:
        """Each layer's public call, timed on a materialized copy of its
        input; the layer's output is materialized inside its span.
        Returns (per-layer values, operations attempted, failures)."""
        from pyspark.sql import functions as F

        from docling_japanese_books_spark.operators.dedup import minhash_lsh_candidates
        from docling_japanese_books_spark.operators.normalize import normalize_cjk_udf
        from docling_japanese_books_spark.operators.textstats import lang_id, quality_score
        from docling_japanese_books_spark.pipeline.curate import curate_corpus
        from docling_japanese_books_spark.sources.warc import read_warc, write_wet

        spark, v = self.spark, {}

        def layer(name, fn, persisted_out=0):
            before = persisted_rdds(spark)
            with tracer.span(name):
                out = fn()
            v[f"{name}.persisted_rdds"] = (
                persisted_rdds(spark) - before - persisted_out
            )
            v[f"{name}.busy_s"] = tracer.busy(name)[-1]
            return out

        def cached(df):
            df = df.persist()
            df.count()
            return df

        pages = layer("sources.warc.read_warc", lambda: cached(read_warc(spark, self.glob)), 1)
        v["sources.warc.read_warc.rows_out"] = pages.count()
        v["sources.warc.read_warc.bytes_in"] = self.corpus["bytes_in"]

        errs = self._resume_layers(pages, layer, v)

        ext = layer("extraction.html.extract_pages", lambda: cached(self._extracted(pages)), 1)
        s = ext.agg(
            F.sum(F.length("html")).alias("bin"),
            F.sum(F.octet_length("extracted.text")).alias("bout"),
            F.avg((F.col("extracted.status") == "ok").cast("double")).alias("ok"),
        ).collect()[0]
        v["extraction.html.extract_pages.bytes_in"] = int(s.bin)
        v["extraction.html.extract_pages.bytes_out"] = int(s.bout)
        v["extraction.html.extract_pages.ok_ratio"] = float(s.ok)
        docs = cached(self._docs(ext))

        norm = layer(
            "operators.normalize.normalize_cjk_udf",
            lambda: cached(docs.withColumn("text", normalize_cjk_udf(F.col("text")))),
            1,
        )
        layer(
            "operators.textstats.lang_quality",
            lambda: norm.select(
                "url", lang_id(F.col("text")), quality_score(F.col("text"))
            ).write.format("noop").mode("overwrite").save(),
        )
        gated = cached(norm.filter(F.length("text") >= 50))
        verified = layer(
            "operators.dedup.minhash_lsh_candidates",
            lambda: minhash_lsh_candidates(
                gated, text_col="text", id_col="url", threshold=0.85
            ).count(),
        )
        cands = minhash_lsh_candidates(gated, text_col="text", id_col="url", threshold=0.0).count()
        v["operators.dedup.minhash_lsh_candidates.candidate_pairs"] = cands
        v["operators.dedup.minhash_lsh_candidates.pairs_verified_ratio"] = (
            verified / cands if cands else 0.0
        )

        curated, report = layer(
            "pipeline.curate.curate_corpus", lambda: curate_corpus(docs)
        )
        v["pipeline.curate.curate_corpus.quality_pass_ratio"] = (
            report.rows_quality_pass / report.rows_in
        )
        v["pipeline.curate.curate_corpus.near_dup_removed_ratio"] = (
            1 - report.rows_after_near_dedup / report.rows_after_exact_dedup
        )

        out = self._out_dir()
        manifest = layer(
            "sources.warc.write_wet", lambda: write_wet(curated, str(out)).collect()
        )
        v["sources.warc.write_wet.bytes_out"] = sum(r.n_bytes for r in manifest)
        v["sources.warc.write_wet.files"] = len(manifest)
        errs += self.check(out, report)
        return v, 1, (["; ".join(errs)] if errs else [])

    def _resume_layers(self, pages, layer, v) -> list:
        """The bucketed write and checkpoint-resume path on the crawl's own
        pages: ``run_extraction_pipeline`` killed via ``max_waves`` at half
        the waves, then resumed. Checks: every bucket once in the manifest,
        the resumed run skips exactly the killed run's buckets, and every
        ``ok`` row's text is byte-identical to the golden text."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from docling_japanese_books_spark.extraction.html import extract_pages
        from docling_japanese_books_spark.pipeline.driver import (
            completed_buckets,
            run_extraction_pipeline,
        )

        out = self.out_root / "resume"

        def extractor(sub):
            return extract_pages(sub, charset_col="charset_hint").select(
                "url",
                "warc_ts",
                "lang",
                "bucket",
                F.col("extracted.text").alias("text"),
                F.col("extracted.status").alias("status"),
                F.col("extracted.blocks_kept").alias("blocks_kept"),
                F.col("extracted.blocks_dropped").alias("blocks_dropped"),
            )

        def run(**kw):
            return run_extraction_pipeline(
                self.spark, pages, str(out), run_id="perfbench",
                n_buckets=RESUME_BUCKETS, wave_size=RESUME_WAVE,
                extractor=extractor, **kw,
            )

        name = "pipeline.driver.run_extraction_pipeline"
        killed = layer(f"{name}.killed", lambda: run(max_waves=RESUME_KILL_AFTER))
        layer(
            "pipeline.driver.completed_buckets",
            lambda: completed_buckets(self.spark, str(out)),
        )
        resumed = layer(f"{name}.resumed", run)

        m = pq.read_table(out / "_manifest").to_pydict()
        # one manifest row per bucket; a wave's buckets share its wall_ms
        wall = dict(zip(m["bucket"], m["wall_ms"]))
        order = killed.buckets_processed + resumed.buckets_processed
        waves = [wall[order[i]] for i in range(0, len(order), RESUME_WAVE)]
        v["pipeline.driver.wave_ms.p50"] = quantile(waves, 0.5)
        v["pipeline.driver.wave_ms.max"] = float(max(waves))
        v["pipeline.driver.resume_skip_ratio"] = (
            len(resumed.buckets_skipped) / RESUME_BUCKETS
        )
        files = list((out / "data").rglob("*.parquet"))
        v["pipeline.driver.output_files"] = len(files)
        v["pipeline.driver.output_bytes"] = sum(f.stat().st_size for f in files)

        problems = []
        if sorted(m["bucket"]) != list(range(RESUME_BUCKETS)):
            problems.append(f"manifest buckets {sorted(m['bucket'])}")
        if sorted(resumed.buckets_skipped) != sorted(killed.buckets_processed):
            problems.append(
                f"resumed run skipped {sorted(resumed.buckets_skipped)}, killed "
                f"run completed {sorted(killed.buckets_processed)}"
            )
        data = pq.read_table(out / "data", columns=["url", "text", "status"]).to_pydict()
        golden = self.corpus["golden"]
        if sorted(data["url"]) != sorted(golden):
            problems.append("resumed output urls differ from the input urls")
        bad = [
            u
            for u, t, st in zip(data["url"], data["text"], data["status"])
            if st == "ok" and t != golden.get(u)
        ]
        if bad:
            problems.append(f"{len(bad)} ok rows differ from golden, e.g. {bad[0]}")
        return [f"{self.name} resume: " + "; ".join(problems)] if problems else []
