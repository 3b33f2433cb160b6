"""The workloads, each driven through the engine's public API.

A workload has three phases:

- ``prepare(seed)``: generate (or reuse) its inputs and compute its
  expected outputs. Not timed as set-up.
- ``setup(spark)``: load and cache its inputs in a session.
- ``iterate(tracer)``: one operation, timed by the caller; returns an
  ``Outcome`` whose ``check()`` compares the written outputs with the
  expectation after the clock has stopped.

With an enabled tracer, ``iterate`` wraps every call into a layer in a span
and materializes stages separately so that each span holds its own work.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import zlib
from dataclasses import dataclass, field

import expect
import gen
from probe import dir_bytes

CRAWL_WEB = gen.WebSpec(n_hosts=32, pages_per_host=16, pad=150)
WIDE_WEB = gen.WebSpec(n_hosts=40, pages_per_host=25, pad=450)
DOCS = gen.DocSpec(n_docs=30, n_exact=3, n_light=3, n_mid=3, n_heavy=3, n_eval=4)
# MinHash signature length and LSH bands (rows per band = k / bands)
MINHASH_K = 8
LSH_BANDS = 2
RESUME_PARTIAL_ROUNDS = 4
KERNEL_SAMPLE = 48        # pages in the single-threaded kernel probe


def css_scraper():
    """Group title + item href: the crawl workloads' CSS-only ruleset."""
    from dude_spark import Scraper

    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    @app.select(css="a.url", group_css=".custom-group")
    def item_href(element):
        return {"item_href": element.get("href")}

    return app


def wide_scraper():
    """The CSS rules plus XPath rules with predicates, a regex rule and a
    document-level CSS rule."""
    app = css_scraper()

    @app.select(
        xpath='.//p[@class="description"][starts-with(text(), "Description")]',
        group_css=".custom-group",
    )
    def description(element):
        return {"description": element.text_content()}

    @app.select(
        xpath='./a[@class="url" and contains(@href, "-1.html")]',
        group_css=".custom-group",
    )
    def first_item(element):
        return {"first_item": element.get("href")}

    @app.select(regex=r"^title \d+-[13]$", group_css=".custom-group")
    def odd_title(element):
        return {"odd_title": element.text_content()}

    @app.select(css="p.content")
    def content_words(element):
        return {"content_words": str(len(element.text_content().split()))}

    return app


@dataclass
class Outcome:
    items: int                      # URLs, pages or documents processed
    check: object                   # () -> list of mismatches
    crawl_metrics: list = field(default_factory=list)  # RoundMetrics lists
    counts: dict = field(default_factory=dict)
    label: str = ""                 # names a traced-only operation


class Workload:
    name = ""
    item = ""
    settle_iterations = 1   # untimed iterations between set-up and timing

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.out_dir = os.path.join(work_dir, "out")
        self.spark = None

    def prepare(self, seed: int) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def iterate(self, tracer) -> Outcome:
        raise NotImplementedError

    def release(self) -> None:
        """Drop cached inputs before the session is stopped or rebuilt."""
        self.spark = None

    def kernel_sample(self):
        """(plan, [(url, zlib html)], follow_urls) for the extraction probe,
        or None when the workload does not extract pages."""
        return None

    def plan_text(self) -> str:
        return ""

    def prepare_traced(self, seed: int) -> None:
        """Inputs only the traced run needs."""

    def traced_extras(self, tracer):
        """Operations the traced run adds after its loop: yields an Outcome
        after each, and each is checked like an iteration."""
        return iter(())


# -- crawl workloads ----------------------------------------------------------

class _WebWorkload(Workload):
    spec: gen.WebSpec = CRAWL_WEB
    ruleset = "css"
    follow_urls = True

    def prepare(self, seed: int) -> None:
        self.web = gen.make_web(self.spec, seed)
        self.input_dir = gen.write_web(
            self.web, gen.cache_dir(os.path.join(self.work_dir, "inputs"), "web", self.spec, seed)
        )
        self.want_trace = self.expected_trace()
        self.want_rows = expect.page_rows(
            self.web, expect.fetched_pages(self.web, self.want_trace), self.ruleset
        )

    def expected_trace(self) -> list:
        return expect.crawl_trace(self.web)

    def setup(self, spark) -> None:
        self.spark = spark
        self.scraper = css_scraper() if self.ruleset == "css" else wide_scraper()
        self.pages = spark.read.parquet(self.input_dir).cache()
        self.pages.count()
        self.robots = spark.createDataFrame(
            self.web.robots_rows(), "host string, robots_txt string, crawl_delay int"
        ).cache()
        self.robots.count()

    def release(self) -> None:
        if self.spark is not None:
            self.pages.unpersist()
            self.robots.unpersist()
        super().release()

    def config(self, **kw):
        from dude_spark import CrawlConfig

        base = dict(follow_urls=True, max_rounds=64, round_seconds=3600, page_codec="zlib")
        base.update(kw)
        return CrawlConfig(**base)

    def crawl(self, tracer, span: str, urls, resume: bool = False, **kw):
        from dude_spark import CrawlJob

        with tracer.span(span):
            job = CrawlJob(self.spark, self.scraper, self.pages, robots=self.robots,
                           config=self.config(**kw))
            return job.run(urls, resume=resume)

    def write(self, tracer, results) -> None:
        """flatten → save_distributed to parquet; traced, the flatten is
        materialized on its own so that each span holds its own work."""
        from dude_spark.flatten import flatten
        from dude_spark.sinks import save_distributed

        shutil.rmtree(self.out_dir, ignore_errors=True)
        if tracer.enabled:
            with tracer.span("flatten"):
                flat = flatten(results).cache()
                flat.count()
            with tracer.span("sinks.write"):
                save_distributed(flat, self.out_dir, mode="overwrite")
            flat.unpersist()
        else:
            save_distributed(flatten(results), self.out_dir, mode="overwrite")

    def outcome(self, traces, metrics) -> Outcome:
        out_dir = self.out_dir
        counts = {}

        def check():
            got = []
            for t in traces:
                got.extend(
                    (r["url"], r["depth"], r["seq"])
                    for r in t.select("url", "depth", "seq").collect()
                )
            rows = expect.read_flat_rows(out_dir)
            counts["pages_with_content"] = len({k[0] for k in rows})
            return expect.check_trace(got, self.want_trace) + expect.check_rows(rows, self.want_rows)

        fetched = sum(m.fetched for ms in metrics for m in ms)
        return Outcome(items=fetched, check=check, crawl_metrics=metrics, counts=counts)

    def kernel_sample(self):
        import pyarrow.parquet as pq

        tbl = pq.read_table(self.input_dir).slice(0, KERNEL_SAMPLE).to_pydict()
        return self.scraper.compile(), list(zip(tbl["url"], tbl["html"])), self.follow_urls


class CrawlBfs(_WebWorkload):
    """Multi-round BFS crawl with the in-memory state path. Its traced run
    adds the durable, resumed crawl and the wide extraction pass (see
    ``traced_extras``)."""

    name = "crawl_bfs"
    item = "URLs fetched"
    settle_iterations = 2

    def iterate(self, tracer) -> Outcome:
        with tracer.span("iteration"):
            res = self.crawl(tracer, "crawl.run", self.web.seeds())
            self.write(tracer, res.results)
        return self.outcome([res.trace], [res.metrics])

    def prepare_traced(self, seed: int) -> None:
        self.wide = ExtractWide(os.path.join(self.work_dir, "wide"))
        self.wide.prepare(seed)

    def traced_extras(self, tracer):
        """Two operations off the headline path, each checked:

        - the durable crawl, stopped after RESUME_PARTIAL_ROUNDS rounds and
          resumed by a fresh job; its two legs together must give the
          uninterrupted crawl's trace and rows;
        - the wide extraction pass (every page of a heavy-page web seeded as
          one round, CSS + XPath + regex rules), run twice: the first pass
          warms the new rules, the second is the one reported."""
        state = os.path.join(self.work_dir, "state")
        shutil.rmtree(state, ignore_errors=True)
        seeds = self.web.seeds()
        with tracer.span("resume_iteration"):
            partial = self.crawl(tracer, "crawl.partial", seeds,
                                 max_rounds=RESUME_PARTIAL_ROUNDS, state_dir=state)
            rest = self.crawl(tracer, "crawl.resume", seeds, resume=True, state_dir=state)
            self.write(tracer, partial.results.unionByName(rest.results))
        out = self.outcome([partial.trace, rest.trace], [partial.metrics, rest.metrics])
        out.counts["state_bytes"] = dir_bytes(state)
        out.label = "resume"
        yield out
        self.wide.setup(self.spark)
        try:
            for name in ("wide_warm", "wide_pass"):
                with tracer.span(name):
                    out = self.wide.iterate(tracer)
                out.label = name
                yield out
        finally:
            self.wide.release()

    def kernel_sample(self):
        return self.wide.kernel_sample()


class ExtractWide(_WebWorkload):
    """Every page seeded as one frontier level, no link following: one wide
    round of heavy pages under the CSS + XPath + regex ruleset. Run inside
    crawl_bfs's traced run (see ``CrawlBfs.traced_extras``)."""

    item = "pages extracted"
    spec = WIDE_WEB
    ruleset = "wide"
    follow_urls = False

    def expected_trace(self) -> list:
        web = self.web
        return [
            (web.url(h, l), 0)
            for h in range(web.spec.n_hosts) for l in range(web.spec.pages_per_host)
            if not web.blocked(h, l)
        ]

    def prepare(self, seed: int) -> None:
        super().prepare(seed)
        web = self.web
        # seed list: every page, hosts in the seeded order
        self.urls = [
            web.url(h, l) for h in web.seed_order for l in range(web.spec.pages_per_host)
        ]
        order = {u: i for i, u in enumerate(self.urls)}
        self.want_trace.sort(key=lambda t: order[t[0]])

    def iterate(self, tracer) -> Outcome:
        with tracer.span("iteration"):
            res = self.crawl(tracer, "crawl.run", self.urls, follow_urls=False)
            self.write(tracer, res.results)
        return self.outcome([res.trace], [res.metrics])


# -- dedup --------------------------------------------------------------------

class DedupPipeline(Workload):
    """quality → exact → MinHash LSH → Jaccard verify → components →
    decontaminate → keep-set, written to parquet."""

    name = "dedup_pipeline"
    item = "documents"
    # the first iteration after the warm one is at most ~15% slower than the
    # next, and a settle iteration of 6-12 s would not fit a run's time budget
    settle_iterations = 0

    def prepare(self, seed: int) -> None:
        self.docs = gen.make_docs(DOCS, seed)
        self.input_dir = gen.write_docs(
            self.docs, gen.cache_dir(os.path.join(self.work_dir, "inputs"), "docs", DOCS, seed)
        )
        self.oracle = expect.dedup_oracle(
            os.path.join(self.input_dir, "docs.parquet"),
            os.path.join(self.input_dir, "eval.parquet"),
        )
        self.n_docs = len(self.docs.texts)

    def setup(self, spark) -> None:
        self.spark = spark
        self.D = spark.read.parquet(os.path.join(self.input_dir, "docs.parquet")).cache()
        self.E = spark.read.parquet(os.path.join(self.input_dir, "eval.parquet")).cache()
        self.D.count()
        self.E.count()

    def release(self) -> None:
        if self.spark is not None:
            self.D.unpersist()
            self.E.unpersist()
        super().release()

    def stages(self) -> dict:
        """Stage name -> function composing that stage's lazy frame."""
        from dude_spark.textops.dedup import (
            decontaminate, exact_duplicates, minhash_lsh_pairs, ngram_jaccard_pairs,
        )
        from dude_spark.textops.quality import quality_score

        D, E = self.D, self.E
        return {
            "quality": lambda: quality_score(D),
            "exact": lambda: exact_duplicates(D),
            "lsh_pairs": lambda: minhash_lsh_pairs(D, k=MINHASH_K, bands=LSH_BANDS, hash_fn="md5"),
            "jaccard": lambda cand: ngram_jaccard_pairs(
                D, threshold=expect.JACCARD_MIN, candidates=cand
            ),
            "decontaminate": lambda: decontaminate(D, E, k=expect.DECONTAM_K),
        }

    def plan_text(self) -> str:
        st = self.stages()
        cand = st["lsh_pairs"]()
        frames = [st["quality"](), st["exact"](), cand, st["jaccard"](cand), st["decontaminate"]()]
        return "\n".join(df._jdf.queryExecution().optimizedPlan().toString() for df in frames)

    def iterate(self, tracer) -> Outcome:
        from pyspark.sql import functions as F

        from dude_spark.sinks import save_distributed
        from dude_spark.textops.dedup import (
            minhash_signature, normalize_text, transitive_representatives,
        )

        spark = self.spark
        out = self.out_dir
        shutil.rmtree(out, ignore_errors=True)
        counts = {}

        def stage(name, build, write=None):
            """Build one stage. A written stage is saved and read back; a
            traced stage is also materialized inside its own span."""
            with tracer.span(f"textops.{name}"):
                df = build()
                if write:
                    save_distributed(df, os.path.join(out, write), mode="overwrite")
                    return spark.read.parquet(os.path.join(out, write))
                if tracer.enabled:
                    df = df.cache()
                    df.count()
                return df

        with tracer.span("iteration"):
            st = self.stages()
            q = stage("quality", st["quality"], write="quality")
            ex = stage("exact", st["exact"], write="exact")
            if tracer.enabled:
                with tracer.span("textops.minhash"):
                    minhash_signature(self.D, k=MINHASH_K, hash_fn="md5") \
                        .write.format("noop").mode("overwrite").save()
                cand = stage("lsh_pairs", st["lsh_pairs"])
                counts["lsh_candidates"] = cand.count()
                ver = stage("jaccard", lambda: st["jaccard"](cand), write="pairs")
            else:
                ver = stage("jaccard", lambda: st["jaccard"](st["lsh_pairs"]()), write="pairs")
            reps = stage("components", lambda: transitive_representatives(ver))
            contam = stage("decontaminate", st["decontaminate"], write="contam")
            with tracer.span("keep"):
                exact_drop = (
                    self.D.select("doc_id", F.md5(normalize_text(F.col("text"))).alias("content_hash"))
                    .join(ex, "content_hash")
                    .filter(F.col("doc_id") != F.col("keep_doc_id"))
                    .select("doc_id")
                )
                near_drop = reps.filter(F.col("doc_id") != F.col("keep_doc_id")).select("doc_id")
                keep = (
                    q.filter(F.col("quality_ppm") >= expect.QUALITY_MIN_PPM)
                    .select("doc_id")
                    .join(exact_drop, "doc_id", "left_anti")
                    .join(near_drop, "doc_id", "left_anti")
                    .join(contam.select("doc_id"), "doc_id", "left_anti")
                )
                save_distributed(keep, os.path.join(out, "keep"), mode="overwrite")

        def check():
            import pyarrow.parquet as pq

            def rows(name):
                return pq.read_table(os.path.join(out, name)).to_pylist()

            got = {
                "quality": {r["doc_id"]: r["quality_ppm"] for r in rows("quality")},
                "exact": [(r["content_hash"], r["n_docs"], r["keep_doc_id"]) for r in rows("exact")],
                "pairs": {(r["doc_a"], r["doc_b"]): (r["inter"], r["jaccard"]) for r in rows("pairs")},
                "contam": {r["doc_id"]: r["n_contaminated_grams"] for r in rows("contam")},
                "keep": {r["doc_id"] for r in rows("keep")},
            }
            counts["verified_pairs"] = len(got["pairs"])
            true_pairs = expect.true_pairs(self.oracle)
            counts["lsh_recall"] = (
                len(set(got["pairs"]) & true_pairs) / len(true_pairs) if true_pairs else 1.0
            )
            return expect.check_dedup(self.oracle, got)

        return Outcome(items=self.n_docs, check=check, counts=counts)


WORKLOADS = {w.name: w for w in (CrawlBfs, DedupPipeline)}


# -- the extraction kernel, single-threaded ------------------------------------

def kernel_probe(spark, plan, sample, follow_urls: bool, passes: int = 3) -> dict:
    """Per-page cost of each kernel step over a fixed page sample, in this
    process on one thread, plus one ``mapInPandas`` pass of the real kernel
    over the same sample. Each per-page figure is the median over passes."""
    from dude_spark.dom import parse_html, select
    from dude_spark.extract import (
        EXTRACT_SCHEMA, extract_links, extract_page_rows, make_extract_iterator,
    )
    from dude_spark.rule import rule_grouper
    from itertools import groupby

    def selector_kind(sel) -> str:
        t = sel.selector_type()
        return {"any": "css", "regex": "text"}.get(t, t)

    groups = [
        (g, sorted(rs, key=lambda r: r.priority))
        for g, rs in groupby(plan.scrape_rules, key=rule_grouper)
    ]
    per_pass = []
    for _ in range(passes):
        acc = {"inflate": 0.0, "parse": 0.0, "css": 0.0, "xpath": 0.0, "text": 0.0,
               "links": 0.0, "page": 0.0}
        for url, blob in sample:
            t0 = time.perf_counter()
            html = zlib.decompress(blob)
            acc["inflate"] += time.perf_counter() - t0
            t0 = time.perf_counter()
            root = parse_html(html)
            acc["parse"] += time.perf_counter() - t0
            for gsel, rules in groups:
                t0 = time.perf_counter()
                gels = select(root, gsel.selector_type(), gsel.to_str())
                acc[selector_kind(gsel)] += time.perf_counter() - t0
                for gel in gels:
                    for r in rules:
                        t0 = time.perf_counter()
                        select(gel, r.selector.selector_type(), r.selector.to_str())
                        acc[selector_kind(r.selector)] += time.perf_counter() - t0
            # timed whether or not the sample's ruleset follows links: the
            # crawl extracts links from every page it fetches
            t0 = time.perf_counter()
            extract_links(root, url)
            acc["links"] += time.perf_counter() - t0
            t0 = time.perf_counter()
            extract_page_rows(plan, url, zlib.decompress(blob), follow_urls=follow_urls)
            acc["page"] += time.perf_counter() - t0
        per_pass.append({k: v * 1000 / len(sample) for k, v in acc.items()})
    ms = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}

    df = spark.createDataFrame(sample, "url string, html binary").cache()
    df.count()
    it = make_extract_iterator(plan, follow_urls=follow_urls, codec="zlib")
    kernel = []
    for _ in range(passes):
        t0 = time.perf_counter()
        rows_out = df.mapInPandas(it, schema=EXTRACT_SCHEMA).count()
        kernel.append(time.perf_counter() - t0)
    df.unpersist()
    return {
        "extract.kernel_s": statistics.median(kernel),
        "extract.rows_out": rows_out,
        "extract.inflate_ms": ms["inflate"],
        "dom.parse_ms": ms["parse"],
        "dom.css_ms": ms["css"],
        "dom.xpath_ms": ms["xpath"],
        "dom.text_ms": ms["text"],
        "extract.links_ms": ms["links"],
        "extract.page_ms": ms["page"] + ms["inflate"],
    }
