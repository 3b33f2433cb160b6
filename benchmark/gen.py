"""Seeded input generator for the benchmark.

Everything a workload reads is made here, from the workload's size constants
and ``--seed``; the engine only ever receives the generated files. The
layout mirrors the engine's synthetic web corpus (a per-host binary page
tree, one to three ``div.custom-group`` blocks per page, per-host robots
rules), but is written out by this module so that no change to the engine
can change the workload.

Web layout, closed form in the logical host index ``h`` and page index
``l`` (``d = h * pages_per_host + l`` numbers pages globally):

- url ``https://host-{hid[h]}.test/page-{l}.html``; ``hid`` is a seeded
  sample of distinct ids, so the seed renames hosts without changing any
  host's behaviour;
- page ``l`` links to children ``2l+1`` and ``2l+2`` when they exist, then
  to itself (a self link the engine must drop);
- ``d % 3 + 1`` groups; group ``k`` holds ``a.url[href=item-{d}-{k}.html]``
  around ``p.title`` "Title {d}-{k}" and, unless ``k == 2``,
  ``p.description`` "Description {d}-{k}". Item pages are linked but absent
  from the page table, so the crawl fetches them and misses;
- ``p.content`` holds ``CONTENT_WORDS`` seeded words, and ``pad`` filler
  paragraphs repeat them to bring the page to its target weight;
- robots: ``h % 5 == 4`` has no robots row (fail-open); the others have
  crawl delay ``h % 3`` and, when ``h % 4 == 0``, disallow ``/page-7.html``
  (and so its subtree);
- seeds: ``page-0`` of every host, in a seeded order.

Document layout (the dedup workload): ``n_docs`` base documents of
lowercase words, single-space separated, whose lengths depend only on the
index; then exact copies, light edits (last token replaced), mid edits (one
inner token replaced) and heavy edits (a third of the tokens replaced) of
seed-chosen base documents of fixed length classes; and an eval slice that
quotes seed-chosen base documents. With 3-word shingles a last-token edit
keeps the Jaccard similarity at (n-3)/(n-1) >= 0.8 for n >= 11 tokens, and
an inner edit drops it to (n-5)/(n+1) < 0.8 for n <= 28.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import zlib
from dataclasses import dataclass

CONTENT_WORDS = 48
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark the "
    "a line sort window order data column join small customer query stream "
    "filter group big of and to in is for on with by from this that it"
).split()
# tokens no generated document contains: edits swap these in, so an edited
# copy's shingles differ from its source's exactly where it was edited
EDIT_VOCAB = [f"zq{i}" for i in range(64)]


def source_hash() -> str:
    """Hash of this module's source: part of every cache key, so an edit to
    the generator never reads inputs made by an older version."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


@dataclass(frozen=True)
class WebSpec:
    n_hosts: int
    pages_per_host: int
    pad: int


@dataclass
class Web:
    spec: WebSpec
    host_ids: list        # logical index h -> host id in the url
    seed_order: list      # logical host indices, in seed-list order
    words: list           # page d -> its CONTENT_WORDS words

    def host(self, h: int) -> str:
        return f"host-{self.host_ids[h]}.test"

    def url(self, h: int, l: int) -> str:
        return f"https://{self.host(h)}/page-{l}.html"

    def page_id(self, h: int, l: int) -> int:
        return h * self.spec.pages_per_host + l

    def seeds(self) -> list:
        return [self.url(h, 0) for h in self.seed_order]

    @staticmethod
    def blocked(h: int, l: int) -> bool:
        """Robots-disallowed: the rule exists only on hosts with a robots row."""
        return h % 4 == 0 and h % 5 != 4 and l == 7

    def robots_rows(self) -> list:
        rows = []
        for h in range(self.spec.n_hosts):
            if h % 5 == 4:
                continue
            disallow = "Disallow: /page-7.html\n" if h % 4 == 0 else ""
            rows.append(
                (self.host(h), f"User-Agent: *\n{disallow}Crawl-Delay: {h % 3}\n", h % 3)
            )
        return rows

    def children(self, l: int) -> list:
        return [c for c in (2 * l + 1, 2 * l + 2) if c < self.spec.pages_per_host]

    def html(self, h: int, l: int) -> str:
        d = self.page_id(h, l)
        parts = [
            '<!DOCTYPE html>\n<html lang="en">\n<head><meta charset="UTF-8">'
            f"<title>Page {d}</title></head>\n<body>\n"
        ]
        for k in range(1, d % 3 + 2):
            parts.append(
                '<div class="custom-group">\n'
                f'<a class="url" href="item-{d}-{k}.html"><p class="title">Title {d}-{k}</p></a>\n'
            )
            if k != 2:
                parts.append(f'<p class="description">Description {d}-{k}</p>\n')
            parts.append("</div>\n")
        text = " ".join(self.words[d])
        parts.append(f'<p class="content">{text}</p>\n')
        parts.extend(
            f'<p class="filler">{j} {text}</p>\n' for j in range(1, self.spec.pad + 1)
        )
        for c in self.children(l):
            parts.append(f'<div><a class="next" href="page-{c}.html">Next</a></div>\n')
        parts.append(f'<div><a class="self" href="page-{l}.html">Self</a></div>\n')
        parts.append("</body>\n</html>\n")
        return "".join(parts)


def make_web(spec: WebSpec, seed: int) -> Web:
    rng = random.Random(f"web:{seed}")
    host_ids = rng.sample(range(1000, 100000), spec.n_hosts)
    seed_order = list(range(spec.n_hosts))
    rng.shuffle(seed_order)
    n_pages = spec.n_hosts * spec.pages_per_host
    words = [rng.choices(VOCAB, k=CONTENT_WORDS) for _ in range(n_pages)]
    return Web(spec, host_ids, seed_order, words)


@dataclass(frozen=True)
class DocSpec:
    n_docs: int       # base documents
    n_exact: int      # exact copies
    n_light: int      # last token replaced: shingle Jaccard above 0.8
    n_mid: int        # one inner token replaced: Jaccard below 0.8
    n_heavy: int      # a third of the tokens replaced: far below 0.8
    n_eval: int       # eval documents, each quoting one base document


LENGTH_CLASSES = (12, 14, 16, 18, 20)
QUOTE_TOKENS = 10


def doc_length(i: int) -> int:
    return LENGTH_CLASSES[i % len(LENGTH_CLASSES)]


@dataclass
class Docs:
    spec: DocSpec
    texts: dict                # doc_id -> text
    eval_texts: dict           # eval doc_id -> text


def make_docs(spec: DocSpec, seed: int) -> Docs:
    rng = random.Random(f"docs:{seed}")
    texts = {}
    for i in range(spec.n_docs):
        n = doc_length(i)
        # a tenth of the documents are boilerplate: few distinct tokens,
        # which the quality score marks down
        pool = VOCAB[:4] if i % 10 == 9 else VOCAB
        texts[i] = " ".join(rng.choices(pool, k=n))
    # copy sources: drawn without replacement, but the length class of the
    # j-th copy is fixed, so the seed never changes how much text there is
    by_class = {
        c: [i for i in range(spec.n_docs) if i % len(LENGTH_CLASSES) == c and i % 10 != 9]
        for c in range(len(LENGTH_CLASSES))
    }
    for pool in by_class.values():
        rng.shuffle(pool)
    kinds = (["exact"] * spec.n_exact + ["light"] * spec.n_light
             + ["mid"] * spec.n_mid + ["heavy"] * spec.n_heavy)
    next_id = spec.n_docs
    for j, kind in enumerate(kinds):
        src = by_class[j % len(LENGTH_CLASSES)].pop()
        toks = texts[src].split(" ")
        if kind == "light":
            toks[-1] = rng.choice(EDIT_VOCAB)
        elif kind == "mid":
            toks[rng.randrange(3, len(toks) - 3)] = rng.choice(EDIT_VOCAB)
        elif kind == "heavy":
            for p in rng.sample(range(len(toks)), len(toks) // 3):
                toks[p] = rng.choice(EDIT_VOCAB)
        texts[next_id] = " ".join(toks)
        next_id += 1
    eval_texts = {}
    for j in range(spec.n_eval):
        src = by_class[j % len(LENGTH_CLASSES)].pop()
        toks = texts[src].split(" ")
        # quote a window of the source between unrelated tokens
        start = rng.randrange(len(toks) - QUOTE_TOKENS + 1)
        quote = toks[start:start + QUOTE_TOKENS]
        eval_id = 1_000_000 + j
        eval_texts[eval_id] = " ".join(
            [rng.choice(EDIT_VOCAB) for _ in range(6)] + quote
            + [rng.choice(EDIT_VOCAB) for _ in range(6)]
        )
    return Docs(spec, texts, eval_texts)


# -- on-disk inputs ---------------------------------------------------------

def cache_dir(root: str, kind: str, spec, seed: int) -> str:
    key = hashlib.sha256(
        json.dumps([kind, spec.__dict__, seed, source_hash()]).encode()
    ).hexdigest()[:16]
    return os.path.join(root, f"{kind}-s{seed}-{key}")


def write_web(web: Web, out_dir: str) -> str:
    """Pages parquet (url, zlib html), robots and seeds; returns out_dir.
    Written once per cache key; a finished directory holds ``_DONE``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    n_files = 8
    spec = web.spec
    for f in range(n_files):
        urls, blobs = [], []
        for h in range(f, spec.n_hosts, n_files):
            for l in range(spec.pages_per_host):
                urls.append(web.url(h, l))
                blobs.append(zlib.compress(web.html(h, l).encode(), 1))
        tbl = pa.table({"url": pa.array(urls, pa.string()), "html": pa.array(blobs, pa.binary())})
        pq.write_table(tbl, os.path.join(out_dir, f"pages-{f}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


def write_docs(docs: Docs, out_dir: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, texts in (("docs", docs.texts), ("eval", docs.eval_texts)):
        ids = sorted(texts)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids], pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
                "source": pa.array(["gen"] * len(ids), pa.string()),
            }),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir
