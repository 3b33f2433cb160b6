"""Expected outputs, computed from the generator's description of an input
and never from the engine, plus the checks that compare them with what a
workload wrote.

- crawl: a FIFO breadth-first walk of the generator's link graph gives the
  fetched ``(url, depth)`` sequence in ``seq`` order;
- extraction: the flattened rows follow in closed form from the page
  layout (``gen.Web.html``);
- dedup: DuckDB SQL over the generated documents gives quality scores,
  exact-duplicate groups, all-pairs shingle Jaccard and decontamination
  counts; connected components run in plain Python.

Each ``check_*`` returns a list of human-readable mismatches (empty = ok).
"""

from __future__ import annotations

import collections

# the engine's quality-score stopword list, restated as part of the spec
STOPWORDS = (
    "the a an and or of to in is are was were be been it this that "
    "with for on as at by from"
).split()
QUALITY_MIN_PPM = 300_000
JACCARD_MIN = 0.8
SHINGLE_N = 3
DECONTAM_K = 8


# -- crawl ------------------------------------------------------------------

def crawl_trace(web) -> list:
    """Fetched (url, depth) in FIFO order: robots-disallowed pages are
    skipped (so their subtree is never discovered), item pages are fetched
    but have no content, links follow document order."""
    queue = collections.deque((("page", h, 0), 0) for h in web.seed_order)
    out = []
    while queue:
        (kind, h, x), depth = queue.popleft()
        if kind == "page":
            if web.blocked(h, x):
                continue
            out.append((web.url(h, x), depth))
            d = web.page_id(h, x)
            for k in range(1, d % 3 + 2):
                queue.append((("item", h, (d, k)), depth + 1))
            for c in web.children(x):
                queue.append((("page", h, c), depth + 1))
        else:
            d, k = x
            out.append((f"https://{web.host(h)}/item-{d}-{k}.html", depth))
    return out


def fetched_pages(web, trace) -> list:
    """(h, l) of the trace entries that are pages (have content)."""
    by_url = {web.url(h, l): (h, l)
              for h in range(web.spec.n_hosts) for l in range(web.spec.pages_per_host)}
    return [by_url[u] for u, _ in trace if u in by_url]


def page_rows(web, pages, ruleset: str) -> collections.Counter:
    """Multiset of flattened rows (page_url, group_index, element_index,
    sorted data items) for the given pages under a workload's ruleset:
    ``css`` = title + item_href per group; ``wide`` adds the XPath
    description (groups k != 2) and first_item (k == 1), the regex
    odd_title (k in 1, 3) and one document-level row counting the content
    words."""
    from gen import CONTENT_WORDS

    rows = collections.Counter()
    for h, l in pages:
        d = web.page_id(h, l)
        url = web.url(h, l)
        for k in range(1, d % 3 + 2):
            data = {"title": f"Title {d}-{k}", "item_href": f"item-{d}-{k}.html"}
            if ruleset == "wide":
                if k != 2:
                    data["description"] = f"Description {d}-{k}"
                if k == 1:
                    data["first_item"] = f"item-{d}-{k}.html"
                if k in (1, 3):
                    data["odd_title"] = f"Title {d}-{k}"
            rows[(url, k - 1, 0, tuple(sorted(data.items())))] += 1
        if ruleset == "wide":
            rows[(url, 0, 0, (("content_words", str(CONTENT_WORDS)),))] += 1
    return rows


def read_flat_rows(out_dir: str) -> collections.Counter:
    import pyarrow.parquet as pq

    tbl = pq.read_table(out_dir).to_pydict()
    rows = collections.Counter()
    for pn, url, gi, ei, data in zip(
        tbl["_page_number"], tbl["_page_url"], tbl["_group_index"],
        tbl["_element_index"], tbl["data"],
    ):
        rows[(url, gi, ei, tuple(sorted(data)))] += 1
        if pn != 1:
            rows[("bad _page_number", pn)] += 1
    return rows


def check_rows(got: collections.Counter, want: collections.Counter) -> list:
    if got == want:
        return []
    missing = want - got
    extra = got - want
    return [
        f"flattened rows differ: {sum(missing.values())} missing "
        f"(e.g. {list(missing)[:2]}), {sum(extra.values())} unexpected "
        f"(e.g. {list(extra)[:2]})"
    ]


def check_trace(got: list, want: list) -> list:
    """``got``: engine trace rows (url, depth, seq). Ordered by seq they
    must be the FIFO sequence, with every seq distinct."""
    errs = []
    seqs = [s for _, _, s in got]
    if len(set(seqs)) != len(seqs):
        errs.append(f"duplicate seqs: {len(seqs) - len(set(seqs))}")
    ordered = [(u, d) for u, d, _ in sorted(got, key=lambda r: r[2])]
    if ordered != want:
        first = next(
            (i for i, (a, b) in enumerate(zip(ordered, want)) if a != b),
            min(len(ordered), len(want)),
        )
        errs.append(
            f"trace differs from FIFO BFS: {len(ordered)} vs {len(want)} "
            f"fetches, first difference at position {first}"
        )
    return errs


# -- dedup ------------------------------------------------------------------

def _hash32(expr: str, salt: str) -> str:
    """32-bit portable hash: first 8 hex digits of md5(salt ':' text)."""
    return f"('0x' || substr(md5(concat('{salt}', ':', {expr})), 1, 8))::BIGINT"


def dedup_oracle(docs_parquet: str, eval_parquet: str) -> dict:
    """The dedup pipeline's reference answers from DuckDB SQL."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE docs AS SELECT doc_id, text FROM read_parquet('{docs_parquet}')")
    con.execute(f"CREATE TABLE ev AS SELECT doc_id, text FROM read_parquet('{eval_parquet}')")
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    con.execute(f"""
        CREATE TABLE toks AS
        SELECT doc_id, text,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM docs""")
    quality = dict(con.execute(f"""
        WITH f AS (
          SELECT doc_id,
                 length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(t) AS mean_wl,
                 len(list_filter(t, x -> x IN ({stop})))::DOUBLE / len(t) AS stop_ratio,
                 length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                   / greatest(length(text), 1) AS alpha_ratio,
                 1 - len(list_distinct(t))::DOUBLE / len(t) AS dup_ratio
          FROM toks)
        SELECT doc_id,
               floor(least(mean_wl / 5.0, 1.0) * least(stop_ratio * 2 + 0.5, 1.0)
                     * alpha_ratio * (1 - dup_ratio * 0.5) * 1000000)::BIGINT
        FROM f""").fetchall())
    exact = sorted(con.execute("""
        SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
               count(*) AS n, min(doc_id) AS keep
        FROM docs GROUP BY h HAVING count(*) > 1""").fetchall())
    exact_member = {
        doc: h for doc, h in con.execute("""
            SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
            FROM docs""").fetchall()
    }
    con.execute(f"""
        CREATE TABLE sh AS
        SELECT DISTINCT doc_id, array_to_string(t[i:i + {SHINGLE_N - 1}], ' ') AS s
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - {SHINGLE_N - 2})) AS i FROM toks)""")
    pairs = {
        (a, b): (inter, j) for a, b, inter, j in con.execute("""
            WITH n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            i AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
                  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                  GROUP BY 1, 2)
            SELECT a, b, inter, inter::DOUBLE / (na.n + nb.n - inter)
            FROM i JOIN n na ON na.doc_id = a JOIN n nb ON nb.doc_id = b""").fetchall()
    }
    identical = {
        (a, b) for a, b in con.execute("""
            WITH s AS (SELECT doc_id, list_sort(list(s)) AS l FROM sh GROUP BY doc_id)
            SELECT x.doc_id, y.doc_id FROM s x JOIN s y
            ON x.l = y.l AND x.doc_id < y.doc_id""").fetchall()
    }

    def grams(table):
        return f"""
            SELECT DISTINCT doc_id, {_hash32('g', 'span')} AS gh FROM (
              SELECT doc_id, array_to_string(t[i:i + {DECONTAM_K - 1}], ' ') AS g
              FROM (SELECT doc_id, t, unnest(range(1, len(t) - {DECONTAM_K - 2})) AS i
                    FROM (SELECT doc_id,
                          string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
                          FROM {table})))"""

    contam = dict(con.execute(f"""
        SELECT d.doc_id, count(*) FROM ({grams('docs')}) d
        JOIN (SELECT DISTINCT gh FROM ({grams('ev')})) e ON d.gh = e.gh
        GROUP BY d.doc_id""").fetchall())
    con.close()
    return {
        "quality": quality,
        "exact": exact,
        "exact_member": exact_member,
        "pairs": pairs,
        "identical": identical,
        "contam": contam,
    }


def components(pairs) -> dict:
    """doc -> smallest doc id of its connected component (union-find)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def keep_set(oracle: dict, verified_pairs) -> set:
    """Documents the pipeline keeps, given the near-duplicate pairs it
    verified: quality at least QUALITY_MIN_PPM, not a non-representative
    exact or near duplicate, not contaminated."""
    keep_of = {h: keep for h, _n, keep in oracle["exact"]}
    rep = components(verified_pairs)
    out = set()
    for doc, q in oracle["quality"].items():
        if q < QUALITY_MIN_PPM:
            continue
        h = oracle["exact_member"][doc]
        if h in keep_of and keep_of[h] != doc:
            continue
        if rep.get(doc, doc) != doc:
            continue
        if doc in oracle["contam"]:
            continue
        out.add(doc)
    return out


def check_dedup(oracle: dict, got: dict) -> list:
    """``got``: the pipeline's written products — ``quality`` {doc: ppm},
    ``exact`` [(hash, n, keep)], ``pairs`` {(a, b): (inter, jaccard)},
    ``contam`` {doc: n}, ``keep`` set of doc ids.

    MinHash LSH is approximate, so the verified pairs are checked for
    soundness (each is a true pair at or above the threshold, with the
    exact intersection and Jaccard) and for the pairs every MinHash must
    find (identical shingle sets); the keep-set is then checked exactly
    against the one those verified pairs imply."""
    errs = []
    if got["quality"] != oracle["quality"]:
        bad = [d for d in oracle["quality"] if got["quality"].get(d) != oracle["quality"][d]]
        errs.append(f"quality_ppm differs on {len(bad)} docs (e.g. {bad[:3]})")
    if sorted(got["exact"]) != oracle["exact"]:
        errs.append(f"exact groups differ: {len(got['exact'])} vs {len(oracle['exact'])}")
    for pair, (inter, j) in got["pairs"].items():
        want = oracle["pairs"].get(pair)
        if want is None or want[1] < JACCARD_MIN:
            errs.append(f"verified pair {pair} is not a near duplicate")
        elif want[0] != inter or abs(want[1] - j) > 1e-6:
            errs.append(f"pair {pair}: got {(inter, j)}, want {want}")
    missed = oracle["identical"] - set(got["pairs"])
    if missed:
        errs.append(f"{len(missed)} identical-shingle pairs not verified (e.g. {sorted(missed)[:3]})")
    if got["contam"] != oracle["contam"]:
        errs.append(f"contamination counts differ: {len(got['contam'])} vs {len(oracle['contam'])} docs")
    want_keep = keep_set(oracle, got["pairs"])
    if got["keep"] != want_keep:
        errs.append(
            f"keep-set differs: {len(got['keep'] - want_keep)} extra, "
            f"{len(want_keep - got['keep'])} missing"
        )
    return errs


def true_pairs(oracle: dict) -> set:
    return {p for p, (_i, j) in oracle["pairs"].items() if j >= JACCARD_MIN}
