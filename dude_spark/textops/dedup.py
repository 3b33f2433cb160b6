"""Deduplication operators over a document table (doc_id, text, ...).

All variants are single-pass column pipelines + one hash aggregate — the
shapes that survive a 100 TB corpus:

- **exact**: md5 of normalized text, groupBy hash. One shuffle on a 32-byte
  key; map-side partial agg free from Catalyst.
- **MinHash + LSH**: word-shingles → K portable min-hashes per doc (computed
  inside one projection — no explode), banded into B buckets; candidate
  pairs only materialize per-bucket (self-join within tiny buckets).
- **SimHash**: per-token 32-bit hashes, bit-majority vote computed as 32
  conditional aggregates in ONE groupBy — no per-bit row explosion.
- **n-gram Jaccard**: exact pair verification — one array intersection
  per LSH candidate pair, or a shingle equi-join within pre-bucketed data.

Every per-document chain is a projection chain: the normalized token array
is selected as a column ONCE, and grams and hashes are built from that
column reference. Catalyst does not share subexpressions inside
higher-order-function lambdas, so an inline ``tokens(col)`` would re-split
the text once per gram position and once per hash function.

Hashes are md5-derived (portable_hash32) so DuckDB oracles reproduce them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from . import portable_hash32

DEFAULT_K = 16        # minhash signature length
DEFAULT_BANDS = 4     # LSH bands (rows per band = K / BANDS)


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace + trim (shared by all dedupe variants)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def _grams(t: Column, n: int) -> Column:
    """Distinct ``n``-grams (array<string>) of a token-array column ``t``.

    Pass a column REFERENCE (see :func:`_shingled`): ``t`` appears in every
    gram position's lambda, so an inline expression is re-evaluated there.
    Docs shorter than ``n`` tokens yield an EMPTY array — ``sequence(1, x)``
    is descending for x < 1 in Spark, so the when-guard (not ``greatest``)
    is what keeps short docs from indexing ``element_at(t, 0)``.
    """
    idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    return F.array_distinct(grams)


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (array<string>)."""
    return _grams(tokens(col), n)


def _shingled(docs: DataFrame, text_col: str, n: int, *keep: str) -> DataFrame:
    """(doc_id, *keep, sh): each doc's distinct ``n``-grams, with the token
    array projected as its own column first. The upper projection names
    that column many times, so CollapseProject keeps the split below it:
    one split per document, not one per gram position."""
    return docs.select("doc_id", *keep, tokens(F.col(text_col)).alias("t")).select(
        "doc_id", *keep, _grams(F.col("t"), n).alias("sh")
    )


def _explode_array(df: DataFrame, arr: str, out: str, *keep: str) -> DataFrame:
    """(*keep, out): one row per element of array column ``arr``.

    ``explode_outer`` + a null filter, not ``explode``: for ``explode``
    InferFiltersFromGenerate adds ``size(arr) > 0``, and predicate pushdown
    then inlines the whole gram/hash expression into a Filter beneath the
    projections, computing it twice. Gram and hash arrays hold no nulls, so
    the rows are the same."""
    return df.select(*keep, F.explode_outer(arr).alias(out)).filter(
        F.col(out).isNotNull()
    )


def _salted_hash32(salt: str):
    """One-argument lambda for ``F.transform``: a two-argument lambda would
    receive the element index as its second argument."""
    return lambda s: portable_hash32(s, salt=salt)


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedupe: groups of byte-identical (normalized) texts.

    Returns (content_hash, n_docs, min_doc_id) for groups with n_docs > 1.
    """
    return (
        docs.select(
            F.col("doc_id"), F.md5(normalize_text(F.col(text_col))).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def latest_snapshot(
    pages: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "snap_id",
) -> DataFrame:
    """URL-version dedupe over a Common-Crawl-style capture table
    (BASELINE.json input_hint shape — ``url``, ``warc_ts``): of the N
    captures of one canonical URL, keep the newest ``warc_ts``.

    Returns one row per key: (key, n_snapshots, latest_<id_col>). Ties on
    ``ts_col`` break toward the larger id (``max_by`` struct ordering).

    100 TB shape: a single hash aggregate on the URL key — map-side partial
    aggregation collapses each input partition to its local per-URL max
    before the one shuffle, so reduce-side volume is O(distinct urls), not
    O(captures). No window, no sort, no driver state.
    """
    # max_by via struct-max: (ts, id) lexicographic → deterministic ties
    best = F.max(F.struct(F.col(ts_col), F.col(id_col)))
    return pages.groupBy(key_col).agg(
        F.count("*").alias("n_snapshots"),
        best.getField(id_col).alias(f"latest_{id_col}"),
    )


def minhash_signature(
    docs: DataFrame, text_col: str = "text", k: int = DEFAULT_K, shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, sig array<bigint>[k]) — min over shingle hashes per function.

    Hash function ``i`` is ``portable_hash32(shingle, salt=str(i))``, i.e.
    ``int(md5(f"{i}:{shingle}")[:8], 16)``, all inside one projection over
    the shingle column (no explode, no shuffle). ``hash_fn`` accepts only
    ``'md5'``, the DuckDB-portable family.
    """
    if hash_fn != "md5":
        raise ValueError(
            f"hash_fn={hash_fn!r} is not supported; MinHash uses the portable "
            "md5 family only (hash_fn='md5')"
        )
    sig = F.array(
        *[F.array_min(F.transform("sh", _salted_hash32(str(i)))) for i in range(k)]
    )
    return _shingled(docs, text_col, shingle_n).select("doc_id", sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH on the minhash signature.

    A pair is emitted once per matching band then distinct'd; output
    (doc_a, doc_b, n_bands_matched). The per-band bucket join shuffles on
    the band signature string — tiny keys, broadcast-able dimension-free.
    """
    sig = minhash_signature(docs, text_col, k, shingle_n, hash_fn=hash_fn)
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        part = F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *[
                F.element_at(part, j + 1).cast("string") for j in range(rows_per_band)
            ]).alias("key"))
        )
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, on=["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_bands_matched"))
    )
    return pairs


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """(doc_id, simhash bigint): bit-majority of per-token 32-bit hashes.

    Computed as ``bits`` conditional sums inside one hash aggregate over the
    exploded token stream — one shuffle on doc_id, no bit-explosion.
    """
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", portable_hash32(F.col("tok")))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"c{b}") * 2 > F.col("n"), F.lit(2**b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = bit if sim is None else (sim + bit)
    return per_doc.select("doc_id", sim.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    bucket_cols: tuple = ("lang", "source"),
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct word-shingle sets — the verify stage
    after LSH, or a standalone exact near-dup detector on pre-bucketed
    corpora.

    Two modes:

    - ``candidates`` given (distinct ``doc_a``/``doc_b`` pairs, e.g. the
      output of :func:`minhash_lsh_pairs`): each pair is joined to the two
      docs' shingle arrays and ``inter = size(array_intersect(sha, shb))``
      — exact, because both arrays are already distinct. Shingles are built
      ONLY for docs in a candidate pair and nothing is exploded: work is
      bounded by the candidate set, never by corpus size. **This is the
      100 TB path**: a shingle-equi-join across a whole corpus bucket blows
      up on any hot shingle, a candidate-bounded join cannot.
    - no candidates: shingle equi-join within ``bucket_cols`` buckets
      (same lang+source by default) — safe only on pre-bucketed/small data.
      Each exploded shingle row carries its doc's set size, so one hash
      aggregate yields the intersection and both sizes.

    Pairs sharing no shingle are never emitted. Output
    ``(doc_a, doc_b, inter long, jaccard)``.
    """
    if candidates is not None:
        cand = candidates.select("doc_a", "doc_b")
        involved = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sh = _shingled(docs.join(involved, "doc_id", "left_semi"), text_col, shingle_n)
        sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
        shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
        pairs = (
            cand.join(sha, "doc_a")
            .join(shb, "doc_b")
            .select(
                "doc_a", "doc_b",
                F.size(F.array_intersect("sha", "shb")).cast("long").alias("inter"),
                F.size("sha").alias("na"),
                F.size("shb").alias("nb"),
            )
            .filter(F.col("inter") > 0)
        )
    else:
        sh = _shingled(docs, text_col, shingle_n, *bucket_cols)
        ex = _explode_array(
            sh.withColumn("n_sh", F.size("sh")), "sh", "s", "doc_id", "n_sh", *bucket_cols
        )
        a, b = ex.alias("a"), ex.alias("b")
        pairs = (
            a.join(b, on=[*bucket_cols, "s"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.col("a.n_sh").alias("na"), F.col("b.n_sh").alias("nb"),
            )
            .agg(F.count("*").alias("inter"))
        )
    return (
        pairs.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def transitive_representatives(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Transitive-closure collapse of a (verified) near-dup PAIR table:
    every document in any pair maps to its component's minimum id.

    Output (doc_id, keep_doc_id) — one row per involved doc, including the
    representatives themselves (keep_doc_id == doc_id).

    This is the closure step a one-hop keep-min (``embedding_near_dup``,
    ``exact_duplicates``) cannot do: on a chain A≈B≈C the one-hop collapse
    keeps TWO representatives (C maps to B, which itself maps to A); the
    closure keeps one. Runs on graph.connected_components — alternating
    large-star/small-star, O(log n) hash-partitioned BSP rounds regardless
    of chain length, no driver state beyond a convergence scalar.
    """
    from ..graph import connected_components

    return connected_components(pairs, src_col=a_col, dst_col=b_col).select(
        F.col("node").alias("doc_id"), F.col("component").alias("keep_doc_id")
    )


def _gram_hashes(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    """(doc_id, gh array<bigint>): DISTINCT token ``k``-grams of the
    normalized text, hashed — one projection chain, no per-position rows.
    Shared by the span-dedup anchor path and benchmark decontamination."""
    return _shingled(docs, text_col, k).select(
        "doc_id", F.transform("sh", _salted_hash32("span")).alias("gh")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per-document count of DISTINCT verbatim
    ``k``-token grams shared with an evaluation/benchmark set — the GPT-3
    appendix-C / Llama-style n-gram overlap check, EXACT (every gram
    participates; no anchor subsampling — a missed contamination is worse
    than the extra hashing).

    Returns ``(doc_id, n_contaminated_grams)`` for training documents
    sharing ≥1 gram with any benchmark document; filter or down-weight the
    hits upstream of training.

    100 TB shape: the benchmark side is small by definition (an eval set),
    so its distinct gram-hash dim BROADCASTS — the training side is ONE
    scan + explode feeding a map-side broadcast inner join; only matched
    rows reach the final per-doc aggregation (partial-agg combined), so
    shuffle volume tracks contamination, not corpus size. Gram hashing and
    normalization are byte-identical to :func:`duplicated_span_docs`
    (shared kernel).
    """

    def gram_rows(df: DataFrame) -> DataFrame:
        return _explode_array(_gram_hashes(df, text_col, k), "gh", "gh", "doc_id")

    bench_dim = gram_rows(benchmark).select("gh").distinct()
    return (
        gram_rows(docs)
        .join(F.broadcast(bench_dim), on="gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )


def duplicated_span_docs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    select_mod: int = 4,
) -> DataFrame:
    """Exact duplicated-span detection via content-defined anchor
    fingerprints (winnowing-style, Schleimer et al. 2003 — the scalable
    stand-in for suffix-array ExactSubstr dedup, Lee et al. 2021): flag
    every document that shares a verbatim ``k``-token run with any other
    document.

    Every token ``k``-gram of the normalized text is hashed; a gram is an
    ANCHOR iff ``hash % select_mod == 0``. Selection depends only on the
    gram's content, so two copies of a span select IDENTICAL anchors no
    matter where the span sits in each document — there is no
    stride-alignment blind spot, which is why anchors beat fixed-stride
    windows for cross-document span matching. A shared run of L ≥ k tokens
    is caught unless none of its L-k+1 grams selects (miss probability
    ``(1-1/select_mod)^(L-k+1)``, deterministic given content: the same
    corpus always yields the same answer).

    Returns ``(doc_id, n_shared_anchors)`` for documents sharing ≥1 anchor
    with at least one OTHER document.

    100 TB shape: grams + hashes + the mod-filter all happen inside ONE
    projection chain (`transform`/`filter` over the gram array — no per-position
    rows exist until after ~(1-1/select_mod) of positions are pruned), then
    one explode of surviving anchors, a count-over-anchor window (one
    shuffle on a bigint key) and one hash-aggregate by doc — ONE corpus
    scan total; a self-join against a duplicated-anchor dim would plan the
    gram pipeline twice. Shuffle volume ≈ total_tokens / select_mod longs
    — no pairwise comparison, no suffix array, no driver state.

    Reference parity: the reference engine has no corpus-dedup surface;
    this extends SURVEY §2's training-data-pipeline set.
    """
    anchors = F.array_distinct(
        F.filter("gh", lambda h: h % select_mod == F.lit(0))
    )
    per_doc = _explode_array(
        _gram_hashes(docs, text_col, k).select("doc_id", anchors.alias("a")),
        "a", "anchor", "doc_id",
    )
    # window-over-anchor, NOT a self-join against a duplicated-anchor dim:
    # the join shape plans TWO corpus scans (both join inputs recompute the
    # md5 gram pipeline — Catalyst does not CSE across a self-join), and at
    # corpus scale the gram hashing IS the dominant cost. The window shape
    # is one scan + the same two shuffles (by anchor, then by doc_id).
    from pyspark.sql import Window

    n_docs = F.count("*").over(Window.partitionBy("anchor"))
    return (
        per_doc.withColumn("n_docs", n_docs)
        .filter(F.col("n_docs") > 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_anchors"))
    )
