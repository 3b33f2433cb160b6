"""Text analysis: token counting, quality scoring, language-ID, document
fingerprinting. Hot paths are pure column expressions (portable to a DuckDB
oracle); the char-ngram language model is the one Arrow-batched UDF here.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

STOPWORDS = (
    "the a an and or of to in is are was were be been it this that "
    "with for on as at by from"
).split()


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword proxy (ceil(chars/4) per token,
    the common ~4-chars-per-token heuristic) — both as column expressions.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tok = F.when(F.trim(F.col(text_col)) == "", 0).otherwise(F.size(toks))
    n_sub = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("bigint"),
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_sub.alias("n_subwords"),
        F.length(F.col(text_col)).alias("n_chars_computed"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features + composite score:

    - mean word length (2..12 considered healthy)
    - stopword ratio (natural text ≈ 0.2-0.6)
    - alpha ratio (letters / chars)
    - duplicate-token ratio (1 - distinct/total) — boilerplate signal
    Score = product of clamped feature terms.

    Cross-engine portability: every published numeric column is a
    floor-scaled integer twin (floor(x·1e6) as BIGINT) of the RAW double
    feature — each feature is one IEEE division of exact integers, and the
    composite is the same fixed sequence of double ops on bit-identical
    inputs, so floor cannot diverge between Spark and DuckDB — unlike
    round(x, 6), whose half-tie semantics differ (Spark rounds the
    shortest decimal repr HALF_UP, DuckDB rounds the binary value; the
    q_pagerank 0.0004275 case). Same pattern as gopher_repetition's ppm
    twins below.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n = F.size(toks)
    mean_wl = F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) / n
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = n_stop / n
    alpha_ratio = F.length(
        F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")
    ) / F.greatest(F.length(F.col(text_col)), F.lit(1))
    dup_ratio = 1 - F.size(F.array_distinct(toks)) / n
    score = (
        F.least(mean_wl / 5.0, F.lit(1.0))
        * F.least(stop_ratio * 2 + 0.5, F.lit(1.0))
        * alpha_ratio
        * (1 - dup_ratio * 0.5)
    )

    def ppm(c):
        return F.floor(c * F.lit(1_000_000)).cast("bigint")

    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        ppm(mean_wl).alias("mean_word_len_ppm"),
        ppm(stop_ratio).alias("stopword_ppm"),
        ppm(alpha_ratio).alias("alpha_ppm"),
        ppm(dup_ratio).alias("dup_token_ppm"),
        ppm(score).alias("quality_ppm"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint (md5 of lower+collapsed-ws text) plus
    a 64-bit prefix as bigint — the join key for cross-corpus exact dedupe."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    h = F.md5(norm)
    return docs.select(
        "doc_id",
        h.alias("fp_md5"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("fp32"),
    )


def gopher_repetition(docs: DataFrame, text_col: str = "text",
                      max_word_frac: float = 0.30,
                      max_bigram_frac: float = 0.18) -> DataFrame:
    """Gopher-style repetition filter (Rae et al. 2021 §A1.1 "repetitious
    text" rules, count-fraction variant): per document, the fraction of
    tokens taken by the single most frequent word and by the most frequent
    word bigram; documents above either threshold are flagged drop.

    Distributed shape: ONE explode of a tagged union (word grams + bigram
    grams) → hash-aggregate (doc_id, kind, gram) with map-side combine →
    per-doc max → conditional-agg pivot. Work and shuffle volume are
    O(total tokens); no per-doc state lives on the driver, so the same plan
    runs at 100 TB — the (doc_id, kind, gram) key is near-unique, which
    makes the first combine do almost all the reduction locally.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    d = docs.select("doc_id", toks.alias("toks")).withColumn(
        "n_words", F.size("toks")
    )
    words = d.select(
        "doc_id", "n_words", F.lit("w").alias("kind"),
        F.explode("toks").alias("gram"),
    )
    bigram_arr = F.zip_with(
        F.expr("slice(toks, 1, size(toks) - 1)"),
        F.expr("slice(toks, 2, size(toks) - 1)"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bigrams = d.filter(F.col("n_words") >= 2).select(
        "doc_id", "n_words", F.lit("b").alias("kind"),
        F.explode(bigram_arr).alias("gram"),
    )
    counts = (
        words.unionByName(bigrams)
        .groupBy("doc_id", "kind", "gram")
        .agg(F.count("*").alias("c"), F.first("n_words").alias("n_words"))
    )
    maxes = counts.groupBy("doc_id", "kind").agg(
        F.max("c").alias("top_c"), F.first("n_words").alias("n_words")
    )
    top_w = F.max(F.when(F.col("kind") == "w", F.col("top_c")))
    top_b = F.max(F.when(F.col("kind") == "b", F.col("top_c")))
    n_words = F.first("n_words")
    out = maxes.groupBy("doc_id").agg(
        n_words.alias("n_words"),
        F.round(top_w / n_words, 6).alias("top_word_frac"),
        F.round(
            F.coalesce(top_b / (n_words - F.lit(1)), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
        # Portable integer twins of the fractions: floor(frac·1e6) of the
        # raw double ratio. top_c/n_words is one IEEE division of exact
        # integers → bit-identical across engines, and floor of identical
        # doubles cannot diverge — unlike round(x, 6), whose half-tie
        # semantics differ between Spark (shortest-repr HALF_UP) and DuckDB
        # (binary-value). The keep flag + oracle gate use these.
        F.floor(top_w / n_words * F.lit(1_000_000))
        .cast("bigint").alias("top_word_ppm"),
        F.floor(
            F.coalesce(top_b / (n_words - F.lit(1)), F.lit(0.0)) * F.lit(1_000_000)
        ).cast("bigint").alias("top_bigram_ppm"),
    )
    # keep flag from the integer ppm values (engine-portable thresholds)
    return out.withColumn(
        "keep",
        (
            (F.col("top_word_ppm") <= int(max_word_frac * 1_000_000))
            & (F.col("top_bigram_ppm") <= int(max_bigram_frac * 1_000_000))
        ).cast("int"),
    )


def lang_stats(docs: DataFrame) -> DataFrame:
    """Per-language corpus profile (counts, length stats, source spread)."""
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Language-ID: char-trigram centroid classifier (train on a split, predict
# with a vectorized pandas UDF). Not SQL-expressible → covered by a
# self-accuracy pytest instead of a DuckDB oracle.
# ---------------------------------------------------------------------------

def train_char_ngram_profiles(docs: DataFrame, n: int = 3, top: int = 200) -> dict:
    """Per-language top-N char-ngram frequency profile.

    The top-N cut happens DISTRIBUTIVELY (per-lang window over the gram
    counts) before anything reaches the driver, so the collect is bounded at
    ``langs × top`` rows regardless of corpus/vocabulary size — the full
    (lang, gram) count table never leaves the executors. Ties at the cut
    break by (count desc, gram asc), matching the DuckDB oracle.
    """
    from pyspark.sql import Window

    grams = docs.selectExpr(
        "lang",
        f"explode(transform(sequence(1, greatest(length(text)-{n-1}, 0)),"
        f" i -> substring(text, i, {n}))) AS g",
    )
    counts = grams.groupBy("lang", "g").count()
    w = Window.partitionBy("lang").orderBy(F.col("count").desc(), F.col("g"))
    rows = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top)
        .drop("_rn")
        .collect()
    )
    prof: dict = {}
    for r in rows:
        prof.setdefault(r["lang"], {})[r["g"]] = r["count"]
    out = {}
    for lang, d in prof.items():
        top_items = sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(v for _, v in top_items) or 1
        out[lang] = {g: v / total for g, v in top_items}
    return out


def predict_lang(docs: DataFrame, profiles: dict, n: int = 3) -> DataFrame:
    """Cosine similarity of each doc's char-ngram counts vs the language
    centroids; Arrow-batched pandas UDF (profiles broadcast in the closure)."""
    langs = sorted(profiles)

    def it(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math
        from collections import Counter

        pnorm = {
            lang: math.sqrt(sum(v * v for v in prof.values()))
            for lang, prof in profiles.items()
        }
        for pdf in batches:
            preds, scores = [], []
            for text in pdf["text"]:
                t = text or ""
                c = Counter(t[i : i + n] for i in range(max(len(t) - n + 1, 0)))
                dnorm = math.sqrt(sum(v * v for v in c.values())) or 1.0
                best, best_s = "", -1.0
                for lang in langs:
                    prof = profiles[lang]
                    dot = sum(v * prof.get(g, 0.0) for g, v in c.items())
                    s = dot / (dnorm * pnorm[lang]) if pnorm[lang] else 0.0
                    if s > best_s:
                        best, best_s = lang, s
                preds.append(best)
                scores.append(round(best_s, 6))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pred_lang": preds, "lang_score": scores}
            )

    return docs.select("doc_id", "text").mapInPandas(
        it, "doc_id long, pred_lang string, lang_score double"
    )


# patterns shared by the Spark path and the DuckDB oracle — kept inside the
# Java∩RE2 common regex subset (no lookaround, no backrefs) so both engines
# match byte-identically
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}"
PII_URL_RE = r"https?://[^\s]+"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data PII scrub: redact emails, international-format phone
    numbers, and bare URLs to typed placeholders, and count each redaction.

    Pure column expressions (JVM regex inside whole-stage codegen — at
    100 TB this is a map-only pass with no shuffle, pipelined into
    whatever scan feeds it). URLs are redacted FIRST so an email-shaped
    userinfo inside a URL counts as the URL, not as an email — the order
    is part of the contract and the oracle mirrors it.
    """
    col = F.col(text_col)
    # patterns travel as Column literals (F.lit), NOT through F.expr SQL
    # strings — Spark SQL string literals process backslash escapes, which
    # would silently turn [^\s] into [^s]
    n_urls = F.regexp_count(col, F.lit(PII_URL_RE))
    after_url = F.regexp_replace(col, PII_URL_RE, "<URL>")
    n_emails = F.regexp_count(after_url, F.lit(PII_EMAIL_RE))
    after_email = F.regexp_replace(after_url, PII_EMAIL_RE, "<EMAIL>")
    n_phones = F.regexp_count(after_email, F.lit(PII_PHONE_RE))
    scrubbed = F.regexp_replace(after_email, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n_urls.cast("long").alias("n_urls"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
    )


def top_ngrams(
    docs: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """EXACT global top-``k`` most frequent token ``n``-grams over the
    corpus (the corpus-statistics pass a training-data pipeline runs before
    choosing filters/stopword lists).

    Occurrences are positional (repeats inside one doc count), ties break
    deterministically (count DESC, gram ASC), output carries a dense
    ``rank`` so the result is a total order.

    100 TB shape: one explode → one hash-aggregate on the gram key with
    map-side combine (the (gram) key is heavy-tailed, which makes partial
    aggregation collapse the head locally — the hot grams are exactly the
    ones combined best), then ``ORDER BY count DESC LIMIT k`` which Spark
    plans as TakeOrderedAndProject: per-partition top-k heaps merged on
    the driver — NO global sort shuffle. Exact, not sketched: at 10^12
    tokens the aggregate state is O(distinct grams) spread across
    executors, and the only driver-side data is k rows.
    """
    from .dedup import tokens

    t = tokens(F.col(text_col))
    if n == 1:
        grams = F.col("toks")
    else:
        # a doc shorter than n tokens gets empty slices, hence no grams; a
        # Filter on size(toks) would instead be pushed beneath the
        # projection and split every text a second time
        m = F.greatest(F.size("toks") - (n - 1), F.lit(0))
        parts = [F.slice("toks", j + 1, m) for j in range(n)]
        grams = parts[0]
        for p in parts[1:]:
            grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    exploded = docs.select(t.alias("toks")).select(F.explode(grams).alias("gram"))
    agg = exploded.groupBy("gram").agg(F.count("*").alias("cnt"))
    ordered = agg.orderBy(F.col("cnt").desc(), F.col("gram").asc()).limit(k)
    from pyspark.sql import Window
    w = Window.orderBy(F.col("cnt").desc(), F.col("gram").asc())
    return ordered.withColumn("rank", F.row_number().over(w).cast("long"))
