"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All native column expressions (no Python UDFs) —
exact integer/ratio math, reproducible in ANSI SQL for the oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hiss_cube_spark.operators.dedup import token_code
from hiss_cube_spark.pins import pin

__all__ = [
    "tokenize",
    "token_counts",
    "quality_score",
    "quality_filter",
    "lang_id",
    "doc_fingerprint",
    "repetition_score",
    "token_frequencies",
    "tfidf_top_terms",
    "bm25_topk",
    "token_entropy",
    "compression_ratio",
    "pmi_bigrams",
    "bigram_lm_score",
    "trigram_lm_score",
    "linear_model_score",
    "rake_keywords",
    "mattr",
]

# Marker tokens per language for the n-gram/stopword heuristic. Determinism,
# not linguistic accuracy, is the contract (the synthetic corpus shares one
# vocabulary); swap marker sets for real corpora.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "order", "table"],
    "de": ["customer", "hash", "join", "row"],
    "es": ["slow", "agg", "merge", "vector"],
    "fr": ["scan", "data", "query", "batch"],
    "zh": ["join", "small", "row", "column"],
}

_STOPWORDS = ["the", "a"]


def tokenize(text: Column) -> Column:
    """Whitespace tokens (non-empty)."""
    return F.filter(F.split(text, " "), lambda t: F.length(t) > 0)


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, n_subtokens): whitespace count + a BPE-ish regex
    count (letter runs / digit runs / single punctuation), the usual
    pre-tokenizer proxy for LLM token budgets."""
    toks = tokenize(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.regexp_count(F.col(text_col), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")).alias(
            "n_subtokens"
        ),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length, mean word length, distinct-token
    ratio, stopword ratio → one blended score in [0, ~1].

    Same shape as production quality filters (e.g. C4/Gopher rules): cheap
    column math over every document, fully pushdown-friendly.
    """
    toks = tokenize(F.col(text_col))
    n = F.size(toks)
    n_d = F.lit(1.0) * n
    uniq = F.size(F.array_distinct(toks))
    stop = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
    mean_wl = F.length(F.col(text_col)) / n_d  # includes separators: stable proxy
    uniq_ratio = uniq / n_d
    stop_ratio = stop / n_d
    score = (
        F.least(n_d / F.lit(64.0), F.lit(1.0)) * F.lit(0.4)
        + uniq_ratio * F.lit(0.4)
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.2)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_tokens"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-token language ID: count markers per language, argmax with a
    fixed tie order (en, de, es, fr, zh).

    The token array and the 5 marker counts are let-bound with the
    ``transform(array(x), v -> ...)[0]`` idiom (same trick as the MinHash
    signatures, operators/dedup.py): the text is split once and each score
    is computed once, instead of the argmax CASE chain re-evaluating the
    split+filter per comparison branch under projection collapse
    (~20% faster at sf0.1 and at 10×, identical output).
    """
    order = list(LANG_MARKERS)

    def scores_of(w):
        return F.array(
            *[F.size(F.filter(w, lambda t: t.isin(LANG_MARKERS[lang]))) for lang in order]
        )

    def result_of(sc):
        # First-match-wins argmax: lang i wins if ≥ all langs after it in
        # the fixed tie order — a plain CASE chain, SQL-mirrorable.
        pred = F.lit(order[-1])
        for i in range(len(order) - 2, -1, -1):
            cond = None
            for j in range(i + 1, len(order)):
                c = sc[i] >= sc[j]
                cond = c if cond is None else (cond & c)
            pred = F.when(cond, F.lit(order[i])).otherwise(pred)
        return F.struct(
            *[sc[k].alias(f"score_{order[k]}") for k in range(len(order))],
            pred.alias("pred_lang"),
        )

    toks = tokenize(F.col(text_col))
    out = F.transform(F.array(toks), lambda w: F.transform(F.array(scores_of(w)), result_of)[0])[0]
    return df.select(F.col(id_col).alias("doc_id"), out.alias("_r")).select("doc_id", "_r.*")


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rolling-hash-style 31-bit document fingerprint.

    ``sum_over_positions((token_code+1) * ((pos+1)*2654435761 mod 2^31)) mod 2^31``
    — position-sensitive, pure integer math (exact in any engine)."""
    toks = tokenize(F.col(text_col))
    terms = F.transform(
        toks,
        lambda t, i: (token_code(t) + F.lit(1))
        * F.pmod((i.cast("long") + F.lit(1)) * F.lit(2654435761), F.lit(1 << 31)),
    )
    fp = F.pmod(
        F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x), F.lit(1 << 31)
    )
    return df.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))


def repetition_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Within-document repetition signals (Gopher-style rep filters):
    duplicate-token fraction (1 - distinct/total) and the fraction of all
    word ``n``-grams taken by the single most frequent one.

    The counts come from one Arrow-batched pandas UDF (a native
    sorted-array ``aggregate`` scan measured 7.6s at sf0.1 — interpreted
    higher-order lambdas never enter codegen; the python Counter kernel is
    ~50x cheaper and integer-exact, so oracle parity is unaffected). Still
    a map-only pass: no explode, no (doc, gram) shuffle, scales as a
    single pass at 100 TB.
    """

    @F.pandas_udf("n_tok long, n_distinct long, top_c long, n_grams long")
    def _rep_counts(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        rows = []
        for t in texts:
            toks = [w for w in (t or "").split(" ") if w]
            nt = len(toks)
            grams = [" ".join(toks[i : i + n]) for i in range(nt - n + 1)]
            rows.append(
                (nt, len(set(toks)), max(Counter(grams).values()) if grams else 0, len(grams))
            )
        return pd.DataFrame(rows, columns=["n_tok", "n_distinct", "top_c", "n_grams"])

    c = _rep_counts(F.col(text_col))
    return df.select(F.col(id_col).alias("doc_id"), c.alias("_c")).select(
        "doc_id",
        F.col("_c.n_tok").alias("n_tokens"),
        F.round(
            F.when(
                F.col("_c.n_tok") > 0,
                F.lit(1.0) - F.col("_c.n_distinct") / (F.lit(1.0) * F.col("_c.n_tok")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_token_frac"),
        F.round(
            F.when(
                F.col("_c.n_grams") > 0,
                F.col("_c.top_c") / (F.lit(1.0) * F.col("_c.n_grams")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("top_gram_frac"),
    )


def token_frequencies(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    k: int | None = None,
) -> DataFrame:
    """Corpus-wide token frequency table — the vocabulary-building scan.

    The canonical wordcount-at-scale plan: the explode happens map-side
    inside the same stage as the scan, and the groupBy's partial (map-side)
    aggregation pre-combines each partition's counts BEFORE the shuffle —
    so Zipf-skewed hot tokens ("the" on 100 TB) cross the wire once per
    partition, not once per occurrence. The optional top-k runs as
    TakeOrderedAndProject (per-partition heap + driver merge of k rows),
    never a full sort.
    """
    toks = df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
    out = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    if min_count > 1:
        out = out.where(F.col("n") >= min_count)
    if k is not None:
        out = out.orderBy(F.desc("n"), F.asc("token")).limit(k)
    return out


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (keyword extraction).

    tf = term count in the doc; idf = ln((N+1)/(df+1)) with N = corpus doc
    count, df = docs containing the term. The rank key is the score
    quantized to a long (floor(tf·idf·1e6)) so ordering — and the emitted
    score, derived from the same long — is bit-identical across engines;
    ties break on the token string.

    Plan shape: one exploded (doc, token) pass feeds BOTH aggregates — df
    comes from re-grouping the tf table (already distinct per doc) rather
    than a second countDistinct pass over raw tokens. The idf side is a
    token-keyed dimension that broadcast-joins back onto tf; the only big
    shuffle is the tf groupBy itself.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("nd"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.floor(
                F.col("tf")
                * F.log((F.col("nd") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                * F.lit(1e6)
            )
            .cast("long")
            .alias("score_q"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select(
            "doc_id",
            "token",
            "rnk",
            F.round(F.col("score_q") / F.lit(1e6), 6).alias("score"),
        )
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 ranked retrieval: top-``k`` documents for a bag-of-terms
    query (Robertson & Spärck Jones; the lexical-search baseline every
    RAG / corpus-search stack needs next to the ANN path).

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term contribution
    tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)) — with tf = 0 the numerator
    zeroes the term, so no conditional is needed. Each term's contribution
    is floor-quantized to a long BEFORE the sum, so the total is an
    order-independent integer and ranking is bit-identical across engines.

    Plan shape (100 TB-safe): ONE exploded pass feeds a single doc-keyed
    groupBy computing dl and every per-term tf as conditional aggregates —
    no (doc, term) shuffle, no joins against a postings table. Corpus
    stats (N, avgdl, per-term df) reduce that table to one broadcast row.
    The top-k is orderBy+limit (per-partition heap, driver merge of k),
    and the rank window runs over only the k survivors.
    """
    from functools import reduce
    from operator import add

    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("token"),
    )
    aggs = [F.count(F.lit(1)).alias("dl")]
    for i, t in enumerate(terms):
        aggs.append(F.sum((F.col("token") == t).cast("long")).alias(f"tf{i}"))
    # feeds BOTH the stats reduction and the scoring pass — persist so the
    # explode+groupBy runs once, not once per subtree (at cluster scale
    # this is the materialized doc-stats index a search system keeps warm);
    # caller owns unpersist (spark.catalog.clearCache) in long-lived
    # sessions, same convention as dedup.py / bfs_hops
    per_doc = toks.groupBy("doc_id").agg(*aggs).persist()

    stat_aggs = [
        F.count(F.lit(1)).alias("nd"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    ]
    for i in range(len(terms)):
        stat_aggs.append(F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}"))
    stats = per_doc.agg(*stat_aggs)

    j = per_doc.crossJoin(F.broadcast(stats))
    contribs = []
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("nd") - F.col(f"df{i}") + F.lit(0.5)) / (F.col(f"df{i}") + F.lit(0.5))
        )
        tf = F.col(f"tf{i}").cast("double")
        denom = tf + (F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")))
        contribs.append(
            F.floor(idf * tf * (F.lit(k1) + F.lit(1.0)) / denom * F.lit(1e6)).cast("long")
        )
    score_q = reduce(add, contribs)

    top = (
        j.select("doc_id", score_q.alias("score_q"))
        .where(F.col("score_q") > 0)
        .orderBy(F.desc("score_q"), F.asc("doc_id"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "rank", F.round(F.col("score_q") / F.lit(1e6), 6).alias("score"))
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy of each document's token distribution (nats) — the
    information-density quality signal: near-zero for degenerate repeated
    text, ln(n_tokens) for all-distinct text.

    H = ln(n) − (Σ c·ln c)/n over per-token counts c. Each c·ln(c) term is
    floor-quantized to a long BEFORE the per-doc sum, so the reduction is
    order-independent and the emitted value engine-exact. One exploded
    groupBy (doc, token) then a per-doc re-group — both map-side combined;
    text itself never shuffles twice.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.floor(F.col("c").cast("double") * F.log(F.col("c").cast("double")) * F.lit(1e6))
            .cast("long")
        ).alias("s_q"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    return per_doc.select(
        "doc_id",
        "n",
        "n_distinct",
        F.round(
            F.log(F.col("n").cast("double"))
            - (F.col("s_q") / F.lit(1e6)) / F.col("n").cast("double"),
            6,
        ).alias("entropy"),
    )


def pmi_bigrams(
    df: DataFrame,
    k: int = 15,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` adjacent-token collocations by pointwise mutual information
    — PMI(a,b) = ln((c_ab/N_bi) / ((c_a/N_tok)·(c_b/N_tok))), the classic
    phrase-mining signal (Church & Hanks 1990), with a ``min_count`` floor
    so rare coincidences don't dominate.

    Bigrams are built ROW-LOCALLY (zip_with over the token array and its
    tail — no self-join, no window over the corpus); unigram and bigram
    counts are two map-side-combining groupBys over exploded tokens, and
    the unigram table joins back broadcast (vocabulary-sized). The rank key
    is the PMI floor-quantized to a long; ties break on the token pair.
    """
    toks = tokenize(F.col(text_col))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # TWO corpus passes total: the bigram-type and unigram-type count
    # tables are materialized (vocabulary-bounded, not corpus-bounded),
    # and the grand totals derive from them (sum of counts == total
    # occurrences — identical values); the lazy formulation re-scanned
    # the corpus for each total and once per broadcast reference of uni
    bi_all = pin(
        df.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab")),
        eager=True,
    )
    bi = bi_all.where(F.col("c_ab") >= min_count)
    uni = pin(
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c")),
        eager=True,
    )
    totals = uni.agg(F.sum("c").cast("long").alias("n_tok")).crossJoin(
        bi_all.agg(F.sum("c_ab").cast("long").alias("n_bi"))
    )
    parts = F.split("bigram", " ")
    scored = (
        bi.withColumn("tok_a", parts[0])
        .withColumn("tok_b", parts[1])
        .join(F.broadcast(uni.select(F.col("token").alias("tok_a"), F.col("c").alias("c_a"))), "tok_a")
        .join(F.broadcast(uni.select(F.col("token").alias("tok_b"), F.col("c").alias("c_b"))), "tok_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            F.floor(
                F.log(
                    (F.col("c_ab").cast("double") / F.col("n_bi"))
                    / (
                        (F.col("c_a").cast("double") / F.col("n_tok"))
                        * (F.col("c_b").cast("double") / F.col("n_tok"))
                    )
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("pmi_q"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi_q"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(k)
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            F.round(F.col("pmi_q") / F.lit(1e6), 6).alias("pmi"),
        )
    )


from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 25,
    min_uniq_ratio: float = 0.4,
    max_stop_ratio: float = 0.12,
) -> DataFrame:
    """Rule-based keep/drop gate composing the quality signals — the
    decision layer of a C4/Gopher-style curation pipeline.

    Emits ``keep`` plus ``reason`` (the FIRST failing rule, in severity
    order: too_short → low_diversity → stopword_heavy → pass) so dropped
    volume is attributable per rule in the corpus report. All comparisons
    run on UNROUNDED doubles (exact integer divisions in both engines);
    only display columns round. Pure codegen column math: at 100 TB this
    is a free map over the scan, and a downstream `WHERE keep` prunes
    before any shuffle.
    """
    toks = tokenize(F.col(text_col))
    n = F.size(toks)
    n_d = F.lit(1.0) * n
    uniq_ratio = F.size(F.array_distinct(toks)) / n_d
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS))) / n_d
    reason = (
        F.when(n < min_tokens, "too_short")
        .when(uniq_ratio < min_uniq_ratio, "low_diversity")
        .when(stop_ratio > max_stop_ratio, "stopword_heavy")
        .otherwise("pass")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_tokens"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        reason.alias("reason"),
        (reason == "pass").alias("keep"),
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    train_df: DataFrame | None = None,
    max_train_docs: int | None = 100_000,
) -> DataFrame:
    """Language-model quality score: train add-k-smoothed bigram statistics
    on the corpus itself, then score every document by the average
    conditional probability of its bigrams, P(w2|w1) = (c(w1,w2)+k) /
    (c(w1)+k·V). Low scores flag machine-garbled / out-of-distribution text
    — the KenLM-perplexity-filter shape from production data pipelines.

    Plan: one explode of the training corpus into bigrams feeds two
    map-side-combining groupBys (the "training" pass) and a lookup join onto
    the scored bigrams; the per-document aggregate is decimal-quantized so
    the score is independent of reduction order. Average probability (not
    log-prob) keeps every operation rational, hence bit-deterministic across
    engines; a log-prob variant is a drop-in `F.ln` on the same column.

    Training is BOUNDED by default: counts come from a deterministic sample
    of at most ``max_train_docs`` documents (lowest xxhash64 of the id — a
    per-partition top-K, no full sort), so at 100 TB the LM tables stay
    small enough to broadcast while the scoring pass stays a linear scan.
    Below the cap the sample is the whole corpus, so small-scale results
    are identical to exact corpus training. Pass ``max_train_docs=None``
    for exact corpus training at any scale (the oracle-pinned variant), or
    ``train_df`` to train on a held-out corpus. Bigrams unseen in training
    back off to zero counts: P = k / (k·V) = 1/V.
    """
    def bigrams(src: DataFrame, with_id: bool) -> DataFrame:
        toks = src.select(F.col(id_col), F.split(F.col(text_col), " ").alias("w"))
        n = F.size("w")
        cols = [id_col] if with_id else []
        return (
            toks.where(n >= 2)
            .select(
                *cols,
                F.explode(
                    F.arrays_zip(
                        F.slice("w", 1, n - 1).alias("w1"),
                        F.slice("w", 2, n - 1).alias("w2"),
                    )
                ).alias("bg"),
            )
            .select(*cols, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        )

    train_src = train_df if train_df is not None else df
    if max_train_docs is not None:
        train_src = train_src.orderBy(F.xxhash64(F.col(id_col))).limit(max_train_docs)

    b = bigrams(df, with_id=True)
    tb = bigrams(train_src, with_id=False)
    # the LM tables: ONE training scan. c2 is pinned (bounded by
    # |vocab|^2 bigram TYPES, not corpus size) and the unigram counts +
    # vocabulary size derive from it (sum over w2 / distinct w2 —
    # identical values); the lazy formulation re-scanned the training
    # corpus once per table because per-branch column pruning defeats
    # exchange reuse
    c2 = pin(tb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2")))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    vocab = c2.agg(F.countDistinct("w2").alias("vsz"))
    p = (
        b.join(c2, ["w1", "w2"], "left").join(c1, ["w1"], "left").crossJoin(vocab)
        .withColumn(
            "p",
            (F.coalesce(F.col("n2"), F.lit(0)) + F.lit(k))
            / (F.coalesce(F.col("n1"), F.lit(0)) + F.lit(k) * F.col("vsz")),
        )
    )
    return p.groupBy(id_col).agg(
        F.round(
            F.sum(F.col("p").cast("decimal(30,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("lm_score"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def trigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pred=None,
    lam: float = 0.4,
) -> DataFrame:
    """Trigram language-model score with stupid backoff (Brants et al.,
    EMNLP'07 — the web-scale LM that skips normalization because at
    corpus scale backoff weights matter more than proper probabilities):

        S(w3|w1w2) = c123/c12                    if the trigram was seen
                     λ · c23/c2                  else if (w2,w3) seen
                     λ² · c3/N                   else if w3 seen
                     0                           otherwise

    where every count is a CONTINUATION count derived from the single
    trigram table (c12 = Σ_w3 c123, c23 = Σ_w1 c123, c3 = Σ_{w1,w2},
    N = Σ all) — so training is ONE corpus scan into one bounded gram
    table, and all marginals are windows over it (the scan-audit
    discipline). Every term is rational (integer ratios × a λ power both
    engines parse to the same double; ×,/ are correctly-rounded IEEE),
    per-term values are decimal-quantized before the per-doc sum — the
    bigram_lm_score parity discipline, extended one order.

    ``train_pred`` restricts training (e.g. ``F.col("doc_id") % 2 == 0``
    — the held-in half) so the scored held-out half genuinely exercises
    the backoff chain; default trains on the full corpus (backoff then
    never fires for in-corpus docs — fine for drift scoring, useless for
    testing the ladder).

    Output: (doc_id, n_trigrams, lm3_score = round(mean S, 6)).
    """
    def grams(src: DataFrame, with_id: bool) -> DataFrame:
        toks = src.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("w")
        )
        n = F.size("w")
        cols = [id_col] if with_id else []
        return (
            toks.where(n >= 3)
            .select(
                *cols,
                F.explode(
                    F.arrays_zip(
                        F.slice("w", 1, n - 2).alias("w1"),
                        F.slice("w", 2, n - 2).alias("w2"),
                        F.slice("w", 3, n - 2).alias("w3"),
                    )
                ).alias("g"),
            )
            .select(
                *cols,
                F.col("g.w1").alias("w1"),
                F.col("g.w2").alias("w2"),
                F.col("g.w3").alias("w3"),
            )
        )

    train = df if train_pred is None else df.where(train_pred)
    # bounded by trigram TYPES
    c123 = pin(
        grams(train, with_id=False).groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("n123"))
    )
    from pyspark.sql import Window

    c123m = c123.select(
        "w1", "w2", "w3", "n123",
        F.sum("n123").over(Window.partitionBy("w1", "w2")).alias("n12"),
    )
    c23 = c123.groupBy("w2", "w3").agg(F.sum("n123").alias("n23"))
    c23m = c23.select(
        "w2", "w3", "n23",
        F.sum("n23").over(Window.partitionBy("w2")).alias("n2"),
    )
    c3 = c123.groupBy("w3").agg(F.sum("n123").alias("n3"))
    # N as a broadcast scalar, not a Window.partitionBy() global window:
    # c3 is VOCABULARY-sized, and a global window funnels the whole
    # unigram table through one partition (the one single-partition
    # exchange in this operator's plan); the 1-row cross join attaches
    # the same value with no exchange on c3 at all.
    c3m = c3.crossJoin(
        F.broadcast(c3.agg(F.sum("n3").alias("nn")))
    ).select("w3", "n3", "nn")

    g = grams(df, with_id=True)
    s = (
        g.join(c123m, ["w1", "w2", "w3"], "left")
        .join(c23m, ["w2", "w3"], "left")
        .join(c3m, ["w3"], "left")
        .withColumn(
            "p",
            F.when(
                F.col("n123").isNotNull(),
                F.col("n123") / F.col("n12"),
            )
            .when(
                F.col("n23").isNotNull(),
                F.lit(lam) * F.col("n23") / F.col("n2"),
            )
            .when(
                F.col("n3").isNotNull(),
                F.lit(lam) * F.lit(lam) * F.col("n3") / F.col("nn"),
            )
            .otherwise(F.lit(0.0)),
        )
    )
    return s.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.round(
            F.sum(F.col("p").cast("decimal(30,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("lm3_score"),
    )


def simpson_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document lexical diversity via the Simpson index — the
    collision probability Σ (c_t / n)² over token counts c_t, and its
    inverse (the "effective vocabulary size"). High collision probability
    flags repetitive, template, or keyword-stuffed text; unlike Shannon
    entropy this is RATIONAL arithmetic (one integer sum of c², one
    division), so the score is bit-identical across engines — entropy's
    log() would differ in the last ulp between libm implementations.

    Plan: explode to (doc, token), count per (doc, token) with map-side
    combine, then one per-doc aggregate — the same two-shuffle shape as
    TF-IDF's term counting, linear in corpus size.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("n_distinct"),
        F.round(
            (F.sum(F.col("c") * F.col("c")).cast("double"))
            / (F.sum("c") * F.sum("c")).cast("double"),
            6,
        ).alias("simpson"),
        F.round(
            (F.sum("c") * F.sum("c")).cast("double")
            / F.sum(F.col("c") * F.col("c")).cast("double"),
            6,
        ).alias("inv_simpson"),
    )


def linear_model_score(
    df: DataFrame,
    weights: dict[str, float],
    bias: float = 0.0,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "auto",
) -> DataFrame:
    """Model-based quality scoring: a linear bag-of-words classifier
    (fastText-style mean pooling) applied corpus-wide — the shape of the
    model-filtering stage in DCLM/FineWeb-class pipelines, with the learned
    vocabulary weights supplied as a plain dict.

    ``logit(doc) = bias + Σ_tok w(tok) / n_tokens`` with OOV weight 0;
    ``keep = logit > threshold``. Weights are quantized to DECIMAL(12,6) so
    the per-doc sum is exact and order-independent (cross-engine
    reproducible); only the final mean produces a double.

    Two physical strategies (``auto`` picks by vocabulary size):

    * ``map`` (≤50k terms): the weights ship as a *literal map* and the sum
      is a row-local ``aggregate`` over the token array — ZERO shuffles,
      zero joins, output rows = input rows, everything in whole-stage
      codegen. Measured 7.5× → 1.3× on the 1×→10× corpus vs the join path.
    * ``join`` (larger vocabularies): explode tokens → broadcast-hash join
      the weight table → one per-doc aggregation shuffle with map-side
      partial sums. The raw text never shuffles — tokens explode after the
      doc length is captured row-local.
    """
    dec0 = F.lit(0).cast("decimal(12,6)")
    if strategy == "auto":
        strategy = "map" if len(weights) <= 50_000 else "join"
    if strategy == "map":
        pairs = []
        for t, w in sorted(weights.items()):
            pairs.append(F.lit(t))
            pairs.append(F.lit(float(w)).cast("decimal(12,6)"))
        wmap = F.create_map(*pairs)
        toks = tokenize(F.col(text_col))
        wsum = F.aggregate(
            toks,
            F.lit(0).cast("decimal(20,6)"),
            lambda acc, t: (acc + F.coalesce(wmap[t], dec0)).cast(
                "decimal(20,6)"
            ),
        )
        base = df.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).alias("n_tokens"),
            F.size(F.filter(toks, lambda t: wmap[t].isNotNull()))
            .cast("long")
            .alias("n_in_vocab"),
            wsum.alias("wsum"),
        )
    elif strategy == "join":
        spark = df.sparkSession
        w_df = spark.createDataFrame(
            [(t, float(w)) for t, w in sorted(weights.items())],
            "tok string, w double",
        ).select("tok", F.col("w").cast("decimal(12,6)").alias("w"))
        toks = df.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokenize(F.col(text_col))).alias("n_tokens"),
            F.explode(tokenize(F.col(text_col))).alias("tok"),
        )
        base = (
            toks.join(F.broadcast(w_df), "tok", "left")
            .groupBy("doc_id", "n_tokens")
            .agg(
                F.sum(F.coalesce(F.col("w"), dec0)).alias("wsum"),
                F.count(F.when(F.col("w").isNotNull(), 1)).alias("n_in_vocab"),
            )
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    # + 0.0 collapses IEEE -0.0 to +0.0: round() can produce a signed zero
    # from a tiny negative, and engines disagree on which zero they emit.
    logit = F.round(
        F.lit(float(bias)) + F.col("wsum").cast("double") / F.col("n_tokens"), 6
    ) + F.lit(0.0)
    return base.select(
        "doc_id",
        "n_tokens",
        "n_in_vocab",
        logit.alias("logit"),
        (logit > F.lit(float(threshold))).alias("keep"),
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    classic cheap quality signal: highly compressible text is repetitive
    boilerplate/spam; incompressible text is noise or binary junk; natural
    prose sits in a recognizable band (used as a C4/RefinedWeb-era filter).

    Arrow-batched pandas UDF (zlib is not expressible in Catalyst); the
    DEFLATE output for a given (input, level) is deterministic for a given
    zlib build, so results are stable per environment — validated by its
    banded contract (repetitive < prose < random), not a SQL oracle. At
    100 TB this is a linear map over the scan, no shuffle.
    """
    import zlib

    @F.pandas_udf("array<long>")
    def _sizes(texts: pd.Series) -> pd.Series:
        def sz(t: str):
            raw = t.encode("utf-8")
            return [len(raw), len(zlib.compress(raw, level))]

        return texts.map(sz)

    c = df.select(F.col(id_col), _sizes(F.col(text_col)).alias("_s"))
    return c.select(
        id_col,
        F.col("_s")[0].alias("raw_bytes"),
        F.col("_s")[1].alias("compressed_bytes"),
        F.round(
            F.col("_s")[1].cast("double") / F.greatest(F.col("_s")[0], F.lit(1)), 6
        ).alias("compression_ratio"),
    )


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — the classic
    unsupervised keyphrase scorer: candidate phrases are maximal runs of
    non-stopword tokens; each word scores degree/frequency within the
    document (degree = summed length of the phrases containing it), and a
    phrase scores the sum of its words' scores. Emits each document's
    top-scoring phrase with its quantized score.

    Engine-exact: degree and frequency are integer counts, each word's
    degree/frequency ratio is ONE IEEE division floor-quantized to 1e6
    before the per-phrase integer sum, and the winning phrase breaks ties
    by first position. Plan: one explode to (doc, pos, token), a running
    stopword-count window per doc to assign phrase groups (the classic
    gaps-and-islands trick), two doc-local aggregations, one regroup —
    every stage is doc-grain, nothing global shuffles but the explode.
    """
    stopwords = stopwords if stopwords is not None else _STOPWORDS
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "token"),
    ).withColumn("is_stop", F.col("token").isin(stopwords))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = toks.withColumn("grp", F.sum(F.col("is_stop").cast("int")).over(w))
    words = grp.where(~F.col("is_stop")).select("doc_id", "grp", "pos", "token")
    # phrase length and word degree/frequency as windows on ONE derivation
    # chain — the groupBy+join formulation lazily re-derived the token
    # explode once per reference (4 corpus scans); every window partitions
    # by a doc_id superset key, so the explode's exchange is reused and
    # only per-partition sorts are added
    wgrp = Window.partitionBy("doc_id", "grp")
    wtok = Window.partitionBy("doc_id", "token")
    wp = (
        words.withColumn("plen", F.count(F.lit(1)).over(wgrp))
        .withColumn("start", F.min("pos").over(wgrp))
        .withColumn("deg", F.sum("plen").over(wtok))
        .withColumn("freq", F.count(F.lit(1)).over(wtok))
    )
    scored = (
        wp
        .withColumn(
            "_wq",
            F.floor(
                F.col("deg").cast("double") / F.col("freq").cast("double") * 1e6
            ).cast("long"),
        )
        .groupBy("doc_id", "grp")
        .agg(
            F.sum("_wq").alias("score_q"),
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, token))), s -> s.token)"),
                " ",
            ).alias("phrase"),
            F.min("pos").alias("start"),
        )
    )
    rw = Window.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(), F.col("start").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(rw))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "phrase",
            F.round(F.col("score_q") / F.lit(1e6), 6).alias("score"),
        )
    )


def readability_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease / Flesch–Kincaid grade per document — the
    classic readability gates of web-corpus curation (too-low reading
    ease flags boilerplate/navigation soup; absurdly high grade flags
    run-on extraction failures).

    Pure native expressions over three regexp counts (no tokenizer UDF):
    words = ``\\S+`` runs, sentences = ``[.!?]+`` runs (min 1 so headline
    fragments don't divide by zero), syllables = vowel-group runs
    (``[aeiouyAEIOUY]+``) — the standard orthographic approximation.
    Integer counts make the two scores exact IEEE expressions
    (div/mul/sub only), so the SQL oracle reproduces them bit-for-bit.

    Flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words);
    FK grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.
    """
    words = F.regexp_count(F.col(text_col), F.lit(r"\S+"))
    sents = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    )
    syll = F.regexp_count(F.col(text_col), F.lit("[aeiouyAEIOUY]+"))
    wps = words.cast("double") / sents.cast("double")
    spw = syll.cast("double") / F.greatest(words, F.lit(1)).cast("double")
    return df.select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw).alias(
            "flesch_ease"
        ),
        (F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)).alias(
            "fk_grade"
        ),
    )


def mattr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    stride: int = 25,
) -> DataFrame:
    """Moving-Average Type-Token Ratio (Covington & McFall 2010) — the
    length-robust lexical-diversity score (plain TTR shrinks with
    document length; MATTR averages the TTR of fixed-size sliding
    windows, so a 100-token and a 10k-token document are comparable).
    A standard quality-filter feature next to the Gopher rules.

    Windows of ``window`` consecutive tokens start every ``stride``
    positions and must fit entirely inside the document (docs shorter
    than ``window`` are excluded — score them with plain TTR). All
    counts are exact integers; the only division is the final
    ``sum_distinct / (n_windows · window)``.

    Scale shape: the window-membership join is EQUI, not a range theta
    join — with ``stride`` dividing ``window``, token block
    ``pos DIV stride`` limits each window to ``window/stride`` known
    blocks, so windows expand to that constant fan-out of block keys and
    join on (doc, block); a per-(doc, window) count_distinct finishes
    it. Everything partitions by doc hash; no window frames, no
    quadratic pair-up.
    """
    if window % stride != 0:
        raise ValueError("stride must divide window (equi-join blocking)")
    blocks_per_window = window // stride
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.expr(f"filter(split({text_col}, ' '), x -> x != '')")
        ).alias("_pos", "_tok"),
    )
    n = toks.groupBy("_id").agg(F.max("_pos").alias("_mx"))
    starts = n.where(F.col("_mx") >= window - 1).select(
        "_id",
        F.explode(
            F.sequence(
                F.lit(0), F.col("_mx") + 1 - window, F.lit(stride)
            )
        ).alias("_s"),
    )
    skeys = starts.select(
        "_id",
        "_s",
        F.explode(
            F.expr(
                f"sequence(_s DIV {stride}, _s DIV {stride} + "
                f"{blocks_per_window - 1})"
            )
        ).alias("_blk"),
    )
    tkeys = toks.withColumn("_blk", F.expr(f"_pos DIV {stride}"))
    win = (
        skeys.join(tkeys, ["_id", "_blk"])
        .where(
            (F.col("_pos") >= F.col("_s"))
            & (F.col("_pos") < F.col("_s") + window)
        )
        .groupBy("_id", "_s")
        .agg(F.count_distinct("_tok").alias("_d"))
    )
    return win.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum("_d").cast("long").alias("sum_distinct"),
    ).select(
        F.col("_id").alias(id_col),
        "n_windows",
        "sum_distinct",
        F.round(
            F.col("sum_distinct")
            / (F.col("n_windows") * F.lit(float(window))),
            6,
        ).alias("mattr"),
    )
