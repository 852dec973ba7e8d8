"""Dataset-curation operators for LLM training-data pipelines: deterministic
train/val/test splitting, sequence packing into fixed context windows, and
class-balanced sampling.

All pure integer/column math (no Python UDFs, no RNG state): assignments are
a function of the row's key alone, so they are reproducible across engines
(ANSI-SQL oracle), across runs, and across repartitionings — the property
that actually matters for data splits (a re-run must never move a document
between train and test).
"""

from __future__ import annotations

# module-top import: pandas_udf type hints resolve at decoration time under
# `from __future__ import annotations`, so `pd` must exist in the namespace
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from hiss_cube_spark.operators.text_analysis import tokenize
from hiss_cube_spark.pins import pin

__all__ = [
    "BenchmarkBudgetExceeded",
    "hash_split",
    "stratified_kfold",
    "weighted_sample",
    "pack_sequences",
    "balanced_sample",
    "oversample_minority",
    "decontaminate",
    "embedding_decontaminate",
    "contamination_score",
    "corpus_report",
    "temperature_sample",
    "blocklist_filter",
    "woe_iv_binning",
    "build_dedup_index",
    "incremental_dedup",
    "incremental_neardup",
    "chunk_documents",
    "domain_cap",
    "reservoir_sample",
    "canonicalize_urls",
    "pack_atomic",
]

# Knuth multiplicative constant — scrambles sequential ids so range-correlated
# inputs (monotone keys, per-source blocks) spread uniformly over buckets.
_MIX = 2654435761

_DEFAULT_WEIGHTS: dict[str, float] = {"train": 0.8, "val": 0.1, "test": 0.1}


class BenchmarkBudgetExceeded(RuntimeError):
    """The `embedding_decontaminate` kernel path collects the benchmark
    (test) side to the driver — bounded by definition of a benchmark, but a
    mis-aimed call that passes a large corpus as ``test`` would otherwise
    OOM the driver silently. This guard raises loudly instead (the
    `exports.ExportBudgetExceeded` precedent)."""


# one live broadcast per session and operator (see embedding_decontaminate /
# blocklist_filter): each call unpersists the previous call's executor
# copies; the lock serializes concurrent swaps so no broadcast is orphaned.
# The latest broadcast's value stays reachable (hence driver-resident)
# until the next call or session end — bounded by the operators' own
# collect budgets.
import threading as _threading

_EMB_DECON_BC: dict = {}
_EMB_DECON_BC_LOCK = _threading.Lock()
_BLOCKLIST_BC: dict = {}
_BLOCKLIST_BC_LOCK = _threading.Lock()


def split_bucket(id_col: Column, n_buckets: int = 1000) -> Column:
    """Deterministic bucket in [0, n_buckets) from an integer key."""
    return F.pmod(id_col.cast("long") * F.lit(_MIX), F.lit(n_buckets))


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Assign every row a deterministic split label by hashed key.

    ``weights`` is an ordered {name: fraction} mapping (fractions sum to ≤1;
    any remainder falls into the last split). Because the assignment is a
    pure function of the key, adding or removing OTHER rows never reassigns
    a document — unlike ``randomSplit``, whose sampling depends on partition
    layout. At 100 TB this is a free narrow projection: no shuffle, no
    state, pushdown-friendly.
    """
    weights = weights or _DEFAULT_WEIGHTS
    bucket = split_bucket(F.col(id_col))
    names = list(weights)
    bounds: list[int] = []
    acc = 0.0
    for name in names:
        acc += weights[name]
        bounds.append(int(round(acc * 1000)))
    # CASE chain evaluated in weight order: bucket < bound_i → split i
    chain = F.lit(names[-1])
    for name, hi in zip(reversed(names), reversed(bounds)):
        chain = F.when(bucket < F.lit(hi), F.lit(name)).otherwise(chain)
    return df.withColumn("split", chain)


def stratified_kfold(
    df: DataFrame,
    strata_col: str,
    k: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every row a fold in [0, k) with EXACT per-stratum balance —
    within each stratum the fold sizes differ by at most one, so every
    cross-validation fold sees the same language/domain mix as the corpus.

    `hash_split` trades exactness for key-stability; this is the inverse
    trade: fold = (row_number within stratum − 1) mod k, rows ordered by
    the Knuth-mixed key so the assignment is deterministic and uncorrelated
    with key order, but adding rows CAN shift assignments (re-stratify per
    snapshot). One shuffle, partitioned by stratum; a hot stratum serializes
    its window partition, so at extreme scale split hot strata first
    (e.g. sub-stratify 'en' by source) — the fold math composes.
    """
    w = Window.partitionBy(strata_col).orderBy(
        ((F.col(id_col) * _MIX) % F.lit(1_000_000_007)).asc(), F.col(id_col).asc()
    )
    return df.withColumn(
        "fold", ((F.row_number().over(w) - F.lit(1)) % F.lit(k)).cast("int")
    )


_ES_MOD = 1_000_000_007


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis–Spirakis A-ES scheme with the uniform drawn from the hashed
    key instead of a RNG. Each row gets key = ln(u)/w with
    u = ((id·Knuth) mod p + 0.5)/p ∈ (0,1); the k largest keys are the
    sample — inclusion probability ∝ weight, no replacement, and the same
    corpus always yields the same sample (reproducible data mixes).

    The rank key is floor-quantized to a long with an id tie-break, so the
    selection is engine-exact. One narrow projection + a global top-k
    (per-partition heaps, TakeOrderedAndProject) — no shuffle of the
    corpus, no RNG state, restart-safe by construction.
    """
    h = (F.col(id_col) * F.lit(_MIX)) % F.lit(_ES_MOD)
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(_ES_MOD))
    key_q = F.floor(F.log(u) / F.col(weight_col).cast("double") * F.lit(1e9)).cast("long")
    scored = df.where(F.col(weight_col) > 0).select(
        F.col(id_col),
        # keep the weight's own type: casting fractional weights to long
        # would display 0.5 as 0 even though selection used the true value
        F.col(weight_col).alias("weight"),
        key_q.alias("_key_q"),
    )
    top = scored.orderBy(F.desc("_key_q"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("_key_q"), F.asc(id_col))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(id_col, "weight", "rank")
    )


def pack_sequences(
    df: DataFrame,
    capacity: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: place documents head-to-tail in
    ``id_col`` order and chunk the token stream into ``capacity``-token
    context windows (the GPT-style pretraining packer — documents may
    straddle a window boundary).

    Output per document: ``bin_id`` (window index where the document's first
    token lands), ``chunk_offset`` (position inside that window) and
    ``n_tokens``. One running-sum window over the ordered stream computes
    everything.

    ``shard_col`` packs each shard as an independent stream — the scale
    form: a global ORDER BY window serializes onto one task, while per-shard
    packing shuffles once by shard and packs all shards in parallel (this is
    also what multi-worker training loaders expect: one packed stream per
    shard/worker).
    """
    n = F.size(tokenize(F.col(text_col)))
    if shard_col is None:
        w = Window.orderBy(id_col)
        keys = [F.col(id_col).alias("doc_id")]
    else:
        w = Window.partitionBy(shard_col).orderBy(id_col)
        keys = [F.col(id_col).alias("doc_id"), F.col(shard_col)]
    before = (F.sum(n).over(w) - n).cast("long")
    return df.select(
        *keys,
        n.cast("long").alias("n_tokens"),
        F.floor(before / F.lit(capacity)).alias("bin_id"),
        F.pmod(before, F.lit(capacity)).alias("chunk_offset"),
    )


def balanced_sample(
    df: DataFrame,
    k: int,
    label_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic class-balanced sample: ``k`` rows per label, chosen by
    hashed-key order (uniform within the label, stable across runs and
    engines). The usual rebalancing step before fine-tuning on skewed
    label distributions.

    One hash-partitioned window per label; at scale this shuffles each
    label's rows once and keeps only rank ≤ k per partition — no driver
    collect, no sampling state.
    """
    rnk = F.row_number().over(
        Window.partitionBy(label_col).orderBy(
            split_bucket(F.col(id_col), 1 << 31), F.col(id_col)
        )
    )
    return (
        df.withColumn("rnk", rnk.cast("long"))
        .where(F.col("rnk") <= k)
        .select(F.col(label_col), F.col(id_col).alias("doc_id"), F.col("rnk"))
    )


def collect_decontaminate_grams(
    test: DataFrame, text_col: str = "text", n: int = 3
) -> frozenset:
    """The benchmark-side distinct gram set of :func:`decontaminate`,
    collected to the driver (bounded: the test side is a benchmark by
    definition). Exposed so a caller composing a multi-stage pipeline can
    run this action CONCURRENTLY with an earlier stage's jobs (guide-§2.6
    overlap) and pass the result via ``decontaminate(test_grams=...)`` —
    byte-identical filtering either way."""
    from hiss_cube_spark.operators.dedup import shingle_array

    test_grams = test.select(
        F.explode(shingle_array(F.col(text_col), n)).alias("gram")
    ).distinct()
    return frozenset(r[0] for r in test_grams.collect())


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    test_grams: frozenset | None = None,
) -> DataFrame:
    """Benchmark decontamination: drop every training document that shares
    at least one word ``n``-gram with any test/benchmark document.

    The standard pre-training hygiene step (remove eval-set leakage). The
    test side is a benchmark — tiny by definition vs the 100 TB train side —
    so its distinct gram set fits in a broadcast variable, and membership of
    "any train gram ∈ test grams" is decidable row-locally. The plan is one
    narrow filter over ``train``: an Arrow-batched pandas UDF shingles each
    document in place and probes the broadcast hash set. Nothing on the
    train side is exploded, shuffled, or scanned twice (the previous
    relational form exploded train to (doc, gram) rows, distinct-shuffled
    them, then anti-joined back — ~5× slower at sf0.1 and a gram-table
    shuffle of ~n_tokens× the corpus size at 100 TB).

    Shingling matches `dedup.shingle_array` exactly: tokens split on single
    space, grams joined by single space, empty grams dropped. Documents
    shorter than ``n`` tokens emit one short gram (their whole token list);
    a short doc is only dropped if an identical short doc — not a longer
    superset — appears in the test set.

    ``test_grams`` accepts a pre-collected gram set from
    :func:`collect_decontaminate_grams`, letting a multi-stage caller run
    that driver action concurrently with earlier stages; the filter is
    byte-identical either way.
    """
    spark = train.sparkSession
    if test_grams is None:
        test_grams = collect_decontaminate_grams(test, text_col, n)
    bad = spark.sparkContext.broadcast(test_grams)

    @pandas_udf("boolean")
    def _is_clean(texts: pd.Series) -> pd.Series:
        grams = bad.value

        def clean(t: str) -> bool:
            toks = t.split(" ")
            for i in range(max(len(toks) - n, 0) + 1):
                g = " ".join(toks[i : i + n])
                if g and g in grams:
                    return False
            return True

        return texts.map(clean)

    return train.filter(_is_clean(F.col(text_col)))


def embedding_decontaminate(
    train: DataFrame,
    test: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_matches: bool = False,
    use_kernel: bool = True,
    max_benchmark_rows: int = 500_000,
    max_benchmark_bytes: int = 1 << 30,
) -> DataFrame:
    """Embedding-space benchmark decontamination: drop (or flag) every
    training vector whose cosine similarity to ANY test/benchmark vector
    reaches ``threshold`` — the semantic companion of the n-gram
    `decontaminate`. Paraphrased eval leakage shares no word n-gram with
    the benchmark but lands next to it in embedding space; filtering on
    embedding neighborhood is the standard second hygiene pass (the
    SemDeDup/D4 observation applied to train/test separation).

    Scale shape: the test side is a benchmark — bounded by definition —
    so it broadcasts with per-row norms precomputed; the probe is a
    broadcast nested-loop whose per-pair rows collapse in the map-side
    partial aggregate, so the ONLY exchange carries one skinny row per
    contaminated train vector (never the vectors, never |train|×|test|).
    Cosine uses the quantized exact dot (`similarity._dot_exact`) so
    decisions are reduction-order- and engine-independent.

    ``keep_matches=False`` (default) returns the clean train rows with
    their original columns (anti-join on the flagged id set);
    ``keep_matches=True`` returns the contamination report
    (id, n_matches, max_cosine) — one row per flagged train vector.

    ``use_kernel=True`` (default) runs the probe as a chunked numpy
    matmul inside ``mapInPandas`` against the benchmark matrix broadcast
    to every task (the `cosine_pairs_blocked` kernel precedent —
    bit-identical quantized semantics, measured ~4× over the interpreted
    Catalyst lambdas at sf0.1): the report is then produced entirely
    MAP-SIDE — zero shuffles, zero joins, one linear pass over train.
    ``use_kernel=False`` keeps the pure-expression broadcast-join path.

    The kernel collect is guarded by ``max_benchmark_rows`` /
    ``max_benchmark_bytes`` (streamed via ``toLocalIterator`` so the guard
    fires from bounded driver memory): a call that aims ``test`` at a
    large corpus raises :class:`BenchmarkBudgetExceeded` instead of
    OOMing the driver. Each call ``unpersist``s the PREVIOUS call's
    benchmark broadcast, so repeated
    calls don't accumulate executor copies; a DataFrame returned by an
    earlier call stays valid — its tasks re-fetch the broadcast from the
    driver on next use (unpersist removes executor blocks, not the
    value; destroy would strand live results).
    """
    from hiss_cube_spark.operators.similarity import _dot_exact

    if use_kernel:
        import numpy as _np

        id_sql = train.schema[id_col].dataType.simpleString()
        if id_sql not in (
            "tinyint", "smallint", "int", "bigint", "string",
        ):
            raise TypeError(
                f"embedding_decontaminate kernel path supports integral or "
                f"string {id_col!r} (got {id_sql}); pass use_kernel=False "
                f"for other id types"
            )
        id_is_int = id_sql != "string"
        report_schema = f"{id_col} {id_sql}, n_matches long, max_cosine double"

        # bounded-benchmark collect (the `decontaminate` gram-set / PQ
        # codebook exception): ids + matrix + quantized norms broadcast
        # once. Streamed row-at-a-time so the budget guard fires BEFORE
        # the driver holds an unbounded result (BenchmarkBudgetExceeded).
        rows, nbytes = [], 0
        for r in test.select(F.col(vec_col).alias("v")).toLocalIterator():
            if r["v"] is None:
                # a NULL benchmark vector can contaminate nothing (the
                # expression path's NULL cosines filter out) — skip it
                # instead of crashing np.stack on a 0-d element
                continue
            rows.append(r)
            nbytes += 8 * len(r["v"])
            if len(rows) > max_benchmark_rows or nbytes > max_benchmark_bytes:
                raise BenchmarkBudgetExceeded(
                    f"benchmark side exceeds the kernel collect budget "
                    f"(rows>{max_benchmark_rows} or est bytes>"
                    f"{max_benchmark_bytes}): a benchmark is bounded by "
                    f"definition — if this is a corpus-vs-corpus "
                    f"comparison use semantic_dedup/cosine_pairs instead, "
                    f"or raise max_benchmark_rows/max_benchmark_bytes"
                )
        if not rows:  # empty benchmark: nothing can be contaminated
            if keep_matches:
                return train.sparkSession.createDataFrame([], report_schema)
            return train
        bm = _np.stack([_np.asarray(r["v"], dtype=_np.float64) for r in rows])
        bnrm = _np.sqrt(
            _np.floor(bm * bm * 1e12).astype(_np.int64).sum(axis=1) / 1e12
        )
        with _EMB_DECON_BC_LOCK:
            old_bc = _EMB_DECON_BC.pop("bc", None)
            if old_bc is not None:
                try:
                    old_bc.unpersist(False)
                except Exception:
                    pass  # session torn down between calls
            bc = train.sparkSession.sparkContext.broadcast((bm, bnrm))
            _EMB_DECON_BC["bc"] = bc

        def _probe(batches):
            mb, nb = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out_id, out_n, out_max = [], [], []
                for lo in range(0, len(pdf), 256):  # bound the 3-D temp
                    chunk = pdf.iloc[lo : lo + 256]
                    mt = _np.stack(
                        [_np.asarray(v, dtype=_np.float64) for v in chunk["_tv"]]
                    )
                    dots = (
                        _np.floor(mt[:, None, :] * mb[None, :, :] * 1e12)
                        .astype(_np.int64)
                        .sum(axis=2)
                        / 1e12
                    )
                    tnrm = _np.sqrt(
                        _np.floor(mt * mt * 1e12).astype(_np.int64).sum(axis=1)
                        / 1e12
                    )
                    cos = dots / (tnrm[:, None] * nb[None, :])
                    hit = cos >= threshold
                    n = hit.sum(axis=1)
                    keep = n > 0
                    if keep.any():
                        out_id.extend(chunk["_tid"].to_numpy()[keep].tolist())
                        out_n.extend(n[keep].astype("int64").tolist())
                        out_max.extend(
                            _np.where(hit, cos, -_np.inf).max(axis=1)[keep].tolist()
                        )
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(
                            out_id, dtype="int64" if id_is_int else "object"
                        ),
                        "n_matches": pd.Series(out_n, dtype="int64"),
                        "max_cosine": pd.Series(out_max, dtype="float64"),
                    }
                )

        # the id rides through the kernel in its ORIGINAL type (a long
        # cast here silently nulled string doc ids, ADVICE r12)
        flagged_report = train.select(
            F.col(id_col).alias("_tid"), F.col(vec_col).alias("_tv")
        ).mapInPandas(_probe, schema=report_schema)
        if keep_matches:
            return flagged_report
        return train.join(
            flagged_report.select(id_col), id_col, "left_anti"
        )

    def _with_norm(df: DataFrame, vid: str, v: str, nrm: str) -> DataFrame:
        col = F.col(vec_col)
        return df.select(
            F.col(id_col).alias(vid),
            col.alias(v),
            F.sqrt(_dot_exact(col, col)).alias(nrm),
        )

    t = _with_norm(train, "_tid", "_tv", "_tn")
    b = F.broadcast(_with_norm(test, "_bid", "_bv", "_bn"))
    cos = _dot_exact(F.col("_tv"), F.col("_bv")) / (F.col("_tn") * F.col("_bn"))
    flagged = (
        t.crossJoin(b)
        .select("_tid", cos.alias("_cos"))
        .where(F.col("_cos") >= F.lit(threshold))
        .groupBy("_tid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.max("_cos").alias("max_cosine"),
        )
    )
    if keep_matches:
        return flagged.select(
            F.col("_tid").alias(id_col), "n_matches", "max_cosine"
        )
    return train.join(
        flagged.select(F.col("_tid").alias(id_col)), id_col, "left_anti"
    )


def temperature_sample(
    df: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    budget_frac: float = 0.5,
) -> DataFrame:
    """Temperature-based source/language rebalancing: sample each label at a
    rate ∝ count^``alpha`` / count, normalized so the expected total is
    ``budget_frac`` of the corpus (rates clip at 1.0). α < 1 upsamples the
    tail relative to its natural share — the standard multilingual /
    multi-source mixing step (e.g. the mC4 α=0.3 recipe) ahead of
    pretraining.

    Membership is a pure function of the row key: the per-label rate is
    quantized to parts-per-million and compared against the row's
    Knuth-hashed bucket, so the sample is reproducible across runs, engines
    (ANSI oracle), and repartitionings, and composes with `hash_split`
    (independent hash streams: different multiplier moduli). The label-rate
    table is a handful of rows — a broadcast join onto a narrow projection;
    the 100 TB side is one scan, no shuffle.
    """
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").cast("double").alias("n"),
        F.sum(F.pow("cnt", F.lit(alpha))).alias("z"),
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            label_col,
            F.least(
                F.lit(1.0),
                F.lit(budget_frac)
                * F.col("n")
                * F.pow("cnt", F.lit(alpha))
                / F.col("z")
                / F.col("cnt"),
            ).alias("rate"),
        )
        .withColumn("rate_ppm", F.floor(F.col("rate") * F.lit(1e6)).cast("long"))
    )
    return (
        df.join(F.broadcast(rates), label_col)
        .where(split_bucket(F.col(id_col), 1_000_000) < F.col("rate_ppm"))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(label_col),
            F.round(F.col("rate_ppm") / F.lit(1e6), 6).alias("rate"),
        )
    )


def corpus_report(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group dataset card: document count, token totals, language mix,
    duplicate-text rate, and token-length quartiles — the summary table a
    training-data pipeline publishes alongside every corpus snapshot.

    One pass: all metrics are aggregates over row-local column math (token
    counts via `tokenize`, dup rate via distinct text hashes), so the plan
    is a single map-side-combining groupBy — no self-joins, no windows.
    """
    toks = tokenize(F.col(text_col))
    n_tok = F.size(toks).cast("long")
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(id_col),
            n_tok.alias("_nt"),
            F.xxhash64(F.col(text_col)).alias("_th"),
            F.col("lang").alias("_lang") if "lang" in df.columns else F.lit("?").alias("_lang"),
        )
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.countDistinct("_lang").alias("n_langs"),
            F.round(
                (F.count(F.lit(1)) - F.countDistinct("_th")) / (F.lit(1.0) * F.count(F.lit(1))), 6
            ).alias("dup_rate"),
            F.round(F.percentile("_nt", F.lit(0.5)), 6).alias("p50_tokens"),
            F.round(F.percentile("_nt", F.lit(0.9)), 6).alias("p90_tokens"),
        )
    )

def _build_aho_corasick(phrases: list[str]):
    """Goto/fail/output tables for greedy non-overlapping multi-pattern
    counting. Returns (goto: list[dict[ch, state]], fail: list[int],
    out: list[list[pattern_id]]) — plain containers, broadcast-friendly.
    """
    goto: list[dict] = [{}]
    out: list[list[int]] = [[]]
    for pid, p in enumerate(phrases):
        s = 0
        for ch in p:
            if ch not in goto[s]:
                goto.append({})
                out.append([])
                goto[s][ch] = len(goto) - 1
            s = goto[s][ch]
        out[s].append(pid)
    fail = [0] * len(goto)
    from collections import deque

    q = deque()
    for s in goto[0].values():
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            # f is strictly shallower than s's parent r, so goto[f][ch]
            # can never be s itself — no self-loop guard needed
            fail[s] = goto[f].get(ch, 0)
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def blocklist_filter(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
    use_automaton: bool = False,
) -> DataFrame:
    """Multi-phrase blocklist scan (brand-safety / policy filtering): per
    document, the number of distinct blocklist phrases present and the
    total occurrence count; ``blocked`` = total hits ≥ ``min_hits``.

    Occurrences are GREEDY NON-OVERLAPPING per phrase (the replace
    semantics: after a match, the next match of the same phrase starts
    past its end; different phrases count independently).

    Two interchangeable engines, identical outputs:

    * ``use_automaton=False`` (default): the replace-length identity
      ``(len(t) − len(replace(t, p))) / len(p)`` compiled to native
      column expressions — exact integer math, no regex dialect, one
      whole-stage-codegen scan, no shuffle, no UDF. Per-phrase cost is a
      full substring scan, so the scan is O(|text|·|phrases|): the right
      shape up to a few hundred phrases.
    * ``use_automaton=True``: one broadcast Aho-Corasick automaton pass
      per document inside ``mapInPandas`` (the `decontaminate` gram-set
      precedent) — O(|text| + hits) independent of dictionary size, the
      10⁴-10⁶-pattern path. Greedy non-overlap is enforced with a
      per-pattern last-match-end cursor, so it is bit-equal to the
      expression engine (property-tested).
    """
    if not phrases:
        raise ValueError("blocklist_filter needs at least one phrase")
    if any(not p for p in phrases):
        raise ValueError("empty blocklist phrase (would divide by zero)")
    if use_automaton:
        goto, fail, out = _build_aho_corasick(phrases)
        plens = [len(p) for p in phrases]
        sc = df.sparkSession.sparkContext
        with _BLOCKLIST_BC_LOCK:
            old_bc = _BLOCKLIST_BC.pop("bc", None)
            if old_bc is not None:
                try:
                    old_bc.unpersist(False)
                except Exception:
                    pass  # session torn down between calls
            bc = sc.broadcast((goto, fail, out, plens))
            _BLOCKLIST_BC["bc"] = bc

        def _scan(batches):
            goto_t, fail_t, out_t, lens_t = bc.value
            for pdf in batches:
                ids, n_ph, tot = [], [], []
                for rid, text in zip(pdf["_id"], pdf["_t"]):
                    # per-row state is dict-of-matched-patterns, NOT
                    # O(|dictionary|) arrays: per-doc cost stays
                    # O(|text| + hits) at 10⁵-10⁶ patterns
                    counts: dict = {}
                    last_end: dict = {}
                    s = 0
                    for i, ch in enumerate(text or ""):
                        while s and ch not in goto_t[s]:
                            s = fail_t[s]
                        s = goto_t[s].get(ch, 0)
                        for pid in out_t[s]:
                            start = i + 1 - lens_t[pid]
                            if start >= last_end.get(pid, 0):
                                counts[pid] = counts.get(pid, 0) + 1
                                last_end[pid] = i + 1
                    ids.append(rid)
                    n_ph.append(len(counts))
                    tot.append(sum(counts.values()))
                yield pd.DataFrame(
                    {
                        "_id": pd.Series(ids),
                        "n_phrases": pd.Series(n_ph, dtype="int32"),
                        "total_hits": pd.Series(tot, dtype="int64"),
                    }
                )

        id_sql = df.schema[id_col].dataType.simpleString()
        res = df.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
        ).mapInPandas(
            _scan, schema=f"_id {id_sql}, n_phrases int, total_hits long"
        )
        return res.select(
            F.col("_id").alias(id_col),
            "n_phrases",
            "total_hits",
            (F.col("total_hits") >= F.lit(min_hits)).alias("blocked"),
        )
    # NULL text counts as zero hits (kernel parity), not NULL outputs
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = [
        (
            (F.length(t) - F.length(F.replace(t, F.lit(p), F.lit(""))))
            / F.lit(len(p))
        ).cast("long")
        for p in phrases
    ]
    total = counts[0]
    distinct = F.when(counts[0] > 0, 1).otherwise(0)
    for c in counts[1:]:
        total = total + c
        distinct = distinct + F.when(c > 0, 1).otherwise(0)
    return df.select(
        F.col(id_col),
        distinct.cast("int").alias("n_phrases"),
        total.alias("total_hits"),
        (total >= F.lit(min_hits)).alias("blocked"),
    )


def woe_iv_binning(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    n_bins: int = 10,
    order_col: str | None = None,
) -> DataFrame:
    """Weight-of-evidence / information-value report over equal-frequency
    bins of a numeric feature — the standard screen for "does this signal
    separate good from bad documents" before training a quality
    classifier (IV < 0.02 ⇒ drop the feature).

    Bins are ``ntile(n_bins)`` over (feature, tiebreak) — fully
    deterministic with ``order_col`` as the unique tiebreak. Per bin:
    positive/negative counts, WOE = ln((pos share)/(neg share)) with
    0.5-count smoothing (finite for empty cells), and the bin's IV term
    (p_pos − p_neg)·WOE; both round(,6)-canonicalized (the Benford/chi²
    precedent). One fact scan + one global sort (the ntile — at 100 TB
    replace with approx-quantile bin EDGES to avoid the single-ordering
    shuffle; exact ntile is the oracle-checkable form) + one 10-row
    aggregate; totals join back as a broadcast of ``n_bins`` rows.
    """
    tiebreak = [F.col(order_col)] if order_col else []
    w = Window.orderBy(F.col(feature_col), *tiebreak)
    binned = df.select(
        F.col(label_col).cast("int").alias("_y"),
        F.ntile(n_bins).over(w).alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("_y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("_y")).cast("long").alias("n_neg"),
    )
    tot = per_bin.agg(
        F.sum("n_pos").alias("_P"), F.sum("n_neg").alias("_N")
    )
    j = per_bin.crossJoin(F.broadcast(tot))
    p_pos = (F.col("n_pos") + F.lit(0.5)) / F.col("_P")
    p_neg = (F.col("n_neg") + F.lit(0.5)) / F.col("_N")
    woe = F.log(p_pos / p_neg)
    return j.select(
        "bin",
        "n_pos",
        "n_neg",
        F.round(woe, 6).alias("woe"),
        F.round((p_pos - p_neg) * woe, 6).alias("iv_term"),
    )


def build_dedup_index(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content fingerprints of a corpus — the persistent side of
    incremental dedup. Write this once per corpus snapshot (bucketed by
    ``fp`` so later anti-joins co-locate without a shuffle on the index
    side); it is hash-only, ~32 bytes/doc regardless of document size.
    """
    return df.select(F.md5(F.col(text_col)).alias("fp")).distinct()


def incremental_dedup(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Exact dedup of an incoming batch against an existing corpus index.

    The steady-state shape of dedup at 100 TB: the corpus is never
    re-scanned — only its fingerprint index (`build_dedup_index`) is kept —
    and each new batch is (a) reduced to one row per fingerprint
    (first-occurrence by ``id_col``, one window shuffle over the *batch*,
    which is small relative to the corpus) and (b) anti-joined against the
    index on the 128-bit hash. With the index bucketed by ``fp`` the
    anti-join shuffles only the batch side. Returns the surviving rows with
    their fingerprint attached (callers append these to the corpus AND
    union their fingerprints into the index).

    Analog of the reference's duplicate-insert rejection at ingest
    (hisscube/processors/metadata_strategy_dataset.py checks existing
    dataset paths before writing), expressed as a set-membership join.
    """
    batch = new_df.withColumn("fp", F.md5(F.col(text_col)))
    w = Window.partitionBy("fp").orderBy(id_col)
    firsts = (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    idx = index_df.select(F.col(fp_col).alias("fp")).distinct()
    return firsts.join(idx, "fp", "left_anti")


def incremental_neardup(
    new_df: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
) -> DataFrame:
    """NEAR-dup dedup of an incoming batch against a persistent minhash
    signature index — the fuzzy analog of `incremental_dedup`, and the
    batch semantics of `streaming.stream_neardup_minhash`.

    The index is two tables (written once per accepted batch, never
    re-derived from text):

    * ``index_sigs``  — (doc_id, sig array<long>): 128 permuted mins,
      ~1 KB/doc regardless of document size.
    * ``index_bands`` — (band_id, band_hash, doc_id): 32 rows/doc, the LSH
      bucket keys. Bucketed by band_hash, the candidate join co-locates on
      the index side and shuffles only the (small) batch.

    Per batch: (a) band-bucket equality join against ``index_bands``
    proposes cross-batch candidates — sub-quadratic by LSH construction;
    (b) candidates are verified by SIGNATURE-estimated Jaccard
    (`sig_agreement`; sigma = sqrt(j(1-j)/128) <= 0.05), the standard
    streaming trade: exact verification would require keeping every
    document's gram set, an index as large as the corpus itself; (c) batch
    docs matching no indexed doc are near-deduped within the batch (banded
    self-join + estimate + min-id connected components via
    `resolve_duplicates`). Pick ``threshold`` away from the corpus's
    similarity modes: at 128 hashes the estimate deviates >0.35 from the
    true Jaccard with probability < 1e-13 (Hoeffding), so a mid-gap
    threshold makes estimate and exact decisions identical.

    Returns surviving batch rows with ``sig`` and ``bands`` attached —
    callers land the rows and fold (doc_id, sig) / exploded band rows into
    the index.
    """
    from hiss_cube_spark.operators.clusters import resolve_duplicates
    from hiss_cube_spark.operators.dedup import minhash_features, sig_agreement

    feats = minhash_features(
        new_df.select(F.col(id_col), F.col(text_col)),
        text_col=text_col,
        id_col=id_col,
        n=n,
        n_hashes=n_hashes,
        bands=bands,
        seed=seed,
    )
    # A lineage cut, not a persist: the 128-constant signature expression
    # would otherwise sit in EVERY downstream plan (4 branches x the CC
    # rounds' pins x broadcast collects), and re-analyzing it per action
    # costs seconds of driver time — measured 18 s -> ~3 s for one batch
    # at sf0.1.
    feats = pin(feats, eager=True)

    bb = feats.select(
        "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
    )
    idx_bands = index_bands.select(
        "band_id", "band_hash", F.col("doc_id").alias("_old_id")
    )
    # LSH's contract: |candidates| << |batch| x |corpus| — broadcast them so
    # the signature fetches are map-side probes, not shuffles of the index.
    cand = F.broadcast(
        bb.join(idx_bands, ["band_id", "band_hash"])
        .select("doc_id", "_old_id")
        .distinct()
    )
    est = sig_agreement(F.col("sig"), F.col("_old_sig"))
    dropped = (
        cand.join(feats.select("doc_id", "sig"), "doc_id")
        .join(
            index_sigs.select(
                F.col("doc_id").alias("_old_id"), F.col("sig").alias("_old_sig")
            ),
            "_old_id",
        )
        .where(est >= F.lit(threshold))
        .select("doc_id")
        .distinct()
    )
    keep0 = feats.join(F.broadcast(dropped), "doc_id", "left_anti")

    bb0 = keep0.select(
        "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
    )
    a, b = bb0.alias("a"), bb0.alias("b")
    pair_cand = F.broadcast(
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = keep0.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa"))
    sb = keep0.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sb"))
    pairs = (
        pair_cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(sig_agreement(F.col("_sa"), F.col("_sb")) >= F.lit(threshold))
        .select("doc_a", "doc_b")
    )
    kept = resolve_duplicates(keep0, pairs)
    out = new_df.join(
        kept.select(F.col("doc_id").alias(id_col), "sig", "bands"), id_col
    )
    return out


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split each document's token stream into fixed-size chunks with
    overlap (stride = size − overlap) — the standard pre-embedding /
    context-window preprocessing step.

    Entirely row-local (split → sequence → explode → slice): no shuffle at
    all, output cardinality ≈ n_tokens / stride per document, and the plan
    is a narrow projection that scales embarrassingly. The last chunk may be
    short; a document shorter than ``size`` yields exactly one chunk.
    """
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    step = size - overlap
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("toks")
    )
    starts = toks.select(
        id_col,
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("toks") - F.lit(1), F.lit(0)),
                F.lit(step),
            )
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + F.lit(1), size)
    return starts.select(
        id_col,
        F.expr(f"CAST(start AS BIGINT) DIV {step}").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


def domain_cap(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    max_per_domain: int = 100,
) -> DataFrame:
    """Cap documents per web domain: extract the host from ``url_col`` and
    keep the first ``max_per_domain`` rows per domain in deterministic
    ``id_col`` order (re-runs keep the same rows).

    The Common-Crawl-style anti-spam step — a handful of template-heavy
    domains otherwise dominate the corpus. The exact semantics is one
    window per domain; for web-scale skew (a single domain with 10⁹ pages)
    pre-filter with a per-domain hash-sample at ~2× the cap before ranking
    so no partition ever sorts more than O(cap) rows per domain.
    """
    domain = F.regexp_extract(F.col(url_col), "^[a-z]+://([^/]+)", 1)
    w = Window.partitionBy("domain").orderBy(id_col)
    return (
        df.withColumn("domain", domain)
        .withColumn("domain_rank", F.row_number().over(w))
        .where(F.col("domain_rank") <= max_per_domain)
    )


def mixture_weights(
    df: DataFrame,
    targets: dict[str, float],
    source_col: str = "source",
) -> DataFrame:
    """Per-source sampling weights to reshape the corpus toward a target
    domain mixture — the knob every training-data pipeline turns after
    curation (e.g. "30% web, 40% code, 30% books" over whatever the crawl
    actually contains).

    For source s with n_s of N documents and target share t_s, the sampling
    weight is t_s / (n_s / N): sample (or repeat) each document of s with
    that relative weight and the expected post-sampling mixture is exactly
    the target. Output: (source, n_docs, actual_share, target_share,
    weight, expected_docs). Sources absent from ``targets`` get weight 0
    (dropped); target shares should sum to 1 (not enforced — partial
    mixtures are valid when the remainder is intentionally dropped).

    One count groupBy + a broadcast of the (tiny) target map; the weight
    table is itself broadcastable to wherever the sampling join runs.
    """
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(s, float(t)) for s, t in targets.items()], f"{source_col} string, target_share double"
    )
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("_N"))
    return (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(tgt), source_col, "left")
        .select(
            source_col,
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("_N"), 6).alias("actual_share"),
            F.coalesce("target_share", F.lit(0.0)).alias("target_share"),
            F.round(
                F.coalesce("target_share", F.lit(0.0))
                * F.col("_N").cast("double")
                / F.col("n_docs"),
                6,
            ).alias("weight"),
            F.round(
                F.coalesce("target_share", F.lit(0.0)) * F.col("_N").cast("double"), 6
            ).alias("expected_docs"),
        )
    )


from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)


def reservoir_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: int = 1,
) -> DataFrame:
    """Exact-``k`` uniform sample without replacement, deterministic: the
    ``k`` rows whose Knuth-hashed key ranks lowest (id tiebreak). Same
    guarantees as reservoir sampling — every row equally likely under the
    hash — but reproducible across runs, engines, and repartitionings, and
    embarrassingly parallel: Spark executes ORDER BY+LIMIT as
    TakeOrderedAndProject (a per-partition k-heap + driver merge of
    ≤ k·partitions candidates), never a full sort. Different ``salt``
    values draw independent samples (the multiplier stream shifts).
    """
    key = F.pmod(
        F.col(id_col).cast("long") * F.lit(_MIX) + F.lit(int(salt)),
        F.lit(1 << 31),
    )
    return (
        df.withColumn("_rk", key)
        .orderBy("_rk", id_col)
        .limit(int(k))
        .drop("_rk")
    )


def contamination_score(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Scored decontamination audit: for every training document, the
    FRACTION of its distinct word n-grams that appear anywhere in the
    test/benchmark set — the report you read before deciding a drop
    threshold (`decontaminate` is the boolean ≥1-gram version).

    Same scale shape as `decontaminate`: the benchmark's distinct gram set
    broadcasts (tiny by definition), and one Arrow-batched UDF shingles
    each train doc in place and counts hits row-locally — no explode, no
    shuffle, nothing scanned twice. Counts are integers, so the emitted
    fraction is engine-exact.
    """
    from hiss_cube_spark.operators.dedup import shingle_array

    spark = train.sparkSession
    test_grams = test.select(
        F.explode(shingle_array(F.col(text_col), n)).alias("gram")
    ).distinct()
    bad = spark.sparkContext.broadcast(
        frozenset(r[0] for r in test_grams.collect())
    )

    @pandas_udf("array<long>")
    def _counts(texts: pd.Series) -> pd.Series:
        grams = bad.value

        def score(t: str):
            toks = t.split(" ")
            seen = set()
            for i in range(max(len(toks) - n, 0) + 1):
                g = " ".join(toks[i : i + n])
                if g:
                    seen.add(g)
            return [len(seen), sum(1 for g in seen if g in grams)]

        return texts.map(score)

    c = train.select(F.col(id_col), _counts(F.col(text_col)).alias("_c"))
    return c.select(
        id_col,
        F.col("_c")[0].alias("n_grams"),
        F.col("_c")[1].alias("n_hit"),
        F.round(F.col("_c")[1].cast("double") / F.col("_c")[0], 6).alias(
            "contamination"
        ),
    )


def oversample_minority(
    df: DataFrame,
    target: int,
    label_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic oversampling WITH replacement: every label is brought
    up to ``target`` rows by cycling duplicates of its members (majority
    labels pass through untouched) — the class-imbalance fix for
    fine-tuning sets, without RNG state.

    Each row gains a ``copy`` index (1 = original). Duplicates are chosen
    in Knuth-hashed order so which rows duplicate first is uniform in the
    key and reproducible across runs/engines. Plan: one label-count
    aggregate broadcast back, a row-local ``sequence`` explode bounded by
    ceil(target/n) copies, and one rank window per label.
    """
    cnt = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("_n"))
    j = df.join(F.broadcast(cnt), label_col)
    rep = F.ceil(F.lit(float(target)) / F.col("_n")).cast("int")
    ex = j.select(
        id_col,
        label_col,
        "_n",
        F.explode(F.sequence(F.lit(1), F.greatest(rep, F.lit(1)))).alias("copy"),
    )
    w = Window.partitionBy(label_col).orderBy(
        "copy", ((F.col(id_col) * _MIX) % F.lit(_ES_MOD)).asc(), F.col(id_col).asc()
    )
    return (
        ex.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.greatest(F.lit(target), F.col("_n")))
        .select(id_col, label_col, F.col("copy").cast("long").alias("copy"))
    )


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    """URL canonicalization — the first step of every web-crawl dedup
    (CommonCrawl/C4 lineage): the same page arrives under dozens of
    spellings, and near-dup text dedup is 1000× cheaper when exact URL
    dedup has already collapsed them.

    Normalizations (pure column expressions, zero shuffle):
    fragment dropped; scheme+host lowercased (path/query case preserved —
    paths are case-sensitive per RFC 3986); leading ``www.`` stripped;
    tracking parameters (``utm_*``) removed; remaining query parameters
    sorted byte-wise; trailing path slash stripped. Each step is a
    regexp/array primitive available verbatim in ANSI engines.
    """
    u = F.regexp_replace(F.col(url_col), "#.*$", "")  # fragment
    prefix = F.regexp_extract(u, "^([^:/?#]+://[^/?#]+)", 1)
    # expr-free Column ops: the column is referenced once through F.col,
    # so names needing backticks (dots, spaces) work, and the
    # fragment-strip/prefix logic is not duplicated in a SQL string
    rest = F.substring(u, F.length(prefix) + F.lit(1), F.length(u))
    host = F.regexp_replace(F.lower(prefix), "://www\\.", "://")
    path = F.regexp_replace(F.regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    qs = F.regexp_extract(rest, "\\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (F.length(p) > 0) & ~p.startswith("utm_"),
        )
    )
    canon = F.concat(
        host,
        path,
        F.when(F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&")))
        .otherwise(F.lit("")),
    )
    return df.withColumn(out_col, canon)


def pack_atomic(
    df: DataFrame,
    capacity: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
) -> DataFrame:
    """Document-ATOMIC next-fit-decreasing packing: unlike
    `pack_sequences` (concat-and-chunk — zero waste, documents straddle
    window boundaries), each document here lands whole in one bin; a bin
    closes when the next document does not fit. Sorting big-first (the
    NFD heuristic) keeps the waste bounded; the emitted layout is what
    instruction-tuning / eval batching needs, where crossing a document
    boundary is not allowed.

    Packing is inherently sequential per shard, so each shard runs as one
    `applyInPandas` group (shard-parallel, exactly the multi-worker
    loader layout) over (n_tokens DESC, id) order — deterministic, and
    mirrored by the oracle's recursive CTE. Oversize documents
    (n > capacity) get a bin of their own.

    Returns (doc_id, shard, n_tokens, bin_id, offset) — offset is the
    document's start position inside its bin.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    n = F.size(tokenize(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(shard_col).cast("string").alias("shard"),
        n.cast("long").alias("n_tokens"),
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("shard", StringType()),
            StructField("n_tokens", LongType()),
            StructField("bin_id", LongType()),
            StructField("offset", LongType()),
        ]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
        bin_id, fill = 0, 0
        bins, offs = [], []
        first = True
        for nt in pdf["n_tokens"]:
            if not first and fill + nt > capacity:
                bin_id += 1
                fill = 0
            bins.append(bin_id)
            offs.append(fill)
            fill += nt
            first = False
        pdf = pdf.assign(bin_id=bins, offset=offs)
        return pdf[["doc_id", "shard", "n_tokens", "bin_id", "offset"]]

    return base.groupBy("shard").applyInPandas(_pack, schema=schema)
