"""Byte-pair-encoding tokenizer: sample-trained merge table, distributed
apply — the canonical LLM-pipeline tokenization step (Sennrich et al. 2016),
in the shape a 100 TB corpus needs.

Training is inherently sequential (each merge depends on the pair counts
after the previous one), so it runs driver-side on a BOUNDED deterministic
sample — the same discipline as the PQ codebooks (`similarity.pq_topk`) and
the sampled bigram LM: the merge table is a model, not a per-row result,
and a few thousand documents pin it. Application is the distributed side:
the merge-rank table broadcasts (a merge table is ~vocab-size entries, KBs)
and an Arrow-batched pandas UDF encodes each partition with a per-batch
word cache — natural-language word frequency is Zipfian, so the cache hits
>90% and the per-row cost is a dict lookup, not a merge loop.

Everything is deterministic: the sample is hash-ordered, merge ties break
by (count desc, pair lexicographic), and the apply is a pure function of
(text, merges) — re-runs and repartitionings produce identical token
counts, the property data splits and dedup fingerprints rely on.
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hiss_cube_spark.pins import collect_if_narrow, pin, pin_narrow, release, scope

__all__ = [
    "train_bpe",
    "bpe_token_counts",
    "bpe_encode_words",
    "word_frequency_table",
    "learn_bpe_merges",
]

_END = "</w>"  # end-of-word marker, standard BPE word boundary symbol


def _word_freqs(
    df: DataFrame, text_col: str, sample_docs: int, id_col: str
) -> list[tuple[str, int]]:
    """Word frequencies of a deterministic bounded sample, driver-side.

    The collect is capped by construction (``sample_docs`` documents,
    distinct words only) — the same bounded-model exception as the PQ
    codebook sample.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: F.length(t) > 0)
    rows = (
        df.select(F.col(id_col).alias("_i"), toks.alias("_t"))
        .orderBy("_i")
        .limit(sample_docs)
        .select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    return [(r["w"], int(r["c"])) for r in rows]


def train_bpe(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_docs: int = 10_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a bounded corpus sample.

    Classic greedy training over the word-frequency table: every word is a
    symbol sequence (characters + ``</w>``); each round merges the most
    frequent adjacent symbol pair (ties: lexicographically smallest pair —
    deterministic across runs and platforms). Returns the ordered merge
    list; feed it to `bpe_token_counts` / `bpe_encode_words`.
    """
    freqs = _word_freqs(df, text_col, sample_docs, id_col)
    words: dict[tuple[str, ...], int] = {}
    for w, c in freqs:
        sym = tuple(w) + (_END,)
        words[sym] = words.get(sym, 0) + c

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: Counter = Counter()
        for sym, c in words.items():
            for i in range(len(sym) - 1):
                pair_counts[(sym[i], sym[i + 1])] += c
        if not pair_counts:
            break
        # deterministic tie-break: highest count, then lexicographically
        # smallest pair
        top = max(pair_counts.values())
        a, b = min(p for p, c in pair_counts.items() if c == top)
        if top < 2:
            break  # nothing repeats; further merges are noise
        merges.append((a, b))
        ab = a + b
        nxt: dict[tuple[str, ...], int] = {}
        for sym, c in words.items():
            out = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            t = tuple(out)
            nxt[t] = nxt.get(t, 0) + c
        words = nxt
    return merges


def word_frequency_table(
    df: DataFrame,
    text_col: str = "text",
    word_pattern: str = "^[a-z]+$",
    min_freq: int = 1,
) -> DataFrame:
    """(word, f) corpus word-frequency table — the ONE corpus scan of
    distributed BPE training.

    ``word_pattern`` restricts the symbol alphabet (the default keeps
    ascii-lowercase words: no delimiter/quote hazards, byte-identical
    collation in every engine); ``min_freq`` is the standard vocabulary
    cap — at warehouse scale the long Zipf tail of hapaxes dominates the
    word table while contributing nothing to merge counts, so real
    tokenizer training always thresholds it.
    """
    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: t.rlike(word_pattern)
    )
    w = (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    if min_freq > 1:
        w = w.where(F.col("f") >= min_freq)
    return w


class _SparkPairs:
    """Distributed BPE rounds: pair counts and folds as Spark jobs over the
    pinned word table, one job per round.

    Every fold generation is a lazy pin (`hiss_cube_spark.pins`), so the
    fold lineage and its plan-analysis cost stay flat in the round
    number. A round's collect materializes the current generation; from
    then on nothing reads the one before it, which is released at once,
    so at most two generations are live during a round."""

    def __init__(self, table: DataFrame):
        self.cur, self.prev = table, None

    def top(self, limit: int) -> list[tuple[str, str, int]]:
        pairs = (
            self.cur.select(
                F.explode(
                    # greatest(…, 0): a size-0 token array (empty-string
                    # word from a permissive caller pattern) must yield
                    # zero pairs, not a negative-length slice error
                    F.expr(
                        "zip_with("
                        "slice(toks, 1, greatest(size(toks) - 1, 0)), "
                        "slice(toks, 2, greatest(size(toks) - 1, 0)), "
                        "(x, y) -> named_struct('a', x, 'b', y))"
                    )
                ).alias("p"),
                "f",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("f").alias("n"))
        )
        # this collect is the round's ONLY action: from round 2 on it also
        # fills cur's lazy pin (one fold over the previous generation)
        rows = pairs.orderBy(F.desc("n"), "a", "b").limit(limit).collect()
        if self.prev is not None:
            release(self.prev)
        return [(r["a"], r["b"], int(r["n"])) for r in rows]

    def fold(self, merge: dict[tuple[str, str], str]) -> None:
        # the winning symbols bind as literal Columns (never interpolated
        # into SQL text — a quote/backslash in the alphabet cannot break
        # the expression)
        def _fold(acc, s):
            out = None
            for (a_sym, b_sym), ab in merge.items():
                hit = (
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a_sym))
                    & (s == F.lit(b_sym))
                )
                merged = F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab)))
                out = F.when(hit, merged) if out is None else out.when(hit, merged)
            return out.otherwise(F.concat(acc, F.array(s)))

        nxt = self.cur.select(
            F.aggregate("toks", F.expr("cast(array() as array<string>)"), _fold).alias("toks"),
            "f",
        )
        self.prev, self.cur = self.cur, pin(nxt)


def _fold_symbols(toks: list[str], merge: dict[tuple[str, str], str]) -> list[str]:
    """`_SparkPairs.fold`'s left-to-right fold of one word, in Python."""
    out: list[str] = []
    for s in toks:
        ab = merge.get((out[-1], s)) if out else None
        if ab is None:
            out.append(s)
        else:
            out[-1] = ab
    return out


class _DriverPairs:
    """Driver BPE rounds over the collected word table.

    Pair counts are kept incrementally: an index maps each pair to the
    words that contain it, a fold re-counts only the words holding a
    winner, and a lazily pruned heap (entries whose count went stale are
    dropped when popped) yields the ordered candidates, so a round costs
    what its merges touch, not the vocabulary."""

    def __init__(self, table: pa.Table):
        self.words = [t or [] for t in table.column("toks").to_pylist()]
        self.freq = [f or 0 for f in table.column("f").to_pylist()]
        self.counts: Counter = Counter()
        self.where: dict[tuple[str, str], set[int]] = defaultdict(set)
        for i in range(len(self.words)):
            self._count(i, 1)
        self.heap = [(-n, a, b) for (a, b), n in self.counts.items()]
        heapq.heapify(self.heap)

    def _count(self, i: int, sign: int) -> set[tuple[str, str]]:
        """Add (``sign`` 1) or remove (-1) word ``i``'s pairs; returns them."""
        w = self.words[i]
        pairs = list(zip(w, w[1:]))
        for p in pairs:
            self.counts[p] += sign * self.freq[i]
            if sign > 0:
                self.where[p].add(i)
        return set(pairs)

    def top(self, limit: int) -> list[tuple[str, str, int]]:
        out: list[tuple[str, str, int]] = []
        while self.heap and len(out) < limit:
            n, a, b = heapq.heappop(self.heap)
            if -n == self.counts.get((a, b)) and (not out or out[-1][:2] != (a, b)):
                out.append((a, b, -n))
        for a, b, n in out:
            heapq.heappush(self.heap, (-n, a, b))
        return out

    def fold(self, merge: dict[tuple[str, str], str]) -> None:
        changed: set[tuple[str, str]] = set()
        for i in set().union(*(self.where.pop(p, ()) for p in merge)):
            w = _fold_symbols(self.words[i], merge)
            if w != self.words[i]:
                changed |= self._count(i, -1)
                self.words[i] = w
                changed |= self._count(i, 1)
        for p in changed:
            if self.counts[p] > 0:
                heapq.heappush(self.heap, (-self.counts[p], *p))
            else:
                del self.counts[p]


def learn_bpe_merges(
    words: DataFrame,
    n_merges: int = 4,
    word_col: str = "word",
    freq_col: str = "f",
    merge_batch: int = 1,
    max_rounds: int = 512,
) -> DataFrame:
    """FULL-CORPUS BPE merge learning: exact pair counts every round, no
    sampling — the scale-grade counterpart of `train_bpe` (which trains on
    a bounded document sample).

    Each round counts the adjacent symbol pairs of every word, weighted by
    word frequency; the round's winner (max count, ties →
    lexicographically smallest pair, the `train_bpe` law) merges through a
    canonical left-to-right fold: within a run of overlapping matches
    every other one merges, the exact semantics of Sennrich et al.'s
    reference loop (pinned against `train_bpe`'s python loop in tests).
    The corpus is scanned ONCE (`word_frequency_table`); the rounds
    iterate over the vocab-bounded word table, which is an eager narrow
    pin (`pins.pin_narrow`), right-sized by its measured bytes.

    COST MODEL: the regime follows the pinned word table's measured size
    (`pins.collect_if_narrow`).

    * driver — a table that stores at most one narrow partition (32 MB)
      is collected once through Arrow and released; every round runs
      in-process (`_DriverPairs`), with pair counts updated only for the
      words a merge touches. Training costs two Spark jobs (the pin and
      the collect) whatever the merge count.
    * distributed — above that, each round is ONE Spark job over the
      pinned table (`_SparkPairs`: a ``zip_with`` pair explode, a
      map-side-combining groupBy bounded by the pair vocabulary, and the
      bounded top-candidates collect, which also materializes the
      previous fold), so K merges cost ``ceil(K / merge_batch)``
      sequential jobs — inherent to BPE's global argmax, never
      corpus-sized, but at thousands of merges the job-submission floor
      dominates. A pin keeps no lineage, so a generation block lost with
      an executor is not recomputed — the round reading it fails and the
      training has to be rerun (or run on a sample with `train_bpe`).

    Both regimes share the round loop and its two guards:

    * ``merge_batch > 1`` applies up to that many TOKEN-DISJOINT top
      pairs per counting round (greedy in the (count desc, pair asc)
      winner order). Disjoint pairs cannot create, destroy, or overlap
      one another's occurrences, so the batch applies in one fold pass
      and each reported count is exact for its table. The SELECTION is
      the standard scalable-BPE approximation: sequential BPE recounts
      after every merge and a pair involving a just-merged symbol can
      overtake the batch's lower ranks, so with ``merge_batch > 1`` the
      merge LIST may diverge from ``merge_batch=1`` (exact when it
      doesn't, e.g. disjoint sub-alphabets; tests pin both). Batch=1 is
      bit-exact sequential BPE.
    * ``max_rounds`` bounds the sequential round count loudly: asking for
      more rounds than the cap raises instead of silently launching a
      many-thousand-job driver loop (raise the cap explicitly, or raise
      ``merge_batch``, or train on a sample via `train_bpe`).

    No pin outlives the call. Word frequencies are positive counts.

    Returns (round, left_sym, right_sym, pair_count) — ``n_merges`` rows
    (fewer ONLY when the vocabulary's pairs exhaust first; running out of
    ``max_rounds`` with merges still owed raises instead of silently
    returning a short merge table); ``round`` is the counting-round index
    (rows within a batch share it). The table is a local relation.
    Word-interior merges only (no ``</w>`` end marker): the variant with
    the marker changes symbols, not shapes.
    """
    if merge_batch < 1:
        raise ValueError(f"merge_batch must be >= 1 (got {merge_batch})")
    rounds_needed = -(-n_merges // merge_batch)  # ceil
    if rounds_needed > max_rounds:
        raise ValueError(
            f"n_merges={n_merges} at merge_batch={merge_batch} needs "
            f"{rounds_needed} sequential driver rounds (> max_rounds="
            f"{max_rounds}); raise merge_batch, raise max_rounds "
            f"explicitly, or train on a bounded sample with train_bpe"
        )
    base = words.select(
        F.split(F.col(word_col), "").alias("toks"),
        F.col(freq_col).cast("long").alias("f"),
    )
    merges: list[tuple[int, str, str, int]] = []
    pairs_exhausted = False
    with scope():
        table = pin_narrow(base)
        local = collect_if_narrow(table)
        rounds = _SparkPairs(table) if local is None else _DriverPairs(local)
        # max_rounds is the HARD bound on actual rounds: token-sharing
        # winners can under-fill a batch, pushing the remainder to later
        # rounds (rounds_needed is the optimistic lower bound the upfront
        # guard checks)
        for k in range(1, max_rounds + 1):
            want = min(merge_batch, n_merges - len(merges))
            # Candidate over-fetch (4x) gives the greedy disjoint filter
            # room; still vocabulary-bounded driver state.
            top = rounds.top(want if want == 1 else 4 * want)
            # greedy token-disjoint batch selection in winner order; a
            # pair's LEFT symbol must also differ from every symbol another
            # batch member CREATES (a+b string collision would let a later
            # fold step match a mid-fold merged symbol — impossible in
            # sequential mode, so excluded from batches too)
            batch: list[tuple[str, str, int]] = []
            used: set[str] = set()
            created: set[str] = set()
            for a, b, n in top:
                if a in used or b in used or a in created:
                    continue
                if any(m_a == a + b for m_a, _, _ in batch):
                    continue
                batch.append((a, b, n))
                used.update((a, b))
                created.add(a + b)
                if len(batch) >= want:
                    break
            if not batch:
                pairs_exhausted = True
                break
            merges.extend((k, a, b, n) for a, b, n in batch)
            if len(merges) >= n_merges:
                break  # the last winners need no apply pass
            # Token-disjointness makes the per-pair hits mutually
            # exclusive at any fold step, so one pass applies every pair
            # with sequential-per-pair semantics.
            rounds.fold({(a, b): a + b for a, b, _ in batch})
    if len(merges) < n_merges and not pairs_exhausted:
        # token-sharing winners under-filled the batches round after round;
        # a silently short merge table would train an undersized vocabulary
        raise ValueError(
            f"learned only {len(merges)}/{n_merges} merges within "
            f"max_rounds={max_rounds} (token-sharing winners under-fill "
            f"batches); raise max_rounds or lower merge_batch"
        )
    # a local relation: createDataFrame of a Python list would be an RDD
    # scan starting a Python worker on every action
    cols = list(zip(*merges)) or [[], [], [], []]
    return words.sparkSession.createDataFrame(
        pa.table(dict(zip(("round", "left_sym", "right_sym", "pair_count"), cols))),
        "round long, left_sym string, right_sym string, pair_count long",
    )


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Number of BPE symbols for one word under the merge-rank table."""
    sym = list(word) + [_END]
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return len(sym)


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_words, n_bpe_tokens) under a trained merge table.

    The merge ranks broadcast; each Arrow batch keeps a word→length cache
    (Zipfian repetition makes this the dominant path), so the per-row cost
    is one dict probe per word. This is the token-budget pass every
    curation/packing stage needs; at 100 TB it is a linear map over the
    scan with no shuffle.
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        {pair: i for i, pair in enumerate(merges)}
    )

    @pandas_udf("long")
    def _n_bpe(texts: pd.Series) -> pd.Series:
        ranks = bc.value
        cache: dict[str, int] = {}
        out = []
        for t in texts:
            total = 0
            for w in (t or "").split(" "):
                if not w:
                    continue
                n = cache.get(w)
                if n is None:
                    n = _encode_word(w, ranks)
                    cache[w] = n
                total += n
            out.append(total)
        return pd.Series(out, dtype="int64")

    toks = F.filter(F.split(F.col(text_col), " "), lambda t: F.length(t) > 0)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_words"),
        _n_bpe(F.col(text_col)).alias("n_bpe_tokens"),
    )


def bpe_encode_words(
    words: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "w",
) -> DataFrame:
    """(w, pieces array<string>) — full BPE segmentation per distinct word.

    The vocabulary-analysis companion to `bpe_token_counts` (which only
    needs lengths): run it on the DISTINCT word table, never the corpus —
    segmentations per occurrence would shuffle text-sized data for a
    Zipf-redundant answer.
    """
    spark = words.sparkSession
    bc = spark.sparkContext.broadcast(
        {pair: i for i, pair in enumerate(merges)}
    )

    @pandas_udf("array<string>")
    def _pieces(ws: pd.Series) -> pd.Series:
        ranks = bc.value
        out = []
        for w in ws:
            sym = list(w or "") + [_END]
            while len(sym) > 1:
                best_rank = None
                best_i = -1
                for i in range(len(sym) - 1):
                    r = ranks.get((sym[i], sym[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_rank is None:
                    break
                sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
            out.append(sym)
        return pd.Series(out)

    return words.select(
        F.col(word_col).alias("w"), _pieces(F.col(word_col)).alias("pieces")
    )


from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)
