"""Data-quality constraint checks: declarative expectations evaluated as
DataFrame plans, returning a violations report — the dbt-test / Deequ shape
a production warehouse runs after every load.

Each check is a pure DataFrame→count expression; `constraint_report` unions
them into one (check_name, n_violations) table so a whole suite is a single
Spark job. Scale shape: uniqueness and FK checks are one map-side-combining
groupBy / one left-anti join each; nothing materializes the violating rows
unless you ask for them (each checker also returns a `violations(df)`
DataFrame for debugging).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hiss_cube_spark.pins import pin

__all__ = [
    "numeric_histogram",
    "logbucket_sketch",
    "logbucket_estimate",
    "logbucket_grouped_quantiles",
    "logbucket_quantile_report",
    "cm_sketch",
    "cm_heavy_hitters_report",
    "kmv_hash",
    "kmv_samples",
    "kmv_distinct_count",
    "kmv_distinct_intersect",
    "spacesaving_summaries",
    "spacesaving_merge",
    "spacesaving_report",
    "equidepth_profile",
    "ks_drift",
    "psi_drift",
    "mad_outliers",
    "ks_drift_grouped",
    "schema_drift",
    "Check",
    "check_not_null",
    "check_unique",
    "check_foreign_key",
    "check_range",
    "constraint_report",
    "profile_table",
]


@dataclass
class Check:
    name: str
    violations: Callable[[], DataFrame]
    # predicate fast path: when set, constraint_report folds every check
    # sharing the same source into ONE conditional-count aggregate (one
    # scan per table instead of one per check); violations() stays the
    # row-level inspection API either way
    source: DataFrame | None = None
    predicate: "F.Column | None" = None


def check_not_null(name: str, df: DataFrame, col: str) -> Check:
    """Rows where ``col`` is NULL."""
    return Check(
        name, lambda: df.where(F.col(col).isNull()), df, F.col(col).isNull()
    )


def check_unique(name: str, df: DataFrame, cols: list[str]) -> Check:
    """Rows whose key appears more than once (all copies count)."""

    def _v() -> DataFrame:
        from pyspark.sql.window import Window

        # key-count window, ONE scan (the groupBy + semi-join-back
        # formulation scanned the table twice)
        w = Window.partitionBy(*cols)
        # collision-proof internal name: a user column literally named
        # "_n" must survive the count-filter round-trip
        return (
            df.withColumn("__qc_n", F.count(F.lit(1)).over(w))
            .where(F.col("__qc_n") > 1)
            .select(*df.columns)
        )

    return Check(name, _v)


def check_foreign_key(
    name: str, child: DataFrame, col: str, parent: DataFrame, parent_col: str
) -> Check:
    """Child rows whose non-null key has no match in the parent."""

    def _v() -> DataFrame:
        p = parent.select(F.col(parent_col).alias(col)).distinct()
        return child.where(F.col(col).isNotNull()).join(p, col, "left_anti")

    return Check(name, _v)


def check_range(name: str, df: DataFrame, col: str, lo: float, hi: float) -> Check:
    """Rows where ``col`` falls outside [lo, hi] (NULLs don't violate)."""
    pred = (F.col(col) < lo) | (F.col(col) > hi)
    return Check(name, lambda: df.where(pred), df, pred)


def constraint_report(spark: SparkSession, checks: list[Check]) -> DataFrame:
    """One (check_name, n_violations) row per check, as a single plan.

    Predicate checks (not-null, range) sharing a source DataFrame fold
    into one conditional-count aggregate — one scan per TABLE, however
    many expectations it carries (the per-check formulation scanned the
    source once per expectation). Structural checks (unique, foreign
    key) keep their own branch; unique is itself single-scan now."""
    parts = []
    folded: dict[int, list[Check]] = {}
    fold_order: list[int] = []
    for c in checks:
        if c.predicate is not None and c.source is not None:
            key = id(c.source)
            if key not in folded:
                folded[key] = []
                fold_order.append(key)
            folded[key].append(c)
        else:
            parts.append(
                c.violations().agg(
                    F.lit(c.name).alias("check_name"),
                    F.count(F.lit(1)).alias("n_violations"),
                )
            )
    for key in fold_order:
        grp = folded[key]
        wide = grp[0].source.agg(
            *[
                F.count(F.when(c.predicate, F.lit(1)))
                .cast("long")
                .alias(f"_c{i}")
                for i, c in enumerate(grp)
            ]
        )
        melted = wide.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c.name).alias("check_name"),
                            F.col(f"_c{i}").alias("n_violations"),
                        )
                        for i, c in enumerate(grp)
                    ]
                )
            ).alias("kv")
        ).select("kv.check_name", "kv.n_violations")
        parts.append(melted)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Numeric-column profile: (column, n, n_null, n_distinct, min_v, max_v,
    mean_v) — the warehouse data-profiling report, computed in ONE scan.

    All per-column aggregates evaluate inside a single aggregation row
    (map-side combined), then unpivot to one row per column — profiling N
    columns costs one pass regardless of N, not N scans. Mean is
    decimal-quantized for reduction-order independence.
    """
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(F.when(col.isNull(), 1)).alias(f"{c}__null"),
            F.countDistinct(col).alias(f"{c}__dist"),
            F.min(col).cast("double").alias(f"{c}__min"),
            F.max(col).cast("double").alias(f"{c}__max"),
            F.sum(col.cast("decimal(30,8)")).alias(f"{c}__sum"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__dist, {c}__min, {c}__max, "
        f"round(CAST({c}__sum AS DOUBLE) / ({c}__n - {c}__null), 6)"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n, n_null, n_distinct, min_v, max_v, mean_v)"
    )


def numeric_histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
) -> DataFrame:
    """Equi-width histogram of ``col`` over [lo, hi): per-bucket count, sum
    and bounds. Values below ``lo`` clamp into bucket 0, values ≥ ``hi``
    into the last bucket (so every row lands exactly once — the profiling
    contract).

    One scan + one map-side-combining aggregation on a small integer key;
    at 100 TB the combine reduces each partition to ≤ ``n_buckets`` partial
    rows before the (tiny) shuffle. The bucket index uses the same
    floor((x-lo)/w) arithmetic an ANSI oracle can express — no
    ``width_bucket`` dependency.

    NULL ``col`` rows are dropped, not binned: floor(NULL-lo) is NULL and
    Spark's least/greatest SKIP null operands, so without the filter a
    NULL would silently land in the LAST bucket (least(n-1, NULL) = n-1)
    — a fabricated mode in the top bin. Rows that carry no value carry no
    histogram mass; callers who need a null count take it from
    profile_table.
    """
    w = (float(hi) - float(lo)) / int(n_buckets)
    b = F.greatest(
        F.lit(0),
        F.least(
            F.lit(int(n_buckets) - 1),
            F.floor((F.col(col) - F.lit(float(lo))) / F.lit(w)).cast("int"),
        ),
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(b.alias("bucket"), F.col(col).alias("x"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("x").cast("decimal(30,8)")).cast("double"), 6).alias("sum_x"),
        )
        .select(
            "bucket",
            F.round(F.lit(float(lo)) + F.col("bucket") * F.lit(w), 6).alias("bucket_lo"),
            F.round(F.lit(float(lo)) + (F.col("bucket") + 1) * F.lit(w), 6).alias("bucket_hi"),
            "n",
            "sum_x",
        )
    )


def logbucket_sketch(
    df: DataFrame, col: str, weight_col: str | None = None
) -> DataFrame:
    """Mergeable quantile sketch over a positive-BIGINT column: DDSketch's
    log-bucket idea with EXACT integer bucketing — base-2 octaves split
    into 16 linear sub-buckets, so the bucket index is pure int64
    arithmetic (``length(bin(c))`` for floor(log2), shifts and DIV for
    the sub-bucket) with none of the ln-at-a-boundary ulp hazard a
    gamma-log sketch carries cross-engine.

    bucket = 16·e + (16c DIV 2^e) − 16 where e = floor(log2 c); each
    bucket spans [lo, lo + 2^e/16) so any quantile read off the sketch
    has relative error ≤ 1/16 = 6.25%, guaranteed, at ~16·64 possible
    buckets total. MERGE = unionByName + groupBy-sum of counts — the
    property that makes it a sketch: per-partition/per-day/per-source
    sketches combine associatively and order-independently (exact
    integer counts), unlike exact quantiles which need the full data.

    Input domain: 0 < c < 2^55 (the bucket-lo arithmetic 31·2^e must
    stay in int64). One scan, one map-side-combining aggregation on a
    ≤ ~1k-value integer key — scan-bound at any corpus size.

    ``weight_col`` switches to a WEIGHTED sketch (n = Σ weight instead
    of row count): quantiles then answer "the value at the p-th
    percentile of WEIGHT" — e.g. token-weighted quality percentiles,
    where a long document counts by its tokens, not once. Weights must
    be non-negative BIGINTs; exactness and mergeability are unchanged
    (integer sums).
    """
    e = F.length(F.bin(F.col(col))) - F.lit(1)
    bucket = (
        F.lit(16) * e
        + F.expr(f"(16 * {col}) DIV shiftleft(1L, "
                 f"cast(length(bin({col})) - 1 AS INT))")
        - F.lit(16)
    )
    src = df.where(F.col(col) > 0)
    if weight_col is None:
        return (
            src.select(bucket.cast("long").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    return (
        src.select(bucket.cast("long").alias("bucket"),
                   F.col(weight_col).alias("_w"))
        .groupBy("bucket")
        .agg(F.sum("_w").cast("long").alias("n"))
    )


def logbucket_estimate(
    buckets: DataFrame,
    probs: tuple[int, ...] = (25, 50, 75, 90, 99),
) -> DataFrame:
    """Quantile estimates from a (bucket, n) log-bucket sketch table —
    the read side of :func:`logbucket_sketch`, usable on a merged, a
    streamed-cumulative, or a freshly built sketch identically (that
    interchangeability IS the sketch property). Returns
    (pct, est) with est the lower bound of the first bucket whose
    cumulative count reaches rank ceil(pct·n/100); guaranteed relative
    error ≤ 1/16. Runs on a ≤ ~1k-row table: trivially cheap anywhere.
    """
    from pyspark.sql import Window

    lo = F.expr(
        "((16 + bucket % 16) * shiftleft(1L, cast(bucket DIV 16 AS INT))) "
        "DIV 16"
    )
    bt = buckets.select(
        "bucket", "n", lo.alias("lo"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
        F.sum("n").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    pv = F.explode(F.array(*[F.lit(int(p)) for p in probs])).alias("pct")
    rank = F.expr("(tot * pct + 99) DIV 100")
    return (
        bt.select("lo", "cum", "tot", pv)
        .where(F.col("cum") >= rank)
        .groupBy("pct")
        .agg(F.min("lo").alias("est"))
        .select(F.col("pct").cast("long").alias("pct"),
                F.col("est").cast("long").alias("est"))
    )


def logbucket_grouped_quantiles(
    df: DataFrame,
    key_col: str,
    col: str,
    probs: tuple[int, ...] = (50, 99),
) -> DataFrame:
    """Per-key quantile estimates from per-key log-bucket sketches — the
    "p99 by endpoint" monitoring shape, for MANY keys in one pass: one
    map-side-combining (key, bucket) aggregate over the facts (state ≤
    |keys|·~1k cells), then per-key cumulative windows over that bounded
    table. Same 1/16 relative-error guarantee per key; same mergeability
    (a day's (key, bucket) table adds into history by count sum).

    Output: (key, pct, est). Skew-safe: the windows partition BY KEY, so
    a hot key costs one partition of its ≤ ~1k buckets, not a global
    sort.
    """
    from pyspark.sql import Window

    e = F.length(F.bin(F.col(col))) - F.lit(1)
    bucket = (
        F.lit(16) * e
        + F.expr(f"(16 * {col}) DIV shiftleft(1L, "
                 f"cast(length(bin({col})) - 1 AS INT))")
        - F.lit(16)
    )
    cells = (
        df.where(F.col(col) > 0)
        .select(F.col(key_col).alias("key"),
                bucket.cast("long").alias("bucket"))
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lo = F.expr(
        "((16 + bucket % 16) * shiftleft(1L, cast(bucket DIV 16 AS INT))) "
        "DIV 16"
    )
    bt = cells.select(
        "key", "bucket", "n", lo.alias("lo"),
        F.sum("n").over(Window.partitionBy("key")).alias("tot"),
        F.sum("n").over(
            Window.partitionBy("key").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    pv = F.explode(F.array(*[F.lit(int(p)) for p in probs])).alias("pct")
    rank = F.expr("(tot * pct + 99) DIV 100")
    return (
        bt.select("key", "lo", "cum", "tot", pv)
        .where(F.col("cum") >= rank)
        .groupBy("key", "pct")
        .agg(F.min("lo").alias("est"))
        .select(
            F.col("key").alias(key_col),
            F.col("pct").cast("long").alias("pct"),
            F.col("est").cast("long").alias("est"),
        )
    )


def logbucket_quantile_report(
    df: DataFrame,
    col: str,
    probs: tuple[int, ...] = (25, 50, 75, 90, 99),
) -> DataFrame:
    """Quantile estimates from :func:`logbucket_sketch` with an exact-rank
    companion per percentile — the HLL-exactness-boolean pattern: the
    sketch answer ships next to the exact answer and a provable-bound
    boolean, so a correctness gate can assert the guarantee rather than
    trust it.

    For rank r_p = ceil(p·n/100): est = lo of the first sketch bucket
    whose cumulative count reaches r_p (so lo ≤ exact < lo + 2^e/16 —
    the true value lives in that bucket), exact = the first VALUE whose
    cumulative count reaches r_p. ``within_bound`` re-states the bucket
    guarantee in exact integers: est ≤ exact AND 16·(exact − est) < 2^e.

    Scale: ONE fact scan collapses to a value-grouped cell table
    (bounded by the value DOMAIN — distinct cents, not rows), pinned
    once; the sketch derives from the cells, so sketch + exact legs
    never re-read the source. The exact leg's cumulative window orders
    the cell table globally — bounded by the domain; at 100 TB you keep
    only the sketch leg (drop the companion) and nothing global remains.
    """
    # bounded by the value domain
    cells = pin(
        df.select(F.col(col).alias("c"))
        .where(F.col("c") > 0)
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    # total row count as ONE broadcast scalar shared by both legs (the
    # text_trigram_lm r13 precedent): the former Window.partitionBy()
    # total funneled the whole value-domain cell table through a second
    # single-partition window pass per leg — the global ORDER (cum) is
    # the only thing that genuinely needs the single-partition sort
    tot = F.broadcast(cells.agg(F.sum("cnt").alias("n")))
    cum_c = F.sum("cnt").over(
        Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    )
    cells2 = cells.select("c", cum_c.alias("cum")).crossJoin(tot)

    e = F.length(F.bin(F.col("c"))) - F.lit(1)
    bucket = (
        F.lit(16) * e
        + F.expr("(16 * c) DIV shiftleft(1L, cast(length(bin(c)) - 1 AS INT))")
        - F.lit(16)
    )
    bt = (
        cells.select(bucket.cast("long").alias("bucket"), "cnt")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("bn"))
    )
    be = F.expr("bucket DIV 16").cast("int")
    lo = F.expr(
        "((16 + bucket % 16) * shiftleft(1L, cast(bucket DIV 16 AS INT))) "
        "DIV 16"
    )
    # same total (sum of bucket counts == sum of cell counts) — reuse the
    # broadcast scalar instead of a second global window over the buckets
    bt = bt.select(
        "bucket", "bn", be.alias("e"), lo.alias("lo"),
        F.sum("bn").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    ).crossJoin(tot)

    pv = F.explode(F.array(*[F.lit(int(p)) for p in probs])).alias("pct")
    rank = F.expr("(n * pct + 99) DIV 100")
    est = (
        bt.select("lo", "e", "cum", "n").select("lo", "e", "cum", "n", pv)
        .where(F.col("cum") >= rank)
        .groupBy("pct")
        .agg(F.min(F.struct("lo", "e")).alias("_m"))
        .select("pct", F.col("_m.lo").alias("est"), F.col("_m.e").alias("_e"))
    )
    exact = (
        cells2.select("c", "cum", "n").select("c", "cum", "n", pv)
        .where(F.col("cum") >= rank)
        .groupBy("pct")
        .agg(F.min("c").alias("exact"))
    )
    return est.join(exact, "pct").select(
        F.col("pct").cast("long").alias("pct"),
        F.col("est").cast("long").alias("est"),
        F.col("exact").cast("long").alias("exact"),
        (
            (F.col("est") <= F.col("exact"))
            & (
                F.lit(16) * (F.col("exact") - F.col("est"))
                < F.expr("shiftleft(1L, cast(_e AS INT))")
            )
        ).alias("within_bound"),
    )


# pairwise-independent-style hash constants for the CM rows (odd
# multipliers + offsets mod the Mersenne prime 2^31-1); literal so both
# engines evaluate the identical integer arithmetic
_CM_HASH = ((1103515245, 12345), (69069, 362437), (1664525, 1013904223),
            (22695477, 1))
_CM_P = 2_147_483_647


def _cm_bucket(key, row: int, w: int):
    # reduce the key mod p FIRST: a·k overflows int64 beyond k ≈ 8.4e9
    # (caught by the hypothesis fuzz); a·(k mod p) ≤ 1.1e9·2.1e9 < 2^63
    # for the whole BIGINT key domain, and mod-p reduction is the
    # canonical preimage for the (a·k + b) mod p family
    a, b = _CM_HASH[row]
    return F.pmod(
        F.pmod(F.lit(a) * F.pmod(key, F.lit(_CM_P)) + F.lit(b),
               F.lit(_CM_P)),
        F.lit(w),
    )


def cm_sketch(df: DataFrame, col: str, d: int = 4, w: int = 512) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over an integer key
    column — the mergeable FREQUENCY sketch completing the family next to
    HLL (distinct) and the log-bucket sketch (quantiles): d hash rows ×
    w counters; estimate(k) = min over rows of cell[row][h_row(k)],
    which NEVER underestimates (every occurrence of k lands in its cell)
    and overestimates by at most the colliding mass.

    MERGE = cell-wise sum (a linear sketch — per-partition/per-day
    sketches combine exactly and order-independently). Deterministic:
    the row hashes are literal (a·k + b) mod p mod w integer arithmetic,
    identical in any engine — no engine-hash dependency.

    One scan → d rows per input row → map-side-combining groupBy on a
    ≤ d·w integer key space. Output: (row, bucket, n).
    """
    key = F.col(col)
    rows = F.array(*[
        F.struct(F.lit(r).alias("row"),
                 _cm_bucket(key, r, w).alias("bucket"))
        for r in range(int(d))
    ])
    return (
        df.select(F.explode(rows).alias("rb"))
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cm_heavy_hitters_report(
    df: DataFrame, col: str, top_k: int = 15, d: int = 4, w: int = 512
) -> DataFrame:
    """Heavy-hitter report with the exactness companions (the
    HLL/logbucket pattern): for the exact top ``top_k`` keys, ship the
    exact count, the count-min estimate, ``overestimates`` (cm ≥ exact —
    a THEOREM for count-min, asserted per row) and ``within_eps``
    (cm − exact ≤ ceil(2N/w), the standard ε = 2/w error bound —
    probabilistic in general, a fixed measured outcome on deterministic
    data).

    The sketch and the exact counts both derive from ONE key-grouped
    cell table (bounded by the key domain), pinned once; the exact
    top-k is a WindowGroupLimit-style orderBy/limit over it.

    Zero driver barriers (r13): the cell pin is a LAZY checkpoint (its
    shuffle runs once; only the bounded final-agg tail is re-read per
    consuming branch), the d probe legs are ONE explode + ONE join
    instead of d joins unioned, and N reaches ``within_eps`` as a
    broadcast 1-row aggregate instead of a driver ``head()`` — the
    whole report is a single action with no collect in the path.
    """
    # LAZY pin invariant (ADVICE r13): one consumer below (`top`) is an
    # orderBy+limit — normally the lazy+limit hazard (a limit can
    # short-circuit materialization and leave partitions uncomputed
    # behind truncated lineage, forcing a catch-up job). It is safe HERE
    # because the sibling `cm` and `tot` branches of the SAME single
    # action aggregate every `cells` partition, so the pin is fully
    # materialized by that action regardless of the limit. A refactor
    # that drops the full-scan siblings (or splits the action) must
    # flip this pin back to eager=True per the documented lazy-pin rule.
    cells = pin(  # bounded by the key domain
        df.select(F.col(col).alias("k")).groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    )

    def _legs(src: DataFrame, *extra: str) -> DataFrame:
        return src.select(
            *extra,
            F.explode(F.array(*[
                F.struct(F.lit(r).alias("row"),
                         _cm_bucket(F.col("k"), r, w).alias("bucket"))
                for r in range(int(d))
            ])).alias("rb"),
        ).select(*extra, F.col("rb.row").alias("row"),
                 F.col("rb.bucket").alias("bucket"))

    cm = (
        _legs(cells, "cnt")
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("n"))
    )
    top = cells.orderBy(F.desc("cnt"), "k").limit(int(top_k))
    est = _legs(top, "k", "cnt").join(cm, ["row", "bucket"]).select(
        "k", "cnt", "n"
    )
    # N as a broadcast scalar: ceil(2N/w) in integer arithmetic, exactly
    # the retired driver-side -(-2*tot // w)
    tot = F.broadcast(cells.agg(F.sum("cnt").alias("_tot")))
    return (
        est.groupBy("k", "cnt")
        .agg(F.min("n").alias("cm_n"))
        .crossJoin(tot)
        .select(
            F.col("k").cast("long").alias("key"),
            F.col("cnt").cast("long").alias("exact_n"),
            F.col("cm_n").cast("long").alias("cm_n"),
            (F.col("cm_n") >= F.col("cnt")).alias("overestimates"),
            (F.col("cm_n") - F.col("cnt")
             <= F.expr(f"(2 * _tot + {int(w) - 1}) DIV {int(w)}"))
            .alias("within_eps"),
        )
    )


# hash domain of kmv_hash: 15 hex chars of md5 = [0, 16^15) = [0, 2^60)
_KMV_U = 1 << 60


def kmv_hash(col: str) -> "F.Column":
    """Portable uniform 60-bit string hash: the first 15 hex characters
    of md5, parsed as an integer. MD5 is MD5 in every engine, so —
    unlike xxhash64/murmur, whose seeds and variants differ — this
    value is bit-identical in Spark (``conv(..., 16, 10)``) and DuckDB
    (``('0x' || substr(md5(x),1,15))::BIGINT``), which is what lets a
    whole SKETCH built on it replay exactly cross-engine."""
    return F.expr(
        f"cast(conv(substring(md5({col}), 1, 15), 16, 10) as bigint)"
    )


def kmv_samples(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 256,
    pre_hashed: bool = False,
    assume_distinct: bool = False,
) -> DataFrame:
    """Per-group KMV / bottom-k (theta) DISTINCT sketch: the ``k``
    smallest :func:`kmv_hash` values of the group's distinct keys, plus
    the group's sampling threshold theta — the mergeable distinct-count
    summary (Beyer et al. 2007; the Theta Sketch framework,
    Dasgupta et al. 2016).

    theta = U (the full hash domain) while the group holds FEWER THAN k
    distinct keys (the sketch is EXACT — nothing was discarded; at
    exactly k the sample is full and cannot distinguish k from more, so
    k itself is already estimation mode), else the k-th smallest hash:
    every retained hash h satisfies h < theta (for estimation-mode
    reads we use strict-below-theta counting), and a distinct key's
    hash falls below theta with probability theta/U — the sampling view
    that makes set algebra on sketches work.

    MERGE LAW (suite-tested): the union sketch of two groups is the k
    smallest of the concatenated samples with theta = min of thetas
    (capped at the new k-th smallest) — identical to the sketch built
    from scratch on the unioned data, a THEOREM for bottom-k sketches.

    Scale shape: one scan → distinct (group, hash) with map-side
    combine → per-group top-k by hash, which Spark executes as a
    WindowGroupLimit (rank-limit pushdown: partial top-k BEFORE the
    shuffle, so per-partition state is k rows per group, never the
    distinct domain). Output: (g, h, theta, nd) — nd the group's
    distinct count ONLY when exact-mode (< k), else null (a sketch
    must not smuggle exact global counts).

    ``pre_hashed``: the key column already IS a kmv_hash value (the
    single-scan pattern — callers pin ONE distinct (group, h) cell
    table and feed it to the sketch AND to exact companions, so the
    corpus is read once however many legs consume it).

    ``assume_distinct``: the caller guarantees (group, key) rows are
    already globally distinct (e.g. the pinned cell table IS a
    distinct); skips this function's dedup, removing a full exchange
    of the cell domain from the sketch path. Only set when the input
    is distinct by construction — a duplicated cell would be sampled
    twice and shift ranks.
    """
    from pyspark.sql import Window

    key = F.col(key_col) if pre_hashed else kmv_hash(key_col)
    cells = df.select(F.col(group_col).alias("g"), key.alias("h"))
    if not assume_distinct:
        cells = cells.distinct()
    w = Window.partitionBy("g").orderBy("h")
    ranked = cells.select(
        "g", "h",
        F.row_number().over(w).alias("rn"),
    )
    # pin the bounded sample table (≤ k rows per group) — it feeds both
    # the threshold aggregate and every downstream sketch-algebra join;
    # without the pin each consumer re-runs the distinct+window scan.
    # The window's rank-limit pushdown bounds the exchange at ≤ k rows
    # per group per map partition, so the post-shuffle tail the two
    # consumers each evaluate is trivial.
    sample = pin(ranked.where(F.col("rn") <= int(k)))
    stats = sample.groupBy("g").agg(
        F.max("h").alias("_kth"), F.count(F.lit(1)).alias("_cnt")
    )
    theta = (
        F.when(F.col("_cnt") < int(k), F.lit(_KMV_U))
        .otherwise(F.col("_kth"))
        .alias("theta")
    )
    nd = (
        F.when(F.col("_cnt") < int(k), F.col("_cnt"))
        .otherwise(F.lit(None).cast("long"))
        .alias("nd")
    )
    return sample.join(
        F.broadcast(stats.select("g", theta, nd)), "g"
    ).select("g", "h", "theta", "nd")


def kmv_distinct_count(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 256,
    pre_hashed: bool = False,
    assume_distinct: bool = False,
) -> DataFrame:
    """Per-group distinct-count estimate from the KMV sketch — the
    cardinality leg of the sketch stack (count-distinct without holding
    the distinct domain): in estimation mode the k-th smallest of a
    uniform 60-bit hash sits at ≈ k/n of the domain, so
    n̂ = (k−1)·U DIV theta (the unbiased KMV estimator, Beyer et al.
    2007); in exact mode (group held < k distinct keys, theta = U) the
    sketch IS the distinct set and n̂ = nd exactly.

    Integer arithmetic end-to-end ((k−1)·U in DECIMAL(38,0), positive
    floor division) — an oracle with md5 rebuilds the estimate
    bit-for-bit. Scale shape: everything after kmv_samples runs on
    ≤ k rows per group. Output: (g, est_distinct).
    """
    s = kmv_samples(df, group_col, key_col, k, pre_hashed=pre_hashed,
                    assume_distinct=assume_distinct)
    per = s.groupBy("g").agg(
        F.min("theta").alias("theta"), F.min("nd").alias("nd")
    )
    est = F.when(F.col("nd").isNotNull(), F.col("nd")).otherwise(
        F.expr(
            f"cast((cast({int(k) - 1} as decimal(38,0)) * {_KMV_U} "
            f" - (cast({int(k) - 1} as decimal(38,0)) * {_KMV_U}) % theta) "
            f" / theta as bigint)"
        )
    )
    return per.select("g", est.cast("long").alias("est_distinct"))


def kmv_distinct_intersect(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 256,
    pre_hashed: bool = False,
    assume_distinct: bool = False,
) -> DataFrame:
    """Distinct-intersection estimate for every group pair from KMV
    sketches — "how many distinct keys do sources A and B share"
    WITHOUT an exact pairwise distinct join: the theta-sketch
    intersection. With theta = min(theta_a, theta_b), each sketch
    restricted to h < theta is a uniform theta/U-rate sample of its
    group's distinct keys, so |A ∩ B| ≈ |S_a ∩ S_b ∩ {h < theta}|·U/theta.

    The estimate is EXACT INTEGER arithmetic end-to-end (c·U in
    DECIMAL(38,0), positive floor division), so the whole sketch —
    build, thresholds, estimate — replays bit-identically in any engine
    with md5: the oracle rebuilds it rather than trusting it.

    Scale shape: sketches are k rows per group; the pair join runs on
    SAMPLES (equi-join on h), never on the distinct domains. Output:
    (group_a, group_b, theta-capped common-sample count c, est_inter).
    Exactness companions are the caller's job (check-SF only — the
    1/sqrt(k) error is probabilistic, not a theorem; the repo pattern
    is to emit the measured error next to the estimate).
    """
    s = kmv_samples(df, group_col, key_col, k, pre_hashed=pre_hashed,
                    assume_distinct=assume_distinct)
    a = s.select(
        F.col("g").alias("group_a"), "h",
        F.col("theta").alias("_ta"),
    )
    b = s.select(
        F.col("g").alias("group_b"), "h",
        F.col("theta").alias("_tb"),
    )
    common = (
        a.join(b, "h")
        .where(F.col("group_a") < F.col("group_b"))
        .where(F.col("h") < F.least("_ta", "_tb"))
        .groupBy("group_a", "group_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.least("_ta", "_tb")).alias("theta"),
        )
    )
    # est = floor(c·U / theta): c·U ≈ 2^68 needs decimal(38,0); the
    # operands are positive so subtract-the-remainder IS floor division
    return common.select(
        "group_a", "group_b",
        F.col("c").cast("long").alias("c"),
        F.expr(
            f"cast((cast(c as decimal(38,0)) * {_KMV_U} "
            f" - (cast(c as decimal(38,0)) * {_KMV_U}) % theta) "
            f" / theta as bigint)"
        ).alias("est_inter"),
    )


def spacesaving_summaries(
    df: DataFrame, col: str, k: int = 8
) -> DataFrame:
    """Per-partition SpaceSaving summaries (Metwally et al. 2005) —
    the heavy-hitter sketch that FINDS the keys with O(k) state
    (count-min estimates counts for keys you already know; this is the
    missing discovery leg). One mapInPandas pass, k counters per input
    partition, never a shuffle of the fact rows.

    Per partition the classic algorithm runs key-grouped (each Arrow
    batch collapses to value_counts first; folding a key's whole batch
    count at once is order-equivalent to its occurrences arriving
    consecutively): hit → counter += c; room → insert c; full → evict
    the min counter m, insert with est = m + c. Invariants (theorems,
    any order/partitioning): sum(counters) = n_p, min counter ≤ n_p/k,
    est_p(x) ≥ true_p(x) for tracked x, true_p(x) ≤ min_p for evicted x.

    Output per partition: item rows (key, est, pmin, 0) carrying the
    partition's final min counter, plus ONE marker row
    (null, 0, min_p, n_p) — exactly what :func:`spacesaving_merge`
    needs to combine summaries without touching the data again.
    min_p is 0 while the partition tracks < k keys (nothing was ever
    evicted, so absent keys truly have count 0).

    NULL keys are EXCLUDED before sketching (and the report's exact
    companion filters identically, so the theorems stay theorems): the
    summary format reserves the null key for the marker row, and a
    pandas value_counts would silently drop NaN from the counters but
    not from a naive exact count — the null-rate is a data-quality
    signal for profile_table/constraint_report, not a heavy-hitter key.
    """
    kk = int(k)
    key_df = df.select(F.col(col).cast("string").alias("k")).where(
        F.col("k").isNotNull()
    )

    def _part(batches):
        import pandas as pd

        counters: dict = {}
        n = 0
        for pdf in batches:
            vc = pdf["k"].value_counts()
            n += int(vc.sum())
            for key, c in vc.items():
                c = int(c)
                if key in counters:
                    counters[key] += c
                elif len(counters) < kk:
                    counters[key] = c
                else:
                    mk = min(counters, key=lambda x: (counters[x], x))
                    m = counters.pop(mk)
                    counters[key] = m + c
        pmin = 0 if len(counters) < kk else min(counters.values())
        rows = [(key, est, pmin, 0) for key, est in counters.items()]
        rows.append((None, 0, pmin, n))
        yield pd.DataFrame(
            rows, columns=["k", "est", "pmin", "n"]
        )

    return key_df.mapInPandas(
        _part, "k string, est long, pmin long, n long"
    )


def spacesaving_merge(summaries: DataFrame, k: int = 8) -> DataFrame:
    """Merge per-partition SpaceSaving summaries into one candidate
    table with the conservative upper-bound rule: for key x,

        est(x) = Σ_{p: x tracked} est_p(x) + Σ_{p: x absent} min_p
               = Σ_present est_p(x) + TOTALMIN − Σ_present pmin,

    which stays an OVERESTIMATE (absent ⇒ true_p ≤ min_p) with total
    slack Σ_p min_p ≤ Σ_p n_p/k = N/k — the mergeable-summaries bound
    (Agarwal et al., PODS'12). Candidates = keys with est > N DIV k;
    every key with true count > N DIV k is in there (if absent from
    ALL summaries its true count is ≤ Σ min_p ≤ N DIV k — the
    contrapositive IS the discovery guarantee).

    Input is k·P + P rows; everything here is bounded by the summary
    size, not the corpus. Output: (k, est, n_total) candidates.
    """
    items = summaries.where(F.col("k").isNotNull())
    markers = summaries.where(F.col("k").isNull())
    tot = F.broadcast(
        markers.agg(
            F.sum("pmin").alias("_totalmin"), F.sum("n").alias("_n")
        )
    )
    merged = (
        items.groupBy("k")
        .agg(
            F.sum("est").alias("_se"), F.sum("pmin").alias("_sm")
        )
        .crossJoin(tot)
        .select(
            "k",
            (F.col("_se") + F.col("_totalmin") - F.col("_sm"))
            .cast("long")
            .alias("est"),
            F.col("_n").cast("long").alias("n_total"),
        )
    )
    return merged.where(
        F.col("est") > F.expr(f"n_total DIV {int(k)}")
    )


def spacesaving_report(
    df: DataFrame, col: str, k: int = 8
) -> DataFrame:
    """Heavy-hitter DISCOVERY report with exactness companions (the
    cm_heavy_hitters pattern): for every key whose EXACT count exceeds
    N DIV k, emit the exact count plus three per-row booleans that are
    THEOREMS of SpaceSaving regardless of partitioning or arrival
    order — which is what makes this oracle-pairable even though the
    sketch's internal counter values are partitioning-dependent:

    * ``ss_found``      — the key is in the merged candidate set
                          (discovery guarantee, see spacesaving_merge)
    * ``overestimates`` — merged est ≥ exact count
    * ``within_bound``  — merged est − exact ≤ N DIV k

    Two linear passes by design: the SpaceSaving pass (bounded state,
    the 100 TB shape) and the exact-count pass (the CHECK-side
    companion; at scale you would not run it — the booleans are the
    contract it certifies).
    """
    # ≤ 2k rows; one consumer (the left join)
    cand = pin(spacesaving_merge(spacesaving_summaries(df, col, k), k))
    # same null exclusion as the sketch pass — see spacesaving_summaries
    exact = (
        df.select(F.col(col).cast("string").alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    tot = F.broadcast(exact.agg(F.sum("exact_n").alias("_n")))
    heavy = (
        exact.crossJoin(tot)
        .where(F.col("exact_n") > F.expr(f"_n DIV {int(k)}"))
    )
    return (
        heavy.join(cand, "k", "left")
        .select(
            F.col("k").alias("key"),
            F.col("exact_n").cast("long").alias("exact_n"),
            F.col("est").isNotNull().alias("ss_found"),
            (F.col("est") >= F.col("exact_n")).alias("overestimates"),
            (
                F.col("est") - F.col("exact_n")
                <= F.expr(f"_n DIV {int(k)}")
            ).alias("within_bound"),
        )
    )


def psi_drift(
    df: DataFrame,
    col: str,
    baseline_pred,
    lo: float,
    hi: float,
    n_buckets: int = 20,
) -> DataFrame:
    """Population Stability Index between the baseline slice
    (``baseline_pred`` true) and the current slice, over an equi-width
    binning of ``col`` — the fourth leg of the drift family (KS compares
    CDFs, chi² tests independence, KL localizes per cell; PSI is the
    banded per-bin score production scorecards page on: <0.1 stable,
    0.1-0.25 shifting, >0.25 action).

    One scan, one map-side-combining aggregation on the bucket key (the
    baseline/current split is a conditional sum inside the same
    aggregate, not a second scan); totals come from windows over the
    ≤``n_buckets``-row bucket table. Per-bin term
    (p_cur - p_base)·ln(p_cur/p_base) is floor-quantized at 1e-9 (the
    dq_kl/dq_mi precedent); a bin empty on either side yields a NULL
    term — reported, never smoothed away. Sum psi_term_q/1e9 for the
    headline PSI.

    NULL handling (explicit, because Spark's least/greatest SKIP null
    operands): a NULL ``col`` value would otherwise bucket as
    least(n-1, NULL) = n-1 — fabricating drift in the highest bin — and
    a NULL ``baseline_pred`` would count as "current" via otherwise(1).
    Both are dropped before bucketing: a row with no value (or no slice
    membership) contributes to neither distribution. Null-rate drift is
    a separate diagnostic (profile_table / constraint_report), not a PSI
    bin.
    """
    from pyspark.sql import Window

    w = (float(hi) - float(lo)) / int(n_buckets)
    b = F.greatest(
        F.lit(0),
        F.least(
            F.lit(int(n_buckets) - 1),
            F.floor((F.col(col) - F.lit(float(lo))) / F.lit(w)).cast("int"),
        ),
    )
    cells = (
        df.filter(F.col(col).isNotNull() & baseline_pred.isNotNull())
        .select(b.alias("bucket"), baseline_pred.alias("_base"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_base"), 1).otherwise(0)).cast("long").alias("n_base"),
            F.sum(F.when(F.col("_base"), 0).otherwise(1)).cast("long").alias("n_cur"),
        )
    )
    tot = Window.partitionBy()
    cells = cells.select(
        "bucket", "n_base", "n_cur",
        F.sum("n_base").over(tot).alias("_tb"),
        F.sum("n_cur").over(tot).alias("_tc"),
    )
    pb = F.col("n_base") / (F.col("_tb") * F.lit(1.0))
    pc = F.col("n_cur") / (F.col("_tc") * F.lit(1.0))
    term = F.when(
        (F.col("n_base") > 0) & (F.col("n_cur") > 0),
        F.floor((pc - pb) * F.log(pc / pb) * F.lit(1e9)).cast("long"),
    )
    return cells.select(
        "bucket",
        F.round(F.lit(float(lo)) + F.col("bucket") * F.lit(w), 6).alias("bucket_lo"),
        "n_base",
        "n_cur",
        term.alias("psi_term_q"),
    )


def equidepth_profile(
    df: DataFrame,
    col: str,
    n_buckets: int = 10,
    accuracy: int = 10_000,
) -> DataFrame:
    """Distributed equi-depth profile: bucket boundaries from
    ``approx_percentile`` (a mergeable sketch — one map-side-combining
    aggregation, no global sort), then a second single pass assigns each
    row its bucket and aggregates count/min/max/sum.

    This is the 100 TB path for what `dq_equidepth` pins with exact
    ``ntile`` semantics: a global ntile needs a total order, which Spark
    executes as a SINGLE-partition window — fine for an oracle gate,
    unusable at scale. Here depths are approximate (sketch error ≤
    1/``accuracy`` in rank), boundaries are exact data values, and both
    passes parallelize. The boundary array is collected to the driver —
    bounded by ``n_buckets``, not by data.
    """
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    row = df.agg(
        F.percentile_approx(
            F.col(col), F.array(*[F.lit(f) for f in fracs]), F.lit(accuracy)
        ).alias("b")
    ).head()
    bounds = list(row["b"])  # bounded: n_buckets-1 scalars
    # build low-to-high so the HIGHEST threshold ends up outermost: the
    # first matching `when` wins, and it must be the tightest bound
    b = F.lit(1)
    for i in range(1, len(bounds) + 1):
        b = F.when(F.col(col) > F.lit(float(bounds[i - 1])), F.lit(i + 1)).otherwise(b)
    return (
        df.select(b.alias("bucket"), F.col(col).alias("x"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("x"), 6).alias("lo"),
            F.round(F.max("x"), 6).alias("hi"),
        )
    )


def ks_drift(
    df: "DataFrame",
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> "DataFrame":
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    ``value_col`` distributions of two groups — the distribution-drift gate
    run between corpus snapshots (did today's crawl shift the length /
    quality / score distribution?).

    D = max_x |F_a(x) − F_b(x)| computed entirely in integers:
    ``|c_a(x)·n_b − c_b(x)·n_a|`` maximized over distinct values, divided
    once at the end — bit-exact in any engine, no float CDFs. Emits one row
    (ks_stat, at_value = smallest argmax, n_a, n_b).

    Scale shape: the raw rows collapse to per-distinct-value counts in ONE
    map-side-combining groupBy; the cumulative window then runs over the
    DISTINCT-VALUE table (bounded by the value domain, not the row count),
    so the single-partition window is over thousands of rows at most. The
    final max is a one-row aggregate.
    """
    from pyspark.sql.window import Window

    g = F.col(group_col)
    s = df.where(g.isin([group_a, group_b])).select(
        F.when(g == F.lit(group_a), F.lit(0)).otherwise(F.lit(1)).alias("grp"),
        F.col(value_col).alias("v"),
    )
    per_v = s.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 0, F.lit(1)).otherwise(F.lit(0))).alias("c_a"),
        F.sum("grp").alias("c_b"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_v.select(
        "v",
        F.sum("c_a").over(w).alias("ca"),
        F.sum("c_b").over(w).alias("cb"),
    )
    n = s.agg(
        F.sum(F.when(F.col("grp") == 0, F.lit(1)).otherwise(F.lit(0))).alias("n_a"),
        F.sum("grp").alias("n_b"),
    )
    d = cum.crossJoin(F.broadcast(n)).select(
        "v",
        "n_a",
        "n_b",
        F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")).alias("diff"),
    )
    return (
        d.orderBy(F.desc("diff"), F.asc("v"))
        .limit(1)
        .select(
            F.round(F.col("diff").cast("double") / (F.col("n_a") * F.col("n_b")), 6).alias(
                "ks_stat"
            ),
            F.col("v").alias("at_value"),
            "n_a",
            "n_b",
        )
    )


def mad_outliers(
    df: "DataFrame",
    value_col: str,
    key_col: str,
    n_sigmas: float = 3.0,
    quant: int = 100,
) -> "DataFrame":
    """Robust per-key outlier counts via median absolute deviation — the
    heavy-tail-safe sibling of the z-score gate (`dq_outliers`): a single
    wild value inflates mean AND std enough to hide itself, but moves the
    median and MAD almost not at all.

    Flag |x − median| > n_sigmas · 1.4826 · MAD (1.4826 ≈ 1/Φ⁻¹(3/4) makes
    MAD a consistent σ estimate under normality). Engine-exact: values
    quantize to an integral grid first, so both medians are type-7
    interpolations of integers — exact doubles, no ulp surface; the
    threshold compare is two correctly-rounded multiplies.

    Scale shape: ONE scan, ONE shuffle — both exact percentiles run as
    window aggregates over the same ``key_col`` partitioning, so Spark
    plans a single exchange and evaluates them in place (the equivalent
    groupBy+join formulation lazily re-derives the event projection four
    times). Exact percentile buffers a key's rows — fine while single
    keys fit an executor; for heavier keys swap in approx_percentile
    (sketch) with the same downstream flagging.
    """
    from pyspark.sql.window import Window

    xq = F.round(F.col(value_col) * quant).alias("xq")
    wk = Window.partitionBy(key_col)
    flagged = (
        df.select(F.col(key_col), xq)
        .withColumn("med", F.percentile("xq", F.lit(0.5)).over(wk))
        .withColumn("adev", F.abs(F.col("xq") - F.col("med")))
        .withColumn("mad", F.percentile("adev", F.lit(0.5)).over(wk))
        .select(
            key_col,
            "med",
            "mad",
            F.when(
                F.col("adev") > F.lit(n_sigmas) * (F.lit(1.4826) * F.col("mad")), 1
            ).otherwise(0).alias("is_out"),
        )
    )
    return flagged.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max("med") / quant, 6).alias("median_v"),
        F.round(F.max("mad") / quant, 6).alias("mad_v"),
        F.sum("is_out").cast("long").alias("n_outliers"),
    )


def ks_drift_grouped(
    df: "DataFrame",
    reference: "DataFrame",
    value_col: str,
    group_col: str,
) -> "DataFrame":
    """Exact KS statistic of EVERY group against one reference distribution
    — the segment/window drift monitor (per event-type, per day, per
    source: "which slice moved?"), one row per group.

    Same integer CDF cross-product core as `ks_drift`, evaluated over the
    union of each group's points and the reference's points (the sup can
    peak at a reference step between two group values, so group points
    alone are not sound). The reference collapses to distinct-value counts
    once and is replicated per group via a crossJoin with the (small)
    group list; cumulative windows run per group over value-domain-bounded
    merged point sets. Raw rows never shuffle more than once, and the
    fact table is scanned ONCE: the per-(group, value) cell table is
    pinned (it is bounded by |groups| x |distinct values|), the
    group list and — when ``reference is df``, the common self-drift
    monitor — the reference histogram and its total all derive from the
    cells instead of lazily re-deriving the scan.
    """
    from pyspark.sql.window import Window

    curd = pin(
        df.groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v")).agg(
            F.count(F.lit(1)).alias("c_g")
        )
    )
    if reference is df:
        refd = curd.groupBy("v").agg(F.sum("c_g").alias("c_r"))
    else:
        refd = pin(
            reference.groupBy(F.col(value_col).alias("v")).agg(F.count(F.lit(1)).alias("c_r"))
        )
    n_ref = refd.agg(F.sum("c_r").alias("n_ref"))
    groups = curd.select("g").distinct()

    ref_rep = groups.crossJoin(refd).select("g", "v", F.lit(0).alias("c_g"), "c_r")
    cur_rep = curd.select("g", "v", "c_g", F.lit(0).alias("c_r"))
    merged = (
        ref_rep.unionByName(cur_rep)
        .groupBy("g", "v")
        .agg(F.sum("c_g").alias("c_g"), F.sum("c_r").alias("c_r"))
    )
    w = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wg = Window.partitionBy("g")
    cum = merged.select(
        "g",
        "v",
        F.sum("c_g").over(w).alias("cg"),
        F.sum("c_r").over(w).alias("cr"),
        F.sum("c_g").over(wg).alias("n_g"),
    ).crossJoin(F.broadcast(n_ref))
    d = cum.select(
        "g",
        "v",
        "n_g",
        "n_ref",
        F.abs(F.col("cg") * F.col("n_ref") - F.col("cr") * F.col("n_g")).alias("diff"),
    )
    rk = Window.partitionBy("g").orderBy(F.desc("diff"), F.asc("v"))
    return (
        d.withColumn("_rn", F.row_number().over(rk))
        .where(F.col("_rn") == 1)
        .select(
            F.col("g").alias(group_col),
            F.round(
                F.col("diff").cast("double") / (F.col("n_g") * F.col("n_ref")), 6
            ).alias("ks_stat"),
            F.col("v").alias("at_value"),
            F.col("n_g").cast("long").alias("n_group"),
            F.col("n_ref").cast("long").alias("n_ref"),
        )
    )


def schema_drift(old: "DataFrame", new: "DataFrame") -> "DataFrame":
    """Schema-drift report between two snapshots of a table: one row per
    column that was ADDED, REMOVED, or changed TYPE (plus nullability
    widenings as TYPE changes) — the first production drift to alarm on,
    because it breaks readers before any value drift does.

    Pure metadata comparison (no data scanned); emitted as a DataFrame so
    it composes with `constraint_report` in the same quality job.
    """
    spark = old.sparkSession
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    nw = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for name in sorted(set(o) | set(nw)):
        if name not in nw:
            rows.append((name, "REMOVED", o[name], None))
        elif name not in o:
            rows.append((name, "ADDED", None, nw[name]))
        elif o[name] != nw[name]:
            rows.append((name, "TYPE_CHANGED", o[name], nw[name]))
    return spark.createDataFrame(
        rows, "column string, change string, old_type string, new_type string"
    )


from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)
