"""Time-series regularization: resample an irregular event stream onto a
fixed time grid with gap filling (last-observation-carried-forward).

The relational analog of the reference's spectrum rebin onto a fixed
wavelength grid (hisscube/utils/photometry.py:343-350 rebins irregular
samples to a common 4620-point grid): here the grid is time buckets and the
interpolation rule is LOCF — the standard feature-engineering step before
windowed models.

Scale shape: one shuffle to bucket the events (map-side combine keeps a
single survivor per (key, bucket) partial), the grid generation is a
row-local ``sequence``/``explode`` whose output is proportional to
span × keys (never to raw event count), and the fill is one window pass per
key — at 100 TB the expensive cardinality (raw events) is reduced *before*
the grid join, and keys partition independently across executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hiss_cube_spark.pins import pin

__all__ = [
    "resample_locf",
    "ewma",
    "autocorrelation",
    "theil_sen_trend",
    "holt_linear",
    "structure_function",
    "dtw_distance",
    "dtw_qualified_series",
    "periodogram",
]


def resample_locf(
    df: DataFrame,
    key_col: str = "user_id",
    ts_us_col: str = "ts_us",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket_us: int = 3_600_000_000,
) -> DataFrame:
    """Resample per-key events onto a dense ``bucket_us`` grid with LOCF.

    Per key: buckets run from the key's first to its last observation; a
    bucket's observed value is the value of the LAST event inside it (ties on
    timestamp broken by ``id_col`` — deterministic across engines); empty
    buckets carry the previous bucket's value forward (``is_gap = 1``).

    Every bucket from min to max has a non-null value because bucket 0 is by
    construction observed (the key's first event lives in it).
    """
    # Integer division: double division + cast can round a just-below-boundary
    # timestamp up into the next bucket; DIV matches DuckDB's `//` exactly.
    bucket = F.expr(f"CAST({ts_us_col} AS BIGINT) DIV {int(bucket_us)}").alias("bucket")
    events = df.select(F.col(key_col).alias("key"), bucket, F.col(value_col).alias("v"),
                       F.col(ts_us_col).alias("ts_us"), F.col(id_col).alias("oid"))

    # One survivor per (key, bucket): last event by (ts, id). row_number over
    # a composite order matches DuckDB exactly (max_by tie rules would not).
    w_last = Window.partitionBy("key", "bucket").orderBy(
        F.desc("ts_us"), F.desc("oid")
    )
    series = (
        events.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select("key", "bucket", "v")
    )

    # Dense per-key grid: sequence is row-local; output size = span, not events.
    span = series.groupBy("key").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = span.select(
        "key", F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("bucket")
    )

    # LOCF: left join the grid onto the sparse series, then carry the last
    # non-null value forward within each key (one window pass, rows
    # unbounded-preceding..current — streaming-friendly frame).
    w_fill = Window.partitionBy("key").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = grid.join(series, ["key", "bucket"], "left")
    return joined.select(
        F.col("key").alias(key_col),
        "bucket",
        F.last("v", ignorenulls=True).over(w_fill).alias(value_col),
        F.when(F.col("v").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_gap"),
    )


def ewma(
    df: DataFrame,
    key_col: str = "user_id",
    ts_us_col: str = "ts_us",
    value_col: str = "value",
    id_col: str = "event_id",
    horizon: int = 60,
) -> DataFrame:
    """Exponentially-weighted moving average per key, α = 1/2 (exact).

    Semantics: order each key's events by (ts, id); ``y_1 = x_1`` and
    ``y_i = (x_i + y_{i-1}) / 2``. The recursion has the closed form
    ``y_i = (x_1 + Σ_{j≤i} 2^{j-1} x_j) / 2^i``, which this operator
    evaluates with *integer* arithmetic: values are quantized to cents
    (``xq = round(100·x)``) and the numerator is a cumulative DECIMAL(38,0)
    sum of ``xq_j · 2^{j-1}`` — exact and order-independent, so the result
    is bit-identical across engines (same trick as the Simpson-diversity
    rational score). Only the final division produces a double.

    ``horizon`` bounds the series at the first ``horizon`` events per key:
    with α = 1/2 a term older than 60 steps contributes < 2⁻⁶⁰ ≈ 8.7e-19
    relative — far below round-to-6 resolution — so a production deployment
    would run a rolling 60-step horizon; the bound also keeps the 2^{j-1}
    factors exactly representable (DECIMAL(38) holds Σ 6e4·2⁵⁹ ≈ 2e24).

    Scale shape: one shuffle (hash by key), two window passes over the same
    partitioning (rank + cumulative sum — Spark reuses the sort), no joins,
    no data-dependent driver work. Keys spread independently at 100 TB.
    """
    if horizon > 62:
        raise ValueError("horizon > 62 overflows the BIGINT 2^(j-1) factors")
    w_ord = Window.partitionBy("key").orderBy("ts_us", "oid")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_us_col).alias("ts_us"),
        F.col(id_col).alias("oid"),
        F.round(F.col(value_col) * 100).cast("decimal(12,0)").alias("xq"),
    )
    ranked = e.withColumn("rn", F.row_number().over(w_ord)).where(
        F.col("rn") <= horizon
    )
    # c_j = xq_j * 2^(j-1). The factor must be built as an INTEGER shift:
    # CAST(power(2, j) AS DECIMAL) silently drops low digits beyond 2^56 —
    # Spark's double→decimal cast goes through the shortest string repr
    # (2^58 → "2.8823037615171174E17", off by 4).
    c = ranked.withColumn(
        "c",
        (
            F.col("xq")
            * F.expr("CAST(shiftleft(CAST(1 AS BIGINT), rn - 1) AS DECIMAL(26,0))")
        ).cast("decimal(38,0)"),
    )
    # The numerator N = xq_1 + Σ c_j reaches ~2e24 ≫ 2^53, and a direct
    # DECIMAL→double cast is not identically rounded across engines (DuckDB
    # converts int128 limb-wise — two roundings). Split every term before
    # summing: hi_j = c_j div 2^30 and lo_j = c_j mod 2^30 both sum to
    # < 2^53 (60 terms ≤ 3.2e13 and ≤ 2^30), so the two window sums are
    # exact BIGINTs whose double conversions are exact; hi·2^30 is an exact
    # exponent shift, and the remaining add / /2^rn / /100 are single
    # IEEE-nearest steps every engine performs identically — bit-identical
    # ewma, with no round() (whose half-way ties engines also break
    # differently).
    two30 = 1 << 30
    split = c.select(
        F.col("key").alias(key_col),
        "ts_us",
        F.col("oid").alias(id_col),
        "rn",
        (F.col("xq").cast("double") / 100).alias(value_col),
        F.expr(f"c DIV {two30}").alias("hi"),
        F.expr(f"CAST(c % {two30} AS BIGINT)").alias("lo"),
        F.col("xq").cast("long").alias("xql"),
    )
    w_cum2 = Window.partitionBy(key_col).orderBy("ts_us", id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return split.select(
        key_col,
        "ts_us",
        id_col,
        "rn",
        value_col,
        (
            (
                F.sum("hi").over(w_cum2).cast("double") * float(two30)
                + (F.first("xql").over(w_cum2) + F.sum("lo").over(w_cum2)).cast(
                    "double"
                )
            )
            / F.expr("power(2, rn)")
            / 100
        ).alias("ewma"),
    )


def autocorrelation(
    df: "DataFrame",
    value_col: str,
    order_cols: list[str],
    key_col: str = "user_id",
    lag: int = 1,
    quant: int = 100,
) -> "DataFrame":
    """Per-key lag-``lag`` autocorrelation of a time series — the Pearson
    correlation between each value and the value ``lag`` steps later
    (seasonality / persistence detection on light curves and event streams).

    Engine-exact: values quantize to an integer grid (``round(v·quant)``),
    the lagged pairs come from one ``lead`` window, and all six moment sums
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as DECIMALs — exact in any
    reduction order. The closed form
    (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) then runs in doubles,
    where every op (cast, mul, sub, div, sqrt) is correctly rounded IEEE —
    no ln/pow, so no cross-engine ulp surface at all.

    Scale shape: one window shuffle keyed by ``key_col`` (the lead), one
    map-side-combining groupBy on the same key — AQE coalesces them onto
    one exchange. Constant memory per key.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    xq = F.round(F.col(value_col) * quant).cast("decimal(18,0)")
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    pairs = (
        df.select(F.col(key_col), xq.alias("_x"), *[F.col(c) for c in order_cols])
        .withColumn("_y", F.lead("_x", lag).over(w))
        .where(F.col("_y").isNotNull())
    )
    st = pairs.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("_x").cast("decimal(38,0)").alias("sx"),
        F.sum("_y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    d1 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    d2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    corr = F.when(
        (d1 > 0) & (d2 > 0), num / (F.sqrt(d1) * F.sqrt(d2))
    )
    return st.select(
        F.col(key_col),
        F.col("n").cast("long").alias("n_pairs"),
        F.round(corr, 6).alias("acf"),
    )


def _bucketed_cents(
    df: DataFrame,
    key_col: str,
    ts_us_col: str,
    value_col: str,
    bucket_us: int,
    horizon: int,
) -> DataFrame:
    """Shared head of the trend operators: quantize values to cents, sum
    them per (key, time-bucket) — the map-side combine collapses raw event
    cardinality BEFORE any window/join — and keep each key's first
    ``horizon`` buckets. Output: (key, t, rn, yq) with t the integer bucket
    index and yq an exact BIGINT (order-independent integer reduction)."""
    b = (
        df.select(
            F.col(key_col).alias("key"),
            F.expr(f"{ts_us_col} DIV {bucket_us}").alias("t"),
            F.round(F.col(value_col) * 100).cast("decimal(18,0)").alias("xq"),
        )
        .groupBy("key", "t")
        .agg(F.sum("xq").cast("long").alias("yq"))
    )
    w = Window.partitionBy("key").orderBy("t")
    return b.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= horizon
    )


def theil_sen_trend(
    df: DataFrame,
    key_col: str = "user_id",
    ts_us_col: str = "ts_us",
    value_col: str = "value",
    bucket_us: int = 3_600_000_000,
    horizon: int = 24,
) -> DataFrame:
    """Theil–Sen robust trend per key: the median of all pairwise slopes
    (y_j − y_i)/(t_j − t_i) over the key's bucketed series — the
    breakdown-point-0.29 alternative to least-squares trend (Sen 1968),
    what a data-quality monitor wants when a few corrupted batches would
    drag an OLS slope.

    Exactness: bucket sums are integer cents (BIGINT), bucket indices are
    integers, so every slope is ONE correctly-rounded IEEE division of two
    exact integers — bit-identical across engines. The median is an exact
    rank-walk ((min+max)/2 of the two middle slopes under a total order
    with (t_i, t_j) tie-breaks; /2 is exact, and for odd counts the two
    picks coincide). Only the final cents→units /100 and round(·, 6) touch
    the value again.

    Scale shape: the pair blow-up is C(horizon, 2) ≈ 276 per key — a
    CONSTANT, set by the same horizon-cap reasoning as ``ewma`` — so the
    self-join output is linear in keys; both join legs hash-partition on
    the key and the two window passes reuse that partitioning. The
    bucketed table (keys × horizon rows — tiny next to raw events) is
    pinned so the self-join's two legs read it instead of
    each re-scanning + re-reducing the raw event table (the round-5
    scan-audit pattern). No driver-side work, no data-sized collect.
    """
    # the self-join legs share _bucketed_cents' key exchange; only the
    # horizon-capped window tail re-evaluates per leg
    b = pin(_bucketed_cents(df, key_col, ts_us_col, value_col, bucket_us, horizon))
    lhs = b.select(
        "key", F.col("t").alias("ti"), F.col("yq").alias("yi"),
        F.col("rn").alias("ri"),
    )
    rhs = b.select(
        "key", F.col("t").alias("tj"), F.col("yq").alias("yj"),
        F.col("rn").alias("rj"),
    )
    pairs = lhs.join(rhs, "key").where(F.col("ri") < F.col("rj")).select(
        "key", "ti", "tj",
        (
            (F.col("yj") - F.col("yi")).cast("double")
            / (F.col("tj") - F.col("ti")).cast("double")
        ).alias("s"),
    )
    w_ord = Window.partitionBy("key").orderBy("s", "ti", "tj")
    w_all = Window.partitionBy("key")
    ranked = pairs.select(
        "key", "s",
        F.row_number().over(w_ord).alias("prn"),
        F.count(F.lit(1)).over(w_all).alias("cnt"),
    ).where(
        (F.col("prn") == F.expr("(cnt + 1) DIV 2"))
        | (F.col("prn") == F.expr("(cnt + 2) DIV 2"))
    )
    return (
        ranked.groupBy("key")
        .agg(
            F.max("cnt").alias("n_pairs"),
            ((F.min("s") + F.max("s")) / F.lit(2.0)).alias("_med"),
        )
        .select(
            F.col("key").alias(key_col),
            F.col("n_pairs"),
            F.round(F.col("_med") / 100.0, 6).alias("sen_slope"),
        )
    )


def holt_linear(
    df: DataFrame,
    key_col: str = "user_id",
    ts_us_col: str = "ts_us",
    value_col: str = "value",
    bucket_us: int = 3_600_000_000,
    horizon: int = 48,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per key
    (α = β = 1/2): level l_t = (y_t + (l_{t-1} + b_{t-1}))/2, trend
    b_t = ((l_t − l_{t-1}) + b_{t-1})/2, initialized l_1 = y_1, b_1 = 0 —
    the one-step forecast (level + trend) behind every capacity-planning
    dashboard, one notch richer than ``ewma``'s level-only recursion.

    The recursion runs INSIDE Catalyst as a higher-order ``aggregate`` over
    the key's (sorted, horizon-bounded) bucket series — whole-stage-codegen
    JVM arithmetic, no Python, no iteration driver-side. Cross-engine
    exactness: y values are cents/100 doubles and both engines evaluate the
    IDENTICAL IEEE op sequence (the oracle's recursive CTE repeats the same
    expression shapes), so level/trend agree bit-for-bit.

    Scale shape: one shuffle to bucket (map-side combine first), one
    groupBy collecting ≤ horizon elements per key — state is O(horizon)
    per key, keys spread independently; the same shape
    ``applyInPandasWithState`` would have, without leaving the JVM.
    """
    b = _bucketed_cents(df, key_col, ts_us_col, value_col, bucket_us, horizon)
    series = b.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "yq"))),
            lambda s: s["yq"].cast("double") / 100.0,
        ).alias("ys"),
    )
    # acc = (l, b); one fold step per bucket after the first. The level
    # expression is repeated inside the trend update (aggregate lambdas
    # can't name intermediates) — the oracle repeats it the same way.
    fold = F.aggregate(
        F.slice(F.col("ys"), 2, horizon),
        F.struct(
            F.element_at(F.col("ys"), 1).alias("l"),
            F.lit(0.0).alias("b"),
        ),
        lambda acc, y: F.struct(
            ((y + (acc["l"] + acc["b"])) / 2.0).alias("l"),
            (
                (((y + (acc["l"] + acc["b"])) / 2.0 - acc["l"]) + acc["b"])
                / 2.0
            ).alias("b"),
        ),
    )
    return series.select(
        F.col("key").alias(key_col),
        F.col("n_buckets"),
        F.round(fold["l"], 6).alias("level"),
        F.round(fold["b"], 6).alias("trend"),
        F.round(fold["l"] + fold["b"], 6).alias("forecast"),
    )


def structure_function(
    df: DataFrame,
    key_col: str = "user_id",
    ts_us_col: str = "ts_us",
    value_col: str = "value",
    bucket_us: int = 3_600_000_000,
    horizon: int = 24,
) -> DataFrame:
    """First-order structure function per key: for every bucket-index lag
    τ, the mean squared difference mean((y(t+τ) − y(t))²) over all bucket
    pairs at that lag — THE standard variability-vs-timescale statistic of
    light-curve analysis (AGN/quasar variability studies; the time-domain
    leg of the reference's science case) and a drift diagnostic anywhere
    else (flat SF = white noise, power-law SF = correlated drift, plateau
    = the decorrelation timescale).

    Exactness: bucket values are exact BIGINT cents, the squared
    difference is an exact integer (cents², summed as DECIMAL(38,0)), so
    everything up to the single closing division is order-independent
    integer arithmetic — bit-identical across engines.

    Scale shape: identical to ``theil_sen_trend`` — the pair blow-up is
    C(horizon, 2) per key (a constant), the bucketed table is pinned so
    the self-join's legs don't each re-reduce raw events,
    and everything partitions on the key.

    Output: (key, lag, n_pairs, sum_d2q) — sum_d2q in cents² so callers
    can aggregate further exactly; divide by n_pairs·10⁴ for units².
    """
    # same trade as theil_sen_trend above
    b = pin(_bucketed_cents(df, key_col, ts_us_col, value_col, bucket_us, horizon))
    lhs = b.select("key", F.col("t").alias("ti"), F.col("yq").alias("yi"),
                   F.col("rn").alias("ri"))
    rhs = b.select("key", F.col("t").alias("tj"), F.col("yq").alias("yj"),
                   F.col("rn").alias("rj"))
    pairs = lhs.join(rhs, "key").where(F.col("ri") < F.col("rj"))
    d = pairs.select(
        "key",
        (F.col("tj") - F.col("ti")).alias("lag"),
        (
            (F.col("yj") - F.col("yi")) * (F.col("yj") - F.col("yi"))
        ).cast("decimal(38,0)").alias("d2q"),
    )
    return d.groupBy("key", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("d2q").cast("decimal(38,0)").alias("sum_d2q"),
    )


def dtw_qualified_series(
    df: DataFrame,
    key_col: str,
    ts_us_col: str,
    value_col: str,
    bucket_us: int,
    n: int,
) -> DataFrame:
    """(key, v ARRAY<BIGINT>) series table the DTW family mines: bucketed
    cents per key, position-sorted into a fixed-length array, keys with
    fewer than ``n`` buckets dropped (the fixed-length contract the
    banding anchors rely on). Shared by :func:`dtw_distance` and the
    scaling harness so the candidate-generation measurements always run
    over exactly the miner's series set."""
    b = _bucketed_cents(df, key_col, ts_us_col, value_col, bucket_us, n)
    return (
        b.groupBy("key")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(rn, yq))), "
                "p -> p.yq)"
            ).alias("v"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") == n)
    )


def dtw_banded_pairs(
    series: DataFrame,
    threshold_q: int,
    radius: int | None = None,
    anchors: tuple[int, ...] = (),
    max_pairs: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded candidate-pair generation for :func:`dtw_distance` — the
    scale path that replaces the ``max_keys`` cap, built on LB_Kim
    lower bounds so containment is a THEOREM, not a tuning outcome:

    * DTW(a,b) ≥ |a₁−b₁| and ≥ |aₙ−bₙ| (endpoints always align), and
      ≥ |max(a)−max(b)| and ≥ |min(a)−min(b)| (the max of ``a`` pairs
      with something ≤ max(b), contributing at least the difference).
    * 1-D staggered-grid fact: two scalars within g/2 of each other
      fall in the same cell of at least one of the two grids with cell
      width g and offsets {0, g/2} (their interval contains at most one
      boundary from the union, which alternates every g/2).

    So with g = 2·``threshold_q``, a pair within threshold agrees, for
    EACH of the four features independently, on at least one of the two
    offset grids — hence on at least one of the 16 JOINT
    (offset-combo, 4-feature-cell) signatures. The equi-join runs on
    that joint signature: pruning power MULTIPLIES across features
    (four weak per-feature filters of the same data would intersect
    after the join; the joint key intersects before it), while
    containment stays a theorem. The per-feature |Δ| ≤ threshold checks
    remain as exact post-filters, and the O(n⁴)-per-pair DP verifies
    candidates exactly.

    Scale shape: 16 signature rows per key, one equi-join shuffle on the
    joint signature (never all-pairs), distinct on (key_a, key_b).
    Pruning is DATA-DEPENDENT, like any LSH: keys whose
    (first, last, max, min) profile concentrates inside one
    2·threshold-wide cell per feature still collide (measured on the
    homogeneous synthetic users: little pruning — every user shops
    alike); real fleets with heterogeneous level/amplitude separate.
    The honest worst case is quadratic in the largest joint bucket —
    the same contract as ``minhash_lsh_pairs`` banding, stated rather
    than hidden.

    ``radius`` + ``anchors`` (CONSTRAINED-DTW mode) extend the joint
    key with per-position ENVELOPE signatures — the LB_Keogh/LB_PAA
    idea turned into equi-join keys, for corpora whose key-level
    aggregates concentrate but whose per-position shapes differ (where
    scalar LB_Kim prunes nothing). Theorem: a Sakoe-Chiba path (band
    ``radius``) aligns every a_i with some b_j, |i−j| ≤ radius, and
    each |a_i − b_j| ≤ DTW_r(a,b); so DTW_r ≤ T implies, per anchor
    position i, a_i lies in [b_j − T, b_j + T] for SOME b value in the
    dilated window b[i−r .. i+r]. That interval has length 2T = one
    grid cell, so it spans at most TWO cells — the PROBE side (key_a)
    emits ONE cell per anchor (its own value, no extra offsets) and
    the BUILD side (key_b) emits the DISTINCT cells of the ±T-dilated
    window values: ≤ 2·(2·radius+1) per anchor, a CONSTANT. Anchors
    therefore multiply BUILD emission only — the combo count stays 16
    (probe-side offset-staggering of anchors was measured 4× worse on
    concentrated corpora because it multiplies the join's key space
    instead). One orientation suffices: the theorem is stated for a's
    values probing b's windows, which holds for every true pair
    regardless of key order. The exact per-anchor check
    min_j |a_i − b_j| ≤ T remains as a post-join filter.

    ``max_bucket`` caps each BUILD-side signature bucket at its
    ``max_bucket`` lowest keys (row_number per joint signature) — on
    concentrated corpora, where one bucket holds most keys and the
    join itself is the quadratic wall, this bounds join output at
    |keys|·combos·max_bucket, i.e. LINEAR in keys. ``max_pairs`` then
    caps the final candidate set DETERMINISTICALLY (ordered by
    (key_a, key_b), a TakeOrdered — top-k per partition, no global
    sort materialization). Both caps DROP true pairs by design: on
    i.i.d.-concentrated corpora the TRUE answer set itself is
    quadratic (SCALING.md), so an explicit, disclosed cap is the only
    honest bound — callers should count dropped build rows / capped
    candidates and report them (see ``tools/scaling_dtw_keys.py``).
    The registered query passes neither cap (exact containment).

    Input: (key, v ARRAY<BIGINT>). Output: (key_a, key_b), key_a < key_b.
    """
    g = 2 * int(threshold_q)
    h = int(threshold_q)
    if anchors and radius is None:
        raise ValueError("anchors require radius (constrained DTW only)")
    r = int(radius) if radius is not None else 0

    def _cell(expr: str, off: int) -> str:
        # exact integer floor division via the posmod identity —
        # long/long `/` is DOUBLE division, which mis-cells magnitudes
        # near 2^53 and would silently break the containment theorem
        return (
            f"(({expr} - {off}) - ((({expr} - {off}) % {g} + {g})"
            f" % {g})) DIV {g}"
        )

    # Anchors assume the position EXISTS in every series: element_at on a
    # shorter series yields NULL probe keys (and empty build windows), which
    # would SILENTLY exclude that key from every candidate pair — a quiet
    # containment violation. Raise loudly at execution instead; callers with
    # ragged corpora must filter to the fixed-length contract first (the
    # dtw_distance series builder already does).
    def _anchor(anc: int) -> "F.Column":
        return F.expr(
            f"CASE WHEN size(v) < {int(anc)} THEN raise_error("
            f"'dtw_banded_pairs: series shorter than anchor position "
            f"{int(anc)} — filter to fixed-length series first') "
            f"ELSE element_at(v, {int(anc)}) END"
        )

    feat = series.select(
        "key",
        F.element_at("v", 1).alias("_f"),
        F.element_at("v", -1).alias("_l"),
        F.array_max("v").alias("_mx"),
        F.array_min("v").alias("_mn"),
        *[_anchor(int(anc)).alias(f"_pa{i}") for i, anc in enumerate(anchors)],
        *[
            F.expr(
                f"slice(v, {max(1, int(anc) - r)}, "
                f"{int(anc) + r - max(1, int(anc) - r) + 1})"
            ).alias(f"_bw{i}")
            for i, anc in enumerate(anchors)
        ],
    )
    k = len(anchors)
    probe_structs = []
    build_arrays = []
    for c in range(16):
        kim = [(c >> b) & 1 for b in range(4)]
        s_fields = ", ".join(
            f"'s{i}', {_cell(col, h * o)}"
            for i, (col, o) in enumerate(zip(("_f", "_l", "_mx", "_mn"), kim))
        )
        p_fields = "".join(
            f", 'a{i}', {_cell(f'_pa{i}', 0)}" for i in range(k)
        )
        probe_structs.append(
            F.expr(f"named_struct('c', {c}, {s_fields}{p_fields})")
        )
        if k == 0:
            build_arrays.append(
                F.expr(f"array(named_struct('c', {c}, {s_fields}))")
            )
        else:
            # nested transform over the distinct ±T-dilated cells of
            # each anchor window; ≤ (2·(2r+1))^k structs per combo, a
            # CONSTANT (typically 1-4 after distinct)
            expr = f"named_struct('c', {c}, {s_fields}" + "".join(
                f", 'a{i}', a{i}" for i in range(k)
            ) + ")"
            for i in reversed(range(k)):
                cells = (
                    f"array_distinct(flatten(transform(_bw{i}, "
                    f"x -> array({_cell(f'x - {h}', 0)}, "
                    f"{_cell(f'x + {h}', 0)}))))"
                )
                expr = f"transform({cells}, a{i} -> {expr})"
                if i < k - 1:
                    expr = f"flatten({expr})"
            build_arrays.append(F.expr(expr))
    carry = ["_f", "_l", "_mx", "_mn"] + [f"_pa{i}" for i in range(k)] + [
        f"_bw{i}" for i in range(k)
    ]
    probe = feat.select(
        "key", *carry, F.explode(F.array(*probe_structs)).alias("_sig")
    )
    build = feat.select(
        "key", *carry,
        F.explode(F.concat(*build_arrays)).alias("_sig"),
    )
    a = probe.select(
        F.col("key").alias("key_a"), F.col("_sig"),
        F.col("_f").alias("_fa"), F.col("_l").alias("_la"),
        F.col("_mx").alias("_mxa"), F.col("_mn").alias("_mna"),
        *[F.col(f"_pa{i}").alias(f"_paa{i}") for i in range(k)],
    )
    b = build.select(
        F.col("key").alias("key_b"), F.col("_sig"),
        F.col("_f").alias("_fb"), F.col("_l").alias("_lb"),
        F.col("_mx").alias("_mxb"), F.col("_mn").alias("_mnb"),
        *[F.col(f"_bw{i}").alias(f"_bwb{i}") for i in range(k)],
    )
    if max_bucket is not None:
        b = (
            b.withColumn(
                "_rnk",
                F.row_number().over(
                    Window.partitionBy("_sig").orderBy("key_b")
                ),
            )
            .where(F.col("_rnk") <= int(max_bucket))
            .drop("_rnk")
        )
    t = F.lit(int(threshold_q))
    out = (
        a.join(b, "_sig")
        .where(F.col("key_a") < F.col("key_b"))
        .where(F.abs(F.col("_fa") - F.col("_fb")) <= t)
        .where(F.abs(F.col("_la") - F.col("_lb")) <= t)
        .where(F.abs(F.col("_mxa") - F.col("_mxb")) <= t)
        .where(F.abs(F.col("_mna") - F.col("_mnb")) <= t)
    )
    for i in range(k):
        # exact form of the anchor theorem: the probe value must be
        # within T of at least one value in the dilated build window
        out = out.where(
            F.expr(
                f"aggregate(_bwb{i}, CAST({10**15} AS BIGINT), "
                f"(m, x) -> least(m, abs(_paa{i} - x)))"
            )
            <= t
        )
    out = out.select("key_a", "key_b").distinct()
    if max_pairs is not None:
        out = out.orderBy("key_a", "key_b").limit(int(max_pairs))
    return out


def dtw_distance(
    df: DataFrame,
    key_col: str = "user_id",
    ts_us_col: str = "ts_us",
    value_col: str = "value",
    bucket_us: int = 3_600_000_000,
    n: int = 16,
    max_keys: int = 6,
    pair_source=None,
    radius: int | None = None,
    lb_prune_q: int | None = None,
) -> DataFrame:
    """Pairwise dynamic-time-warping distance between key series — the
    elastic-alignment similarity of light curves (and any irregular
    sensor series): unlike the lock-step structure function, DTW matches
    shapes that are locally stretched or shifted in time.

    Series are the keys' first ``n`` hourly cents-buckets (the
    :func:`structure_function` head — exact BIGINTs); only keys with a
    full ``n`` buckets qualify and the ``max_keys`` smallest ids pair up
    (C(max_keys, 2) rows). The n×n DP runs INSIDE whole-stage codegen as
    a nested higher-order fold, using the prefix-scan form of the row
    recurrence — with m[k] = min(prev[k], prev[k-1]) and S the prefix
    sum of the row costs,

        new[j] = c[j] + min(prev[j], prev[j-1], new[j-1])
               = S[j] + min_{k<=j} (m[k] - S[k-1])

    so each row needs only prefix sums/mins (no sequential dependence a
    declarative engine can't express; the same unrolling a recursive-CTE
    oracle replays verbatim). Every quantity is an exact int64 — costs
    are |Δcents|, min/+ only — so the distance is bit-identical across
    engines with no IEEE involvement at all.

    Scale shape: the bucket head is one map-side-combining aggregate over
    events; the DP is per-pair constant work (n⁴ ≈ 65k integer ops at
    n=16). The pair SOURCE is pluggable (the DBSCAN eps-graph
    precedent): the default keeps the deterministic ``max_keys`` cap —
    an oracle-friendly bounded all-pairs for the registered query — and
    ``pair_source`` (a callable ``series_df -> (key_a, key_b)``, e.g.
    ``lambda s: dtw_banded_pairs(s, threshold_q)``) replaces it with
    banded candidate generation over ALL qualified keys: never
    all-pairs, containment of threshold-true pairs guaranteed by the
    LB_Kim bounds (see :func:`dtw_banded_pairs`).

    ``radius`` switches to SAKOE-CHIBA CONSTRAINED DTW (|i−j| ≤ radius
    — the UCR-suite standard): cells outside the band are INF, and a
    row's prefix-scan min is clipped to k ≥ i−radius so no path segment
    enters the row out-of-band. Constrained DTW is what production
    time-series mining runs, both because warps beyond a few steps are
    physically meaningless and because it admits the LB_Keogh envelope
    bound: with U_i = max(b[i−r..i+r]), L_i = min(b[i−r..i+r]),
    Σ_i max(0, a_i − U_i, L_i − a_i) ≤ DTW_r(a, b) — each a_i matches
    at least one b_j inside its band, distinct cells per i. When
    ``lb_prune_q`` is set (candidate-source mode), a pair is kept only
    if BOTH directional LB_Keogh values are ≤ the threshold (dropped as
    soon as EITHER exceeds it) BEFORE the O(n³)-ops DP —
    sound (each LB ≤ DTW_r), and unlike the LB_Kim features it sees
    per-position wiggle, so it prunes even when key-level aggregates
    concentrate.

    Output: (key_a, key_b, dtw_q) with dtw_q in integer cents
    (dtw_q = INF-masked cells never reach the output corner).
    """
    series = dtw_qualified_series(
        df, key_col, ts_us_col, value_col, bucket_us, n
    )
    if pair_source is None:
        # max_keys rows; both join legs reuse
        series = pin(series.orderBy("key").limit(max_keys), eager=True)
        a = series.select(F.col("key").alias("key_a"), F.col("v").alias("av"))
        bb = series.select(F.col("key").alias("key_b"), F.col("v").alias("bv"))
        pairs = a.join(bb, F.col("key_a") < F.col("key_b"))
    else:
        # bounded intermediate (one row per qualified key) pinned once:
        # the banding pass and both vector-attach legs reuse it
        series = pin(series, eager=True)
        cand = pair_source(series.select("key", "v"))
        pairs = (
            cand.join(
                series.select(F.col("key").alias("key_a"),
                              F.col("v").alias("av")),
                "key_a",
            )
            .join(
                series.select(F.col("key").alias("key_b"),
                              F.col("v").alias("bv")),
                "key_b",
            )
        )

    INF = 10**15

    if radius is not None and lb_prune_q is not None:
        # LB_Keogh prefilter (both directions): O(n·radius) vs the DP's
        # O(n³) ops — sound because LB ≤ DTW_radius
        def _lb(x: str, y: str) -> str:
            return (
                f"aggregate(sequence(1, {n}), CAST(0 AS BIGINT), (s, i) -> "
                f"s + greatest(CAST(0 AS BIGINT), "
                f"element_at({x}, i) - array_max(slice({y}, "
                f"greatest(1, i - {radius}), "
                f"least({n}, i + {radius}) - greatest(1, i - {radius}) + 1)), "
                f"array_min(slice({y}, greatest(1, i - {radius}), "
                f"least({n}, i + {radius}) - greatest(1, i - {radius}) + 1)) "
                f"- element_at({x}, i)))"
            )

        pairs = pairs.where(
            F.greatest(
                F.expr(_lb("av", "bv")), F.expr(_lb("bv", "av"))
            )
            <= F.lit(int(lb_prune_q))
        )

    return pairs.select(
        "key_a", "key_b", _dtw_q_kernel(n, radius)("av", "bv").alias("dtw_q")
    )


def _dtw_q_kernel(n: int, radius: int | None):
    """Vectorized banded-DTW corner value as a pandas UDF (bigint).

    The previous formulation was a Catalyst ``aggregate``/``transform``
    prefix-scan fold — higher-order functions evaluate interpreted
    per-element, so each pair paid O(n³) interpreted ops and the DP
    expression tree dominated both plan-build and execution time
    (guide §4.2: batch work belongs in vectorized native code). This
    kernel runs the textbook in-band recurrence
    ``dp(i,j) = |a_i − b_j| + min(dp(i−1,j), dp(i−1,j−1), dp(i,j−1))``
    over the WHOLE Arrow batch at once (numpy int64, loops only over the
    n×band grid — 16×5 iterations regardless of pair count).

    Exactness: every quantity is int64 (inputs are quantized cents), and
    the expression fold computed the same minimum over the same banded
    monotone-path set (its entry-point form min_k[E(k) + Σ_{y=k..j}c_y]
    is the unrolled horizontal-run expansion of dp(i,j−1)), so the corner
    values are bit-identical — pinned by
    tests/test_r13_optimizations.py against the retired expression fold.
    Out-of-band cells hold ≥ INF sentinels; real paths stay far below
    INF = 1e15 and INF-chained sums stay far below int64, so no masked
    path can win a min and nothing overflows.
    """
    band = n if radius is None else int(radius)

    @F.pandas_udf("bigint")
    def _dtw(av_s: pd.Series, bv_s: pd.Series) -> pd.Series:
        m = len(av_s)
        if m == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        A = np.stack(av_s.to_numpy()).astype(np.int64)  # (m, n)
        B = np.stack(bv_s.to_numpy()).astype(np.int64)
        INF_ = 10**15
        prev = np.full((m, n + 1), INF_, dtype=np.int64)  # dp row i-1, 1-based
        for i in range(1, n + 1):
            cur = np.full((m, n + 1), INF_, dtype=np.int64)
            lo, hi = max(1, i - band), min(n, i + band)
            ci = np.abs(A[:, i - 1 : i] - B)  # (m, n) row-i costs
            for j in range(lo, hi + 1):
                if i == 1 and j == 1:
                    best = np.zeros(m, dtype=np.int64)
                else:
                    best = np.minimum(prev[:, j], cur[:, j - 1])
                    if j > 1:
                        best = np.minimum(best, prev[:, j - 1])
                cur[:, j] = ci[:, j - 1] + best
            prev = cur
        return pd.Series(prev[:, n])

    return _dtw


def _dft_basis(n: int, k_max: int, quant: int = 1_000_000):
    """Integer-quantized DFT basis rows (k, t, cos_q, sin_q).

    cos/sin are NOT correctly-rounded IEEE operations, so evaluating them
    inside a query is a cross-engine hazard; for a FIXED grid the basis
    is a constant table, computed once here (Python libm) and embedded
    as integer literals in both the Spark plan and any SQL oracle — the
    engines then touch only exact integer products.
    """
    import math

    out = []
    for k in range(1, k_max + 1):
        for t in range(n):
            ang = 2.0 * math.pi * k * t / n
            out.append(
                (k, t,
                 math.floor(math.cos(ang) * quant),
                 math.floor(math.sin(ang) * quant))
            )
    return out


def periodogram(
    df: DataFrame,
    key_col: str = "user_id",
    ts_us_col: str = "ts_us",
    value_col: str = "value",
    bucket_us: int = 3_600_000_000,
    n: int = 16,
    k_max: int = 8,
) -> DataFrame:
    """Discrete periodogram per key: spectral power at harmonics k=1..k_max
    of the key's first ``n`` hourly cents-buckets — the period-detection
    statistic of light-curve analysis (variable stars, rotation periods)
    and of seasonality detection anywhere else.

    power_k = (Σ_t y_t·cos(2πkt/n))² + (Σ_t y_t·sin(2πkt/n))², evaluated
    against the :func:`_dft_basis` integer-quantized constants: the two
    dot products are exact BIGINTs (≤ n·|y|·quant ≈ 1.6e13 per term —
    exactly double-representable), and only the final square/add/round
    are IEEE doubles, each correctly rounded. Keys need a full ``n``
    buckets.

    Scale shape: the n×k_max basis table broadcasts; the bucket head is
    one map-side-combining aggregate; the (key, k) sums are one more.
    """
    b = _bucketed_cents(df, key_col, ts_us_col, value_col, bucket_us, n)
    full = b.groupBy("key").agg(F.count(F.lit(1)).alias("_n")).where(
        F.col("_n") == n
    )
    spark = df.sparkSession
    basis = spark.createDataFrame(
        _dft_basis(n, k_max), "k int, t int, cq long, sq long"
    )
    joined = (
        b.join(full.select("key"), "key")
        .withColumn("t", F.col("rn") - 1)
        .join(F.broadcast(basis), "t")
    )
    sums = joined.groupBy("key", "k").agg(
        F.sum(F.col("yq") * F.col("cq")).alias("a_q"),
        F.sum(F.col("yq") * F.col("sq")).alias("b_q"),
    )
    a = F.col("a_q").cast("double") / 1e6 / 100.0  # basis grid, cents
    bb = F.col("b_q").cast("double") / 1e6 / 100.0
    return sums.select(
        "key",
        F.col("k").cast("long").alias("k"),
        F.col("a_q").cast("long").alias("a_q"),
        F.col("b_q").cast("long").alias("b_q"),
        F.round(a * a + bb * bb, 6).alias("power"),
    )


# pandas-UDF closures in this module must ship by value (the driver may have
# added the repo to sys.path at runtime; executors have no package install)
from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)
