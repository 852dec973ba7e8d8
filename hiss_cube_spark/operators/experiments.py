"""Experiment-analysis operators: sessionized A/B exposure analysis with
CUPED variance reduction — the readout a training-data platform runs when
comparing pipeline variants (filter thresholds, dedup policies, sampling
temperatures) on downstream engagement.

Everything is exact integer / decimal arithmetic end-to-end (the engine's
cross-engine parity discipline): cents sums, floor-means via the posmod
identity, and a 1e-6-quantized theta from an exact decimal floor
division — so the adjusted means are bit-identical in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hiss_cube_spark.pins import pin

__all__ = ["ab_cuped", "ab_srm"]

# Shared arm-assignment hash (ab_cuped and ab_srm MUST agree — SRM guards
# the same assignment the readout uses): bit 31 of (u31 · mult) where
# u31 = u & 0x7FFFFFFF. The mask keeps the product inside int64 for EVERY
# int64 user id (max (2^31−1)·mult < 2^62), so there is no engine-dependent
# wrap/trunc behavior to diverge on; ids that differ only above bit 30
# collide, which is fine for a hash-based 50/50 split.
_ARM_HASH_SQL = "pmod((({u} & 2147483647) * {m}) DIV 2147483648, 2)"


def ab_cuped(
    df: DataFrame,
    split_us: int,
    user_col: str = "user_id",
    ts_us_col: str = "ts_us",
    value_col: str = "value",
    arm_mult: int = 2_654_435_761,
) -> DataFrame:
    """CUPED-adjusted A/B readout over an event stream.

    Exposure model: every user is deterministically assigned an arm by
    bit 31 of the integer hash ``((user_id & 0x7FFFFFFF) · arm_mult)``
    (Knuth multiplicative over the low 31 id bits — the mask keeps the
    product exact int64 for EVERY int64 id, so no engine wrap/trunc
    divergence exists; swap in xxhash64 off the parity path). A HIGH bit
    of the product is used because the low bit of u·odd is exactly u's
    parity — unmixed, and confounded by any parity-structured id
    allocation. Pre-period metric X = Σ value-cents before ``split_us``,
    experiment metric Y = Σ after. CUPED (Deng et al., WSDM'13) replaces
    Y with Y − θ·(X − X̄), θ = cov(X,Y)/var(X), removing the
    pre-existing between-user variance that X explains — the standard
    sensitivity boost for A/B readouts.

    Deterministic integer formulation: per-user X,Y are exact BIGINT
    cents; X̄,Ȳ are floor-means (posmod identity); θ is quantized as
    θ_q = floor(1e6·Σdxdy / Σdx²) computed in DECIMAL(38,0) (the sums
    of products overflow int64 at scale; the posmod floor-division on
    decimals is exact in both Spark and DuckDB), and the per-user
    adjusted metric 1e6·dy − θ_q·dx stays in int64 (|θ_q| ~ 1e6·O(1),
    |dx| bounded by per-user spend). Output per arm: user count,
    floor-mean Y (cents) and floor-mean adjusted Y (1e-6 cents) — all
    BIGINT, bit-identical across engines.

    Scale shape: one map-side-combining (user, period) aggregate over
    events, then windows over the per-user table (users ≪ events); the
    θ reduction is a single scalar aggregate. No row-level second scan
    of the fact table.
    """
    per = (
        df.select(
            F.col(user_col).alias("u"),
            F.when(F.col(ts_us_col) < F.lit(int(split_us)), F.lit(0))
            .otherwise(F.lit(1))
            .alias("period"),
            F.round(F.col(value_col) * 100)
            .cast("decimal(18,0)")
            .alias("xq"),
        )
        .groupBy("u", "period")
        .agg(F.sum("xq").cast("long").alias("s"))
        .groupBy("u")
        .agg(
            F.sum(F.when(F.col("period") == 0, F.col("s")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("period") == 1, F.col("s")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    # floor-mean via the posmod identity; the adjusted numerator is
    # exactly divisible, so integer DIV == exact division (no double
    # round-trip — long/long `/` loses exactness past 2^53 at scale)
    def _floor_mean(col: str) -> F.Column:
        return F.expr(
            f"(sum({col}) OVER () "
            f" - ((sum({col}) OVER () % count(1) OVER () + count(1) OVER ())"
            f"    % count(1) OVER ())) DIV count(1) OVER ()"
        )

    mx = _floor_mean("x").cast("long")
    my = _floor_mean("y").cast("long")
    per = pin(  # per-user table: bounded, reused 2×
        per.select(
            "u", "x", "y",
            (F.col("x") - mx).alias("dx"),
            (F.col("y") - my).alias("dy"),
        )
    )

    d38 = "decimal(38,0)"
    th = per.agg(
        F.sum((F.col("dx") * F.col("dy")).cast(d38)).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast(d38)).alias("sxx"),
    ).select(
        # zero pre-period variance (every user identical X) leaves theta
        # undefined — define it as 0 (no adjustment) instead of a
        # division-by-zero that ANSI mode turns into a hard error
        F.expr(
            "CASE WHEN sxx = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST((sxy * 1000000 - (((sxy * 1000000) % sxx + sxx) % sxx)) "
            "/ sxx AS BIGINT) END"
        ).alias("theta_q")
    )
    # arm = bit 31 of the multiplicative hash — the LOW bit of u·odd is
    # just u's parity (completely unmixed), so take a HIGH bit instead;
    # parity-structured id allocations then no longer confound the arms.
    # u is pre-masked to 31 bits so the product NEVER wraps int64 (an
    # unmasked u above ~3.4e9 wraps in non-ANSI Spark but not in an
    # unwrapped oracle, and a negative u diverges via trunc-DIV vs
    # floor-//); after the mask the product is nonnegative and < 2^62,
    # where truncation and floor agree in every engine.
    arm = F.expr(_ARM_HASH_SQL.format(u="u", m=int(arm_mult))).cast("long")
    adj = (
        F.lit(1_000_000) * F.col("dy") - F.col("theta_q") * F.col("dx")
    ).alias("adj")
    out = (
        per.crossJoin(F.broadcast(th))
        .select(arm.alias("arm"), "y", "theta_q", adj)
        .groupBy("arm", "theta_q")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("y").alias("_sy"),
            F.sum("adj").alias("_sa"),
        )
    )

    def _fm(s: str, n: str) -> F.Column:
        return F.expr(f"({s} - (({s} % {n} + {n}) % {n})) DIV {n}")

    return out.select(
        "arm",
        F.col("n_users").cast("long").alias("n_users"),
        _fm("_sy", "n_users").alias("mean_y_cents"),
        _fm("_sa", "n_users").alias("mean_adj_q"),
        "theta_q",
    )


def ab_srm(
    df: DataFrame,
    user_col: str = "user_id",
    segment_col: str = "event_type",
    arm_mult: int = 2_654_435_761,
    chi2_crit_q: int = 3_841_459,
) -> DataFrame:
    """Sample-ratio-mismatch guard: the sanity check that runs BEFORE any
    A/B readout is trusted. Users are assigned arms by the same high-bit
    multiplicative hash as :func:`ab_cuped`; per segment, the distinct-user
    counts per arm feed the 1-dof chi-square against the designed 50/50
    split — chi2 = (n_a − n_b)² / (n_a + n_b). A triggered SRM (chi2 above
    the 95th-percentile critical value 3.841459) means the assignment or
    logging pipeline is biased and the experiment readout is void (Fabijan
    et al., "Diagnosing Sample Ratio Mismatch", KDD'19).

    Integer discipline: chi2 is quantized at 1e-6 by an exact DECIMAL(38,0)
    floor division (the squared numerator overflows int64 past ~3e6 users
    per segment), so the statistic is a BIGINT, bit-identical across
    engines. Scale shape: one distinct over (segment, user) — map-side
    combining on exactly the natural key — then a segment-count aggregate;
    the chi-square itself is per-segment scalar arithmetic. No windows, no
    joins.
    """
    per = (
        df.select(
            F.col(segment_col).alias("segment"), F.col(user_col).alias("u")
        )
        .distinct()
        .withColumn(
            "arm",
            F.expr(_ARM_HASH_SQL.format(u="u", m=int(arm_mult))),
        )
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
    )
    # floor((n_a-n_b)^2 * 1e6 / (n_a+n_b)): numerator >= 0 and den > 0, so
    # plain % is already the posmod and subtract-remainder-then-divide is
    # exact (no decimal rounding can occur on an exactly-divisible value)
    return per.select(
        "segment", "n_a", "n_b",
        F.expr(
            "CAST((CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) * 1000000"
            " - (CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) * 1000000)"
            "   % (n_a + n_b))"
            " / (n_a + n_b) AS BIGINT)"
        ).alias("chi2_q"),
    ).withColumn("srm", F.col("chi2_q") > F.lit(int(chi2_crit_q)))


from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)
