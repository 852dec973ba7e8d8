"""PII redaction for LLM training-data pipelines.

Scrubs personally-identifiable spans (emails, phone numbers, IPv4
addresses, SSN-shaped ids) from a text column and reports per-type match
counts. Entirely native ``regexp_replace`` / ``regexp_count`` column
expressions — JVM-side, whole-stage-codegen, no Python in the hot path —
so at 100 TB this is a free narrow projection over the scan (no shuffle,
columns prune, predicates still push down past it).

Pattern dialect note: patterns are written in the common subset of Java
regex (Spark) and RE2 (DuckDB oracle) — character classes, bounded
repeats, non-capturing groups and ``\\b`` word boundaries only; no
backreferences or lookaround, which RE2 lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hiss_cube_spark.pins import pin

__all__ = [
    "PII_PATTERNS",
    "redact_pii",
    "k_anonymity_ladder",
    "bounded_contribution",
]

# Ordered: replacement runs top-to-bottom, so more specific shapes
# (SSN 3-2-4) precede overlapping general ones (phone 3-3-4 cannot match an
# SSN, but order is still pinned for determinism).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    token_fmt: str = "<{name}>",
    out_col: str = "redacted",
) -> DataFrame:
    """Append ``out_col`` (text with every PII span replaced by its type
    token, e.g. ``<EMAIL>``) and one ``n_<type>`` count column per pattern.

    Counts are taken on the ORIGINAL text, independently per type, so they
    are insensitive to replacement order; the redacted text applies the
    patterns in dict order. Mirrors the reference's sanitization stance
    (inf→NaN scrub before storage, metadata_strategy_dataset.py:173-174):
    normalize at ingest, never at query time.
    """
    patterns = patterns or PII_PATTERNS
    red = F.col(text_col)
    out = df
    for name, pat in patterns.items():
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)))
        red = F.regexp_replace(red, pat, token_fmt.format(name=name.upper()))
    return out.withColumn(out_col, red)


def k_anonymity_ladder(
    df: DataFrame,
    hierarchy: list[str],
    sensitive_col: str,
    k: int = 8,
    l: int = 2,
    broadcast: bool = True,
) -> DataFrame:
    """Local-recoding k-anonymity over a fixed generalization hierarchy,
    with an l-diversity check on ``sensitive_col``.

    ``hierarchy`` lists the quasi-identifier columns most-general FIRST
    (e.g. ``["nation", "segment", "balance_bucket"]``); generalization
    level ``L`` drops the ``L`` most-specific (trailing) columns, so
    level 0 is the full quasi-identifier tuple and level
    ``len(hierarchy)`` is the fully-suppressed global group. Each record
    is assigned the SMALLEST level at which its group reaches size
    ``k`` (local recoding: records in the same level-0 cell always land
    on the same level, but different cells may generalize differently —
    the standard release shape when a full Mondrian partitioning is not
    required). ``l_div`` is the number of distinct sensitive values in
    the chosen group and ``l_ok`` whether it meets ``l`` — a k-anonymous
    group that is sensitive-homogeneous still leaks (Machanavajjhala et
    al., l-diversity), so both flags are emitted.

    Scale shape: ONE ``rollup`` aggregate over the fact computes every
    level's group size and sensitive-distinct count map-side (the rollup
    cell table is bounded by the level-0 cell count, not the row count);
    the per-record assignment is ``len(hierarchy)+1`` BROADCAST joins of
    the fact against per-level slices of that bounded table. No fact
    self-join, no window over the fact, one shuffle total.

    Data contract: hierarchy columns must be NON-NULL (normalize a null
    quasi-value to a sentinel first) — a null key would both collide
    with the rollup's subtotal marker and fall out of the per-level
    equi-joins, silently generalizing the record further than designed.

    ``broadcast=False`` is the escape hatch for hierarchies whose
    FINEST level approaches row cardinality (quasi-cells are
    k-anonymity's true scale axis — the rollup table is ~2× the level-0
    cell count regardless of row count): past the executor-memory
    broadcast comfort zone the per-level joins fall back to shuffle
    hash joins, one shuffle per level instead of zero.

    Returns one row per input row: the hierarchy columns plus
    ``anon_level``, ``group_n``, ``l_div``, ``l_ok`` (all computed at
    the chosen level).
    """
    depth = len(hierarchy)
    sizes = pin(
        df.rollup(*hierarchy).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(sensitive_col).alias("ld"),
            F.grouping_id().alias("gid"),
        )
    )
    out = df
    for lvl in range(depth + 1):
        keep = hierarchy[: depth - lvl]
        # rollup grouping_id sets one low bit per rolled-away trailing col
        gid = (1 << lvl) - 1
        slice_df = sizes.where(F.col("gid") == gid).select(
            *keep,
            F.col("n").alias(f"_n{lvl}"),
            F.col("ld").alias(f"_ld{lvl}"),
        )
        if keep:
            bs = F.broadcast(slice_df) if broadcast else slice_df
            out = out.join(bs, keep, "left")
        else:
            # the fully-rolled-up slice is always ONE row — broadcast it
            # regardless (a shuffle join on an empty key set is nonsense)
            out = out.crossJoin(F.broadcast(slice_df))
    level = F.lit(depth)
    group_n = F.col(f"_n{depth}")
    l_div = F.col(f"_ld{depth}")
    for lvl in range(depth - 1, -1, -1):
        ok = F.col(f"_n{lvl}") >= F.lit(k)
        level = F.when(ok, F.lit(lvl)).otherwise(level)
        group_n = F.when(ok, F.col(f"_n{lvl}")).otherwise(group_n)
        l_div = F.when(ok, F.col(f"_ld{lvl}")).otherwise(l_div)
    drop = [c for lvl in range(depth + 1) for c in (f"_n{lvl}", f"_ld{lvl}")]
    return (
        out.withColumn("anon_level", level.cast("long"))
        .withColumn("group_n", group_n.cast("long"))
        .withColumn("l_div", l_div.cast("long"))
        .withColumn("l_ok", F.col("l_div") >= F.lit(l))
        .drop(*drop)
    )


def bounded_contribution(
    df: DataFrame,
    user_col: str,
    group_col: str,
    count_cap: int = 4,
    value_col: str | None = None,
    value_cap_cents: int | None = None,
) -> DataFrame:
    """Per-user contribution clipping — the sensitivity-bounding step that
    makes an aggregate releasable under differential privacy.

    A DP count/sum release needs each user's influence bounded BEFORE
    noise is calibrated: per (group, user) the event count is clipped at
    ``count_cap`` and (optionally) the per-user cents sum at
    ``value_cap_cents``, so one user changes the released aggregate by at
    most the cap — the L1 sensitivity the Laplace scale would be
    calibrated to. Noise itself is deliberately NOT added here (it would
    be nondeterministic); the output carries everything a release layer
    needs: clipped and raw sums, user counts, how many users were
    clipped (the bias diagnostic — a high clip rate means the cap eats
    real signal), and the sensitivity column.

    Scale shape: one (group, user) map-side-combining aggregate over the
    fact, then a group aggregate over the bounded per-user table — the
    exact two-level shape of any per-user metric; no joins, no windows,
    no second fact scan.

    ``value_col`` and ``value_cap_cents`` come as a pair: a value column
    without a cap has no bounded sensitivity to release (and a cap without
    a column is meaningless), so providing exactly one raises rather than
    silently emitting a count-only table that LOOKS like a value-bounded
    release.
    """
    if (value_col is None) != (value_cap_cents is None):
        raise ValueError(
            "bounded_contribution: value_col and value_cap_cents must be "
            "provided together (got value_col=%r, value_cap_cents=%r) — a "
            "value column without a clip cap has unbounded sensitivity and "
            "must not silently drop from the release"
            % (value_col, value_cap_cents)
        )
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(
            F.sum(
                F.round(F.col(value_col) * 100).cast("decimal(18,0)")
            ).cast("long").alias("v")
        )
    per = df.groupBy(group_col, user_col).agg(*aggs)
    out_aggs = [
        F.sum("n").cast("long").alias("raw_count"),
        F.sum(F.least(F.col("n"), F.lit(count_cap)))
        .cast("long")
        .alias("clipped_count"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("n") > count_cap, 1).otherwise(0))
        .cast("long")
        .alias("n_count_clipped"),
    ]
    if value_col is not None and value_cap_cents is not None:
        cap = F.lit(int(value_cap_cents)).cast("long")
        out_aggs += [
            F.sum("v").cast("long").alias("raw_cents"),
            F.sum(F.greatest(-cap, F.least(F.col("v"), cap)))
            .cast("long")
            .alias("clipped_cents"),
            F.sum(F.when(F.abs(F.col("v")) > cap, 1).otherwise(0))
            .cast("long")
            .alias("n_value_clipped"),
        ]
    out = per.groupBy(group_col).agg(*out_aggs)
    out = out.withColumn(
        "count_sensitivity", F.lit(int(count_cap)).cast("long")
    )
    if value_col is not None and value_cap_cents is not None:
        out = out.withColumn(
            "value_sensitivity", F.lit(int(value_cap_cents)).cast("long")
        )
    return out
