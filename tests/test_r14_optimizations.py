"""Round-14 optimization pins: every rewrite must be result-identical to
the formulation it replaced. (The narrow-pin tests live in test_pins.py.)
"""

from __future__ import annotations


def test_logbucket_quantile_report_broadcast_total_pins(spark):
    """The r14 broadcast-scalar total must reproduce the retired
    global-window formulation exactly: hand-computed percentile rows on
    a tiny deterministic value table (values 1..100 once each: exact
    p-th percentile rank r_p = ceil(p*n/100) selects value r_p)."""
    from pyspark.sql import functions as F

    from hiss_cube_spark.operators.quality_checks import (
        logbucket_quantile_report,
    )

    df = spark.range(1, 101).select(F.col("id").alias("v"))
    out = {
        r["pct"]: r
        for r in logbucket_quantile_report(df, "v").collect()
    }
    assert sorted(out) == [25, 50, 75, 90, 99]
    for pct, row in out.items():
        assert row["exact"] == pct  # rank ceil(pct*100/100) over 1..100
        assert row["within_bound"] and row["est"] <= row["exact"]
