"""Connected components near the top of its driver regime: both regimes
timed on one synthetic edge list whose narrow pin stores just under the
32 MB bound (`pins._NARROW_PARTITION_BYTES`).

The edge list has the near-duplicate shape `connected_components` is
built for: chains of 4 nodes (diameter 3). The distributed regime is
forced the way the tests force it, by reporting every pin above the bound.
Each regime runs once to warm up, then ``repeats`` times; the best time
counts. One timing is the call plus a ``noop`` write of its result.

Usage: python tools/scaling_cc_regimes.py [n_edges] [repeats] [master]
(defaults 395000, 2, local[4]; 395000 two-long edges store 31.6 MB). Run it on an otherwise idle host.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hiss_cube_spark import get_spark, pins  # noqa: E402
from hiss_cube_spark.operators.clusters import connected_components  # noqa: E402


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 395_000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    master = sys.argv[3] if len(sys.argv) > 3 else "local[4]"
    spark = get_spark("scaling-cc-regimes", master=master, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    # chains a-b-c-d: 3 edges per 4 consecutive ids
    ids = spark.range(n_edges * 4 // 3 + 4).where(F.col("id") % 4 != 3).limit(n_edges)
    pairs = ids.select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    probe = pins.pin_narrow(pairs)
    stored = pins.stored_bytes(probe)
    pins.release(probe)

    def once() -> float:
        t0 = time.perf_counter()
        connected_components(pairs).write.format("noop").mode("overwrite").save()
        secs = time.perf_counter() - t0
        pins.release_rdd_blocks(spark)
        return secs

    above = mock.patch.object(
        pins, "stored_bytes", lambda df: pins._NARROW_PARTITION_BYTES + 1
    )
    rec = {
        "master": master,
        "nproc": os.cpu_count(),
        "n_edges": n_edges,
        "stored_mb": round(stored / 2**20, 2),
        "bound_mb": pins._NARROW_PARTITION_BYTES / 2**20,
    }
    for regime in ("driver", "distributed"):
        with above if regime == "distributed" else contextlib.nullcontext():
            times = [once() for _ in range(repeats + 1)][1:]
        rec[f"{regime}_best_s"] = round(min(times), 2)
        rec[f"{regime}_times_s"] = [round(t, 2) for t in times]
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
