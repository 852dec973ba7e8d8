"""Regenerate ``reference.json``: the (row count, digest) of every
``curation_ops`` query on the fixed table set, recorded only for a result
that passed ``tests/oracle_harness.compare`` against the query's DuckDB
oracle SQL on the same tables.

    python3 perfbench/make_reference.py

Run from the repository root. Work files go to ``.perfbench_work/``.
Exits 1, and records no digest for it, when a query fails its oracle.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: DuckDB spills past this to its temp directory under the work directory
#: (unbounded, an oracle query once filled the disk's temp storage)
DUCK_MEMORY = "4GB"
#: an oracle query still running after this many seconds is interrupted
ORACLE_TIMEOUT_S = 300.0


def main() -> int:
    import duckdb

    import tables
    from measure import fingerprint
    from oracle_harness import compare
    from workloads import CURATION_QUERIES, TABLES_SEED

    work = os.path.join(ROOT, ".perfbench_work", "reference")
    data = os.path.join(work, "tables")
    names = tables.write_tables(data, TABLES_SEED)

    import __spark_entry__ as entry
    from hiss_cube_spark import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.driver.memory": "2g"})
    con = duckdb.connect(config={"memory_limit": DUCK_MEMORY, "threads": 2,
                                 "temp_directory": os.path.join(work, "duck")})
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    registry, oracle = entry.queries(), entry.oracle_sql()
    out = {}
    for q in CURATION_QUERIES:
        t0 = time.time()
        df = registry[q](spark, data)
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            compare(df, con, oracle[q], q)
        except (AssertionError, duckdb.Error) as e:
            print(f"{q}: no reference: {type(e).__name__}: {str(e)[:300]}", flush=True)
            continue
        finally:
            timer.cancel()
        out[q] = list(fingerprint(df.toPandas()))
        print(f"{q}: {out[q]} ({time.time() - t0:.1f}s)", flush=True)
    spark.stop()
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        json.dump({"curation_ops": out, "tables_seed": TABLES_SEED}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0 if len(out) == len(CURATION_QUERIES) else 1


if __name__ == "__main__":
    sys.exit(main())
