"""Pins: the one way the engine materializes a DataFrame, and frees it.

A pin is a ``localCheckpoint``: the plan runs once, its rows stay in the
executors' block managers and the lineage above them is cut, so later
actions (and the plan analysis of every later iteration) start from the
stored blocks. Which kind a site uses follows one rule:

* lazy (``pin(df)``) when the first action reads the pin through ONE plan
  branch — that action fills the blocks as a side effect. A lazy pin does
  not avoid jobs, it defers the last stage: under AQE, pinning a plan with
  an exchange runs every shuffle-map stage at pin time (measured: one job
  for a pin over a ``groupBy``, none over a narrow plan), and only the
  stage that writes the blocks waits for the first action. Those pin-time
  jobs run while the DataFrame is being built, like an eager pin's;
* eager (``pin(df, eager=True)``) when the first action reads it through
  TWO branches (a self-join, a symmetrizing union) — a lazy pin there lets
  both branches compute the same partitions before the blocks exist
  (measured +30% tasks on connected components). Where the branches
  share the exchange directly below the pin, only the bounded
  post-exchange tail runs twice, and lazy stays the cheaper side;
* narrow (``pin_narrow``) only on eager pins: once the blocks exist their
  measured size (``stored_bytes``) sets a narrow-coalesced partition count.
  A narrow pin of at most one partition's worth of bytes is small enough
  for the driver: ``collect_if_narrow`` hands it over as one Arrow table
  and frees the blocks, so an iterative operator can run its rounds
  in-process instead of one Spark job per round.

A pin's blocks live in the SparkContext's persistent-RDD registry, not in
the plan cache: ``DataFrame.unpersist`` and ``catalog.clearCache`` leave
them in place. ``release`` frees one pin through the RDD handle recorded
when the pin was made, ``scope`` frees every pin made inside a block, and
``release_rdd_blocks`` frees every pin in the session. A released pin's
lineage is gone, so an action that still reads it fails. So does an action
that reads a pin whose block an executor lost: local pins are not
recomputable.
"""

from __future__ import annotations

import contextlib
import threading
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    import pyarrow as pa

__all__ = [
    "collect_if_narrow",
    "pin",
    "pin_narrow",
    "release",
    "release_rdd_blocks",
    "scope",
    "stored_bytes",
]

# Per-partition byte target of a narrow pin: an iterative loop re-scans its
# working set every round, so near-empty partitions pay their task
# overhead once per round.
_NARROW_PARTITION_BYTES = 32 << 20

# tag -> the live pin a previous run of the same query left behind
_tagged: dict[str, DataFrame] = {}
# per-thread stack of open scopes, each the list of pins made inside it
_scopes = threading.local()


def pin(df: DataFrame, *, eager: bool = False, tag: str | None = None) -> DataFrame:
    """Pin ``df`` (see the module docstring for lazy vs eager).

    ``tag`` keeps one live pin per tag: pinning under a tag first releases
    the pin made under it before, so a query run in a loop (a benchmark,
    repeated oracle checks) holds one copy of its stage tables, not one
    per run."""
    if tag is not None and tag in _tagged:
        release(_tagged.pop(tag))
    out = df.localCheckpoint(eager=eager)
    # the checkpoint's plan is a bare LogicalRDD over the pinned RDD
    out._pin_rdd = out._jdf.queryExecution().analyzed().rdd()
    if tag is not None:
        _tagged[tag] = out
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(out)
    return out


def stored_bytes(df: DataFrame) -> int | None:
    """Bytes the pin ``df`` (a ``pin``/``pin_narrow`` result) holds in
    memory and on disk, read from the storage registry without running a
    job. ``None`` when the registry does not list the pin: it is lazy and
    not yet filled, released, or has no partitions."""
    rid = df._pin_rdd.id()
    for info in df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() == rid:
            return info.memSize() + info.diskSize()
    return None


def pin_narrow(df: DataFrame) -> DataFrame:
    """Eager pin, narrow-coalesced to one partition per 32 MB stored.

    A pinned edge/pair table inherits the partitioning of the plan that
    produced it (e.g. a per-core fan-out spreading the shingle compute),
    but is usually orders of magnitude smaller than its input, so every
    round of an iterative consumer would re-scan dozens of near-empty
    partitions. The blocks already exist, so ``coalesce`` is a narrow
    merge of block reads: no shuffle, upstream parallelism unaffected, and
    the count comes from the measured stored bytes (``stored_bytes``, no
    extra action) — a genuinely large table keeps its width."""
    out = pin(df, eager=True)
    size = stored_bytes(out)
    if size is not None:
        cur = out._pin_rdd.getNumPartitions()
        n = max(1, min(cur, -(-size // _NARROW_PARTITION_BYTES)))
        if n < cur:
            narrowed = out.coalesce(n)
            narrowed._pin_rdd = out._pin_rdd
            return narrowed
    return out


def collect_if_narrow(df: DataFrame) -> pa.Table | None:
    """The rows of the eager pin ``df`` as one Arrow table, when it stores
    at most one narrow partition (32 MB); the pin is released then.
    Returns ``None`` and keeps the pin when it is larger or its size is
    unknown: the decision reads measured bytes only, never the partition
    count (a pin that is already one partition can be large).

    ``toArrow`` collects through Arrow whatever the session's
    ``spark.sql.execution.arrow.pyspark.enabled`` says."""
    size = stored_bytes(df)
    if size is None or size > _NARROW_PARTITION_BYTES:
        return None
    table = df.toArrow()
    release(df)
    return table


def release(df: DataFrame) -> None:
    """Free the blocks of ``df``, a DataFrame ``pin`` or ``pin_narrow``
    returned. Releasing twice is harmless."""
    handle = getattr(df, "_pin_rdd", None)
    if handle is None:
        raise ValueError("release() takes a DataFrame returned by pin()")
    handle.unpersist(False)


@contextlib.contextmanager
def scope():
    """Release, when the block exits, every pin this thread made in it."""
    stack = _scopes.__dict__.setdefault("stack", [])
    made: list[DataFrame] = []
    stack.append(made)
    try:
        yield
    finally:
        stack.pop()
        for df in made:
            release(df)


def release_rdd_blocks(spark: SparkSession) -> int:
    """Free every pin (and every other persisted RDD) in the session and
    nudge the JVM GC, so block files leave scratch promptly. Call it where
    no caller will read a pinned DataFrame again. Returns the number of
    RDDs released."""
    sc = spark.sparkContext
    rdds = list(sc._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(False)
    sc._jvm.System.gc()
    return len(rdds)
