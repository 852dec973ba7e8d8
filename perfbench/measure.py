"""Measurement helpers: latency summaries, output fingerprints, peak
memory in use by the process tree, and the host record."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import sys
import threading

# the repository's tests/ directory: the DuckDB-oracle comparison's canonical
# row rendering, so a digest here and an oracle comparison agree on equality
sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from oracle_harness import canonical_rows  # noqa: E402


def tail_percentile(samples, min_beyond: int = 10):
    """(percentile, value) of the highest percentile that has at least
    ``min_beyond`` samples strictly above its rank, or None when there are
    too few samples to have one."""
    xs = sorted(samples)
    n = len(xs)
    if n <= min_beyond:
        return None
    rank = n - min_beyond  # 1-based rank of the sample reported
    return 100.0 * rank / n, xs[rank - 1]


def summary(samples) -> dict:
    """Median, tail and sample count of a latency list, as recorded."""
    tail = tail_percentile(samples)
    return {
        "n": len(samples),
        "p50": statistics.median(samples) if samples else None,
        "tail_pct": tail[0] if tail else None,
        "tail": tail[1] if tail else None,
        "max": max(samples) if samples else None,
    }


def fingerprint(pdf) -> tuple[int, str]:
    """(row count, order-independent digest) of a pandas result: SHA-256
    over the column names and the rows as the oracle harness canonicalizes
    them (columns sorted by name, cells rendered alike, rows sorted)."""
    rows = canonical_rows(pdf)
    h = hashlib.sha256("\x1e".join(sorted(pdf.columns)).encode())
    for r in rows:
        h.update(("\x1e" + "\x1f".join(r)).encode())
    return len(rows), h.hexdigest()


def _tree(root_pid: int) -> dict[int, bytes]:
    """Command name of ``root_pid`` and of each of its descendants, by pid."""
    stats: dict[int, tuple[bytes, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: it runs from the
        # first '(' to the last ')', and the parent pid is the field after next
        close = stat.rindex(b")")
        stats[int(name)] = (stat[stat.index(b"(") + 1:close], int(stat[close + 2:].split()[1]))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, (_, ppid) in stats.items() if ppid == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return {pid: stats[pid][0] for pid in tree if pid in stats}


def _pss(pid: int) -> int:
    """Proportional resident bytes (PSS) of one process: pages the forked
    Python workers share count once across them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
    except (OSError, StopIteration):
        return 0


class PeakMemory:
    """Peak memory in use by this process and its descendants: the driver
    JVM, the Python worker daemon and its workers, sampled twice a second.

    The JVM's heap is fixed and pre-touched (``-Xms`` = ``-Xmx`` =
    ``heap_bytes``, ``-XX:+AlwaysPreTouch``), so all of it is resident from
    the start, and a resident-set reading of the JVM says nothing about the
    heap. A sample is therefore the PSS of the Python processes, plus the
    JVM's PSS less ``heap_bytes`` (metaspace, code, thread stacks, Arrow and
    network buffers), plus the heap that Spark's memory manager holds for
    stored blocks (pinned, cached and broadcast), read through ``attach``.
    The rest of the heap in use is left out: what G1 has not yet collected
    swings with the timing of its collections (the old and survivor spaces
    in use varied by 30% between runs of the same work)."""

    def __init__(self, heap_bytes: int, interval: float = 0.5):
        self.heap_bytes = heap_bytes
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._memory_manager = None
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def attach(self, jvm) -> None:
        """Start reading the stored blocks of ``jvm`` (a py4j view of the
        driver JVM, whose executor is local)."""
        with self._lock:
            self._memory_manager = jvm.org.apache.spark.SparkEnv.get().memoryManager()

    def detach(self) -> None:
        """Stop reading the JVM (before it goes away)."""
        with self._lock:
            self._memory_manager = None

    def _sample(self) -> dict[str, int]:
        py = jvm = 0
        for pid, comm in _tree(os.getpid()).items():
            if comm == b"java":
                jvm += _pss(pid)
            else:
                py += _pss(pid)
        with self._lock:
            mm = self._memory_manager
            blocks = mm.onHeapStorageMemoryUsed() if mm is not None else 0
        return {"python": py, "jvm_off_heap": max(jvm - self.heap_bytes, 0), "heap_blocks": blocks}

    def _run(self):
        while True:
            parts = self._sample()
            total = sum(parts.values())
            if total > self.peak:
                self.peak, self.at_peak = total, parts
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.detach()
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) clock ticks of all CPUs so far, from /proc/stat: on a
    virtual machine, steal is time the host ran other guests instead."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def host_record(master: str, shuffle_partitions: int, seed: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "shuffle_partitions": shuffle_partitions,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "load1_start": os.getloadavg()[0],
    }


def local_threads(master: str, nproc: int) -> int:
    """Worker threads a ``local[N]`` / ``local[*]`` / ``local`` master runs."""
    if master == "local":
        return 1
    inner = master[len("local["):-1].split(",")[0]
    return nproc if inner == "*" else int(inner)
