"""Benchmark entry point.

    python3 perfbench/run.py --workload cube_build|curation_ops --seed N \
        --seconds S --trace 0|1

Run from the repository root. One process, one closed-loop client, master
``local[4]`` with 4 shuffle partitions. Prints every metric by name and unit,
then, as the last line of stdout, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Everything the run
writes goes under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY_MB = 2048
#: how long the run waits for the JVM and its workers to end before killing them
STOP_GRACE_S = 30.0

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "peak_memory_mb": "MB",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in BENCHMARK.json order."""
    import ledger
    import workloads

    return ["session.start_s", *ledger.LEDGER_KEYS,
            *workloads.build_layers(None, [], 0.0), "trace.overhead_s"]


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": f"{DRIVER_MEMORY_MB}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # A fixed, pre-touched heap, so the JVM's resident set does not move
        # with when G1 chose to grow the heap (that varied by 20% between
        # runs); measure.PeakMemory reads the heap held for stored blocks instead.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{DRIVER_MEMORY_MB}m -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # TaskEnd "Updated Blocks" then lists the RDD blocks each task pinned
            "spark.taskMetrics.trackUpdatedBlockStatuses": "true",
        })
    return conf


def _source_digest() -> str:
    """SHA-256 of the engine's and the benchmark's sources: untraced results
    are pooled only across runs of the same code."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(HERE, "reference.json")]
    for top in (os.path.join(ROOT, "hiss_cube_spark"), HERE):
        files += glob.glob(os.path.join(top, "**", "*.py"), recursive=True)
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _untraced_log(a) -> str:
    """The file each untraced run of this workload, duration and code
    appends its ``op_p50_s`` to."""
    return os.path.join(ROOT, ".perfbench_work", "results",
                        f"{a.workload}-{a.seconds:g}s-{_source_digest()}.jsonl")


def _untraced_median(a) -> tuple[float, int]:
    """(median op_p50_s, runs) over the untraced runs of the same workload,
    duration and code in this checkout; with none yet, one is run first."""
    path = _untraced_log(a)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(a.seed), "--seconds", f"{a.seconds:g}", "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
    with open(path) as f:
        vals = [json.loads(ln)["op_p50_s"] for ln in f if ln.strip()]
    return statistics.median(vals), len(vals)


def run(a, out) -> int:
    import ledger
    import measure
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    host = measure.host_record(MASTER, SHUFFLE_PARTITIONS, a.seed)
    threads = measure.local_threads(MASTER, host["nproc"])
    if threads > host["nproc"]:
        print(f"refusing {MASTER}: {threads} threads on {host['nproc']} cores", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    untraced = _untraced_median(a) if a.trace else None
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files under /tmp from any JVM (spark-submit's launcher too)
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    from hiss_cube_spark import get_spark

    fails = workloads.Failures()
    ticks0 = measure.cpu_ticks()
    with measure.PeakMemory(heap_bytes=DRIVER_MEMORY_MB << 20) as mem:
        t0 = time.perf_counter()
        spark = get_spark(master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
                          extra_conf=_spark_conf(work, bool(a.trace)))
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        mem.attach(spark.sparkContext._jvm)
        spans = ledger.Spans(spark.sparkContext)
        wl = workloads.WORKLOADS[a.workload](spark, spans, work, a.seed, fails)
        try:
            with spans.span("setup", "setup"):
                setup = wl.setup()
            setup_s = time.perf_counter() - t0
            timed_s = wl.measure(a.seconds)
        finally:
            mem.detach()
            spark.stop()
    host["load1_end"] = os.getloadavg()[0]
    total, steal = (b - a for a, b in zip(ticks0, measure.cpu_ticks()))
    host["cpu_steal_share"] = steal / total if total else 0.0

    e2e = {
        "setup_s": setup_s,
        "op_p50_s": _geomean_of_medians(wl.latency),
        "peak_memory_mb": mem.peak / (1 << 20),
    }
    record = {"workload": a.workload, "host": host, "setup": setup,
              "latency": {k: measure.summary(v) for k, v in wl.latency.items()},
              "timed_s": timed_s,
              "session_start_s": session_s, "detail": wl.detail(),
              "failures": fails.reasons, "end_to_end": e2e,
              "memory_at_peak_mb": {k: v / (1 << 20) for k, v in mem.at_peak.items()}}
    if a.trace:
        jobs = ledger.read_event_log(os.path.join(work, "eventlog"))
        layers = ledger.layer_metrics(spans, jobs, wl.ops, threads)
        layers.update(wl.layer_figures())
        layers["session.start_s"] = session_s
        layers["trace.overhead_s"] = e2e["op_p50_s"] - untraced[0]
        record["untraced_op_p50_s"] = {"median": untraced[0], "runs": untraced[1]}
        record["jobs"] = {"total": len(jobs), "outside_any_span": sum(
            1 for j in jobs.values() if not (j["group"] or "").startswith("pb-"))}
        metrics = {k: {"value": layers[k], "unit": _unit(k)} for k in per_layer_names()}
        spans_out = os.path.join(work_root, "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(spans_out), exist_ok=True)
        self_t = spans.self_times()
        with open(spans_out, "w") as f:
            json.dump({"record": record, "layers": layers, "spans": [
                {**s, "self_s": self_t[s["id"]]} for s in spans.spans], "jobs": jobs}, f, indent=1)
        record["spans_file"] = os.path.relpath(spans_out, ROOT)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        log = _untraced_log(a)
        os.makedirs(os.path.dirname(log), exist_ok=True)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": a.seed, "op_p50_s": e2e["op_p50_s"]}) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record, default=str), file=out)
    for k, m in metrics.items():
        print(f"{k:28s} {m['value']:.6g} {m['unit']}", file=out)
    print(json.dumps({"correct": fails.failed == 0, "attempted": fails.attempted,
                      "failed": fails.failed, "metrics": metrics}), file=out)
    out.flush()
    return 0


def _geomean_of_medians(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median. The kinds
    differ in cost, so a plain median over a round of them would report
    whichever kind happens to sit in the middle."""
    meds = [statistics.median(v) for v in by_kind.values() if v]
    return math.exp(statistics.fmean(math.log(m) for m in meds)) if meds else 0.0


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("_share") or key in (
            "spark.cpu_util", "spark.stage_skip_ratio", "storage.warehouse_bytes_per_input_byte"):
        return "ratio"
    return "count"


def _become_subreaper() -> None:
    """Have this process adopt its orphaned descendants (a Python worker
    whose JVM exited first), so that ``_stop_descendants`` can reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_descendants() -> None:
    """Stop the driver JVM and every other process this run started, and
    wait until each has ended. ``spark.stop()`` leaves the JVM running until
    the Python process exits, and it would then end after this one."""
    from pyspark import SparkContext

    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    import measure

    me, deadline, sig = os.getpid(), time.monotonic() + STOP_GRACE_S, signal.SIGTERM
    while True:
        while True:  # reap the ones that have ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        left = [pid for pid in measure._tree(me) if pid != me]
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hiss_cube_spark")):
        print(f"no engine package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    _become_subreaper()
    # a TERM unwinds through the finally below like an error does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # The JVM and the engine may print to stdout; keep the real stdout for
    # the result and send everything else to stderr.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    try:
        return run(a, out)
    finally:
        _stop_descendants()


if __name__ == "__main__":
    sys.exit(main())
