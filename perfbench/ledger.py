"""Spans recorded around the benchmark's calls into the engine, and the
per-layer ledger read back from Spark's own event log.

Every span sets the Spark job group to its own id, so each job the engine
fires lands on the innermost span open at the time. The traced run enables
``spark.eventLog``; after the session stops, ``parse_event_log`` joins
JobStart (job group), StageCompleted and TaskEnd (metrics and SQL
accumulables) back onto the spans and ``layer_metrics`` sums them per
operation.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

#: Spark 4.1 PythonSQLMetrics accumulables -> ledger key. Timings are
#: millisecond SQL metrics, sizes are bytes. Starting a worker process and
#: initializing it are one layer here: a reused worker has no start time.
PYTHON_ACCUMS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.start_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
MB = 1 << 20


class Spans:
    """In-memory span tree: (id, name, kind, parent, start, end).

    ``kind`` is ``op`` for one timed or checked operation, ``construct`` for
    calls that only build DataFrames, and ``action`` for calls that run
    Spark work. Spans are kept in memory and written once, at the end."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "kind": kind,
               "parent": self._open[-1] if self._open else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._tag(self._open[-1] if self._open else None)

    def _tag(self, sid):
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{sid}", self.spans[sid]["name"])

    def root_of(self, sid: int) -> int:
        while self.spans[sid]["parent"] is not None:
            sid = self.spans[sid]["parent"]
        return sid

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        out = {}
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]]
            out[s["id"]] = (s["end"] - s["start"]) - interval_union(kids)
        return out


def interval_union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _event_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir`` (plain or rolling layout)."""
    out = []
    for dirpath, _, files in os.walk(log_dir):
        out += [os.path.join(dirpath, f) for f in sorted(files)
                if not f.startswith(("appstatus_", ".")) and not f.endswith(".crc")]
    return sorted(out)


def parse_event_log(lines) -> dict:
    """Jobs (group, start, end, planned stages), stages run, and per-job
    task sums from event-log JSON lines."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            stages = ev.get("Stage IDs") or [s["Stage ID"] for s in ev.get("Stage Infos", [])]
            jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                         "start": ev["Submission Time"] / 1e3, "end": None,
                         "planned": len(stages), "ran": set(), "sums": {}}
            for st in stages:
                stage_job[st] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            st = ev["Stage Info"]["Stage ID"]
            if st in stage_job:
                jobs[stage_job[st]]["ran"].add(st)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is not None:
                _add_task(jobs[jid]["sums"], ev)
    for j in jobs.values():
        j["ran"] = len(j["ran"])
    return jobs


def _add_task(acc: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    pinned = sum(
        (b["Status"].get("Memory Size", 0) + b["Status"].get("Disk Size", 0))
        for b in m.get("Updated Blocks") or []
        if str(b.get("Block ID", "")).startswith("rdd_")
    )
    vals = {
        "spark.tasks": 1,
        "spark.task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "spark.task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "spark.task_deser_s": m.get("Executor Deserialize Time", 0) / 1e3,
        "spark.gc_s": m.get("JVM GC Time", 0) / 1e3,
        "spark.shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        "spark.shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "spark.spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
        "spark.input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
        "spark.output_mb": (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB,
        "spark.result_mb": m.get("Result Size", 0) / MB,
        "spark.pinned_mb": pinned / MB,
    }
    for a in (ev.get("Task Info") or {}).get("Accumulables") or []:
        key = PYTHON_ACCUMS.get(a.get("Name"))
        if key is not None:
            try:
                v = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            vals[key] = vals.get(key, 0.0) + v / (1e3 if key.endswith("_s") else MB)
    for k, v in vals.items():
        acc[k] = acc.get(k, 0.0) + v


#: task sums charged to operations (per-op means in the ledger)
_TASK_SUMS = (
    "spark.tasks", "spark.task_cpu_s", "spark.task_run_s", "spark.task_deser_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.input_mb", "spark.output_mb", "spark.result_mb", "spark.pinned_mb",
    "python.start_s", "python.run_s", "python.sent_mb", "python.returned_mb",
)
LEDGER_KEYS = (
    "op.construct_s", "op.action_s",
    "spark.jobs_construct", "spark.jobs_action", "spark.job_union_s", "spark.driver_gap_s",
    "spark.tasks", "spark.task_cpu_s", "spark.task_run_s", "spark.task_deser_s",
    "spark.gc_share", "spark.cpu_util",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.input_mb", "spark.output_mb", "spark.result_mb",
    "spark.pinned_mb", "spark.stage_skip_ratio",
    "python.start_s", "python.run_s", "python.sent_mb", "python.returned_mb",
)


def layer_metrics(spans: Spans, jobs: dict, op_ids: list[int], cores: int) -> dict[str, float]:
    """Per-operation means over ``op_ids`` (top-level op spans) of every
    ledger key; each job is charged to the op its span belongs to."""
    by_op = {sid: [] for sid in op_ids}
    for j in jobs.values():
        g = j["group"]
        if not g or not g.startswith("pb-"):
            continue
        sid = int(g[3:])
        if sid >= len(spans.spans):
            continue
        root = spans.root_of(sid)
        if root in by_op:
            by_op[root].append((spans.spans[sid]["kind"], j))
    tot = {k: 0.0 for k in (*LEDGER_KEYS, "spark.gc_s")}
    planned = ran = 0
    wall_total = 0.0
    for sid in op_ids:
        op = spans.spans[sid]
        wall = op["end"] - op["start"]
        wall_total += wall
        for c in spans.spans:
            if c["parent"] == sid and c["kind"] in ("construct", "action"):
                tot[f"op.{c['kind']}_s"] += c["end"] - c["start"]
        union = interval_union(
            [(j["start"], j["end"]) for _, j in by_op[sid] if j["end"] is not None]
        )
        tot["spark.job_union_s"] += union
        tot["spark.driver_gap_s"] += wall - union
        for kind, j in by_op[sid]:
            tot["spark.jobs_construct" if kind == "construct" else "spark.jobs_action"] += 1
            planned += j["planned"]
            ran += j["ran"]
            for k in (*_TASK_SUMS, "spark.gc_s"):
                tot[k] += j["sums"].get(k, 0.0)
    n = max(len(op_ids), 1)
    out = {k: tot[k] / n for k in LEDGER_KEYS}
    # GC as a share of task time: a short op often sees no collection at all
    out["spark.gc_share"] = tot["spark.gc_s"] / tot["spark.task_run_s"] if tot["spark.task_run_s"] else 0.0
    out["spark.cpu_util"] = tot["spark.task_cpu_s"] / (wall_total * cores) if wall_total else 0.0
    out["spark.stage_skip_ratio"] = (planned - ran) / planned if planned else 0.0
    return out


def read_event_log(log_dir: str) -> dict:
    lines = []
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            lines += [ln for ln in f if ln.strip()]
    return parse_event_log(lines)
