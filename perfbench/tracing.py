"""Traced-run instruments: spans, Spark event-log totals, stream progress.

All three read the program from the outside: spans wrap calls into the
layers' public functions, the event log is Spark's own record of every
job, stage and task, and the streaming listener is registered on the
session by the benchmark.  Nothing here hooks into ``chewdata_spark``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Spans:
    """In-memory spans ``(name, start, end, parent, workload)``; times are
    wall-clock seconds so they line up with Spark's event-log times."""

    def __init__(self, workload: str):
        self.workload = workload
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.items)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload}
        self.items.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def get(self, name: str) -> dict:
        return next(s for s in self.items if s["name"] == name)

    def seconds(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def self_times(self) -> dict[str, float]:
        """Per span name: total time minus the time of its child spans."""
        out: dict[str, float] = {}
        child = [0.0] * len(self.items)
        for s in self.items:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for i, s in enumerate(self.items):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.items):
                fh.write(json.dumps({"id": i, **s}) + "\n")


def read_event_log(log_dir: str) -> dict:
    """Jobs, tasks and SQL executions from the (uncompressed) Spark event
    log in ``log_dir``."""
    jobs, tasks, execs = [], [], []
    stage_sql: dict[int, object] = {}  # stage id -> its job's SQL execution id
    file_acc: set[int] = set()  # accumulators of the scans' "size of files read"
    acc_updates: list[tuple[int, int, int]] = []  # (execution, accumulator, bytes)

    def plan_metrics(node: dict) -> None:
        file_acc.update(m["accumulatorId"] for m in node["metrics"]
                        if m["name"] == "size of files read")
        for child in node["children"]:
            plan_metrics(child)

    # Spark 4 writes a rolling log: a directory of event files per app
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sql = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    jobs.append({"id": ev["Job ID"], "t": ev["Submission Time"] / 1000.0})
                    stage_sql.update((s, sql) for s in ev["Stage IDs"])
                elif kind.endswith("SQLExecutionStart"):
                    execs.append({"id": ev["executionId"], "t": ev["time"] / 1000.0})
                    plan_metrics(ev["sparkPlanInfo"])
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    plan_metrics(ev["sparkPlanInfo"])
                elif kind.endswith("DriverAccumUpdates"):
                    acc_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    tasks.append({
                        "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                        "sql": stage_sql.get(ev["Stage ID"]),
                        "launch": info["Launch Time"] / 1000.0,
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "failed": bool(info.get("Failed")) or
                        ev.get("Task End Reason", {}).get("Reason") != "Success",
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "in": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "sw": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    scan_bytes: dict[int, int] = {}
    for ex, acc, v in acc_updates:
        if acc in file_acc:
            scan_bytes[ex] = scan_bytes.get(ex, 0) + v
    for e in execs:
        e["scan_bytes"] = scan_bytes.get(e["id"], 0)
    return {"jobs": jobs, "tasks": tasks, "execs": execs}


def jobs_in(log: dict, start: float, end: float) -> int:
    """Jobs submitted inside a wall-clock window (passes run one at a time)."""
    return sum(1 for j in log["jobs"] if start <= j["t"] <= end)


def file_bytes_in(log: dict, start: float, end: float) -> int:
    """Bytes of input files read inside a wall-clock window.

    A task's ``Input Metrics`` also count reads of cached and locally
    checkpointed blocks, so inside SQL executions the file scans' own
    "size of files read" is summed instead.  Jobs outside any SQL
    execution (schema inference) read their files directly and count
    their tasks' input bytes.
    """
    scans = sum(e["scan_bytes"] for e in log["execs"] if start <= e["t"] <= end)
    direct = sum(t["in"] for t in log["tasks"]
                 if t["sql"] is None and start <= t["launch"] <= end)
    return scans + direct


def session_metrics(log: dict, start: float, end: float, cores: int) -> dict[str, float]:
    """Engine totals over the tasks launched inside ``[start, end]``."""
    ts = [t for t in log["tasks"] if start <= t["launch"] <= end]
    mb = 1024.0 * 1024.0
    by_stage: dict[tuple, list[float]] = {}
    for t in ts:
        by_stage.setdefault(t["stage"], []).append(t["dur"])
    # tasks shorter than a millisecond have no measurable skew
    skew = max((max(d) / max(statistics.median(d), 0.001) for d in by_stage.values()),
               default=0.0)
    task_s = sum(t["dur"] for t in ts)
    return {
        "session.task_s": task_s,
        "session.gc_s": sum(t["gc"] for t in ts),
        "session.core_util": task_s / max((end - start) * cores, 1e-9),
        "session.stages": float(len(by_stage)),
        "session.tasks": float(len(ts)),
        "session.shuffle_write_mb": sum(t["sw"] for t in ts) / mb,
        "session.shuffle_read_mb": sum(t["sr"] for t in ts) / mb,
        "session.spill_mb": sum(t["spill"] for t in ts) / mb,
        "session.input_mb": sum(t["in"] for t in ts) / mb,
        "session.output_mb": sum(t["out"] for t in ts) / mb,
        "session.failed_tasks": float(sum(t["failed"] for t in ts)),
        "session.max_task_skew": skew,
    }


def make_progress_listener(store: list):
    """A ``StreamingQueryListener`` appending one dict per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators or []
            store.append({
                "t": time.time(),
                "run": p.runId,
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in state),
                "state_bytes": sum(s.memoryUsedBytes for s in state),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def drains(progress: list[dict]) -> list[list[dict]]:
    """Micro-batches grouped by query run, in the order the runs started;
    each run of the stream config drains the backlog once."""
    runs: dict[str, list[dict]] = {}
    for b in progress:
        runs.setdefault(b["run"], []).append(b)
    return list(runs.values())


def latency_samples(progress: list[dict]) -> list[float]:
    """``triggerExecution`` seconds of the steady micro-batches: the first
    drain (the cold pass: JIT, codegen) and batch 0 of every drain (a
    fresh checkpoint and empty state) are one-offs and left out."""
    return [b["ms"].get("triggerExecution", 0) / 1000.0
            for d in drains(progress)[1:] for b in d if b["batch"] > 0]


def stream_metrics(batches: list[dict]) -> dict[str, float]:
    """``stream.*`` totals for the micro-batches of one drain."""
    ms = lambda k: sum(b["ms"].get(k, 0) for b in batches) / 1000.0  # noqa: E731
    last = max(batches, key=lambda b: b["batch"]) if batches else None
    return {
        "stream.batches": float(len(batches)),
        "stream.input_rows": float(sum(b["rows"] for b in batches)),
        "stream.add_batch_s": ms("addBatch"),
        "stream.planning_s": ms("queryPlanning"),
        "stream.commit_s": ms("walCommit") + ms("commitOffsets"),
        "stream.state_rows": float(last["state_rows"]) if last else 0.0,
        "stream.state_mb": last["state_bytes"] / (1024.0 * 1024.0) if last else 0.0,
    }
