"""The event-log reader counts input-file bytes, not cached-block reads.

    python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


def _task(stage: int, launch_ms: int, bytes_read: int) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": launch_ms + 10},
            "Task End Reason": {"Reason": "Success"},
            "Task Metrics": {"Input Metrics": {"Bytes Read": bytes_read}}}


def _scan(acc: int) -> dict:
    return {"nodeName": "Scan json ", "children": [],
            "metrics": [{"name": "size of files read", "accumulatorId": acc}]}


def test_file_bytes_leave_out_cached_reads(tmp_path):
    events = [
        # schema inference: a job outside any SQL execution reads 100 bytes
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {}},
        _task(0, 1000, 100),
        # a scan of the same 100-byte file inside execution 0
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0, "time": 2000,
         "sparkPlanInfo": {"nodeName": "Project", "metrics": [], "children": [_scan(7)]}},
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[7, 100]]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1], "Properties": {"spark.sql.execution.id": "0"}},
        _task(1, 2000, 100),
        # execution 1 reads a cached copy: 500 bytes of blocks, no file scan
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 1, "time": 3000,
         "sparkPlanInfo": {"nodeName": "InMemoryTableScan", "metrics": [], "children": []}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Stage IDs": [2], "Properties": {"spark.sql.execution.id": "1"}},
        _task(2, 3000, 500),
    ]
    app = tmp_path / "eventlog_v2_app"
    app.mkdir()
    (app / "events_1_app").write_text("".join(json.dumps(e) + "\n" for e in events))
    log = tracing.read_event_log(str(tmp_path))
    assert tracing.file_bytes_in(log, 0, 10) == 200
    assert sum(t["in"] for t in log["tasks"]) == 700
