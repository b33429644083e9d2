"""Stopping a workload process leaves none of its process tree behind.

    python3 -m pytest perfbench/test_run.py -q

The tree mimics the workload's: a session leader whose child moves to a
process group of its own, as pyspark's daemon does.  The check runs in a
fresh interpreter, because it makes that interpreter a child subreaper.
"""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

SCRIPT = f"""
import os, signal, subprocess, sys, time
sys.path.insert(0, {HERE!r})
import run

run.become_subreaper()
leader = subprocess.Popen([sys.executable, "-c",
    "import subprocess, time; subprocess.Popen(['sleep', '60'], process_group=0); time.sleep(60)"],
    start_new_session=True)
sid = leader.pid
while len(run.session_members(sid)) < 2:
    time.sleep(0.05)
os.killpg(sid, signal.SIGKILL)  # the grandchild's group survives this
leader.wait()
left = [p for p, _, st in run.session_members(sid) if st != "Z"]
assert left, "the grandchild should outlive its parent's group"
run.reap(lambda: run.session_members(sid), time.monotonic() + 10)
assert run.session_members(sid) == []  # zombies included: each was reaped
print("ok")
"""


def test_reap_stops_every_session_member():
    out = subprocess.run([sys.executable, "-c", SCRIPT], capture_output=True, text=True,
                         timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
