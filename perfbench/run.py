"""The benchmark: seeded workloads run end to end through the program.

    python3 perfbench/run.py --workload etl_analytics --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, a table

Run from the root of a checkout.  One run:

1. generates the workload's inputs from ``--seed`` (``gen.py``) and
   evaluates the DuckDB oracles on them, outside any timed section;
2. starts the workload process (``worker.py``): fresh Python, fresh
   Spark session, a cold pass, then as many warm passes as fit in
   ``--seconds`` (at least one).  Its set-up is timed from spawn to
   its first finished job, and its process tree (driver JVM and Python
   workers) is sampled through ``/proc`` for peak resident memory;
3. checks every pass's outputs (``checks.py``) and prints one JSON
   object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see ``BENCHMARK.json``).  All files go under
``.perfbench/`` in the checkout; a run's working files are removed at
the end, except the traced run's spans and layer summary, which are
kept in ``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# workload -> (its input sets, the set its DuckDB oracles read)
WORKLOADS = {
    "etl_analytics": (("etl", "tpch"), "tpch"),
    "curate_stream": (("sa", "stream"), "sa"),
}
# a run must end within 180 s.  An untraced worker takes about 50 s on
# a 4-core host; a traced one bounds its own length (worker.DRAIN_UNTIL_S),
# taking 60-135 s, so this is a backstop for a hung worker
CHILD_TIMEOUT_S = 170
SAMPLE_S = 0.1  # memory sampling period
# driver heap for every workload (the program's own SPARK_GRAFT_DRIVER_MEM
# knob): the inputs need far less than the default of 45% of host memory,
# and the larger the heap, the more its high-water mark, and so peak
# memory, varies from run to run; 1 GiB slows the warm passes with GC
DRIVER_MEM = "2g"


def _stat(pid: int) -> list[str]:
    """The fields of ``/proc/<pid>/stat`` after the command name."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _procs() -> dict[int, tuple[int, int, str]]:
    """Every process, zombies included: pid -> (parent pid, session, state)."""
    out = {}
    for e in os.listdir("/proc"):
        if e.isdigit():
            try:
                f = _stat(int(e))
                out[int(e)] = (int(f[1]), int(f[3]), f[0])
            except (OSError, IndexError, ValueError):
                continue  # the process ended between listing and reading
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for p, (ppid, _, _) in _procs().items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def session_members(sid: int) -> list[tuple[int, int, str]]:
    """(pid, parent pid, state) of every process of session ``sid``."""
    return [(p, ppid, st) for p, (ppid, s, st) in _procs().items() if s == sid]


def become_subreaper() -> None:
    """Have the processes orphaned below this one (the JVM, pyspark's
    daemon and workers, once their parent has exited) reparented here
    instead of to init, so that ``reap`` can wait for every one of them."""
    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap(members, deadline: float) -> None:
    """Kill the processes ``members()`` lists and wait until each has
    ended and, where it is a child of this process, been reaped."""
    me = os.getpid()
    while True:
        procs = members()
        if not procs:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {procs}")
        for pid, ppid, state in procs:
            try:
                if state != "Z":
                    os.kill(pid, signal.SIGKILL)
                if ppid == me:
                    os.waitpid(pid, os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.05)


def _exe(pid: int) -> str:
    return os.readlink(f"/proc/{pid}/exe")


def tree_mem_bytes(pids: list[int]) -> int:
    """Resident memory of a process tree, counting shared pages once.

    The JVM shares no pages with the rest of the tree except through the
    short-lived children it forks to spawn a program (``chmod`` for
    Hadoop's local file system, pyspark's daemon): until they exec, those
    run the java binary on the JVM's own memory, so they are skipped and
    the JVM is read from ``statm``.  Python processes (the driver,
    pyspark's daemon and its forked workers) share pages, so they count
    their proportional set size.  ``smaps_rollup`` is not read for the
    JVM: on a multi-GB address space it costs ~20 ms and holds the JVM's
    mmap lock while it runs.
    """
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            if os.path.basename(_exe(p)) == "java":
                if os.path.basename(_exe(int(_stat(p)[1]))) != "java":
                    with open(f"/proc/{p}/statm") as fh:
                        total += int(fh.read().split()[1]) * page
                continue
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass  # the process ended between listing and reading
    return total


class Child:
    """A worker process in a session of its own, with its READY time
    and the peak resident memory of its process tree."""

    def __init__(self, args: list[str], env: dict, cwd: str):
        self.spawned = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            stdout=subprocess.PIPE, text=True, env=env, cwd=cwd, start_new_session=True)
        self.ready: float | None = None
        self.peak_mem = 0
        self._done = threading.Event()
        self._threads = [threading.Thread(target=self._read, daemon=True),
                         threading.Thread(target=self._sample, daemon=True)]
        for t in self._threads:
            t.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("READY ") and self.ready is None:
                self.ready = float(line.split()[1])

    def _sample(self) -> None:
        # listing the tree reads every /proc/<pid>/stat: once a second
        pids, listed = [], 0.0
        while not self._done.is_set():
            if time.monotonic() - listed >= 1.0:
                pids, listed = descendants(self.proc.pid), time.monotonic()
            self.peak_mem = max(self.peak_mem, tree_mem_bytes(pids))
            self._done.wait(SAMPLE_S)

    def wait(self, timeout: float) -> int:
        try:
            return self.proc.wait(timeout=timeout)
        finally:
            self.stop()

    def stop(self) -> None:
        """Kill whatever is left of the worker's session and wait until
        every member has ended.  A session, not a process group: pyspark's
        daemon moves itself and the Python workers it forks into a group
        of their own."""
        sid = self.proc.pid
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        try:
            reap(lambda: session_members(sid), time.monotonic() + 30)
        finally:
            self._done.set()
            for t in self._threads:
                t.join()

    @property
    def setup_s(self) -> float:
        if self.ready is None:
            raise RuntimeError("worker never finished set-up")
        return self.ready - self.spawned


def _oracles(workload: str, inputs: str) -> dict:
    import checks
    import worker

    names = worker.QUERY_MIX if workload == "etl_analytics" else ["curate_config_decontam_sa"]
    return checks.oracle_rows(os.path.join(inputs, WORKLOADS[workload][1]), list(names))


def prepare(pool, workload: str, inputs: str, seed: int) -> tuple[dict, dict]:
    """Generate the input sets in parallel; the oracles start as soon as
    the set they read is written."""
    import gen

    sets, oracle_set = WORKLOADS[workload]
    futs = {s: pool.submit(gen.generate, inputs, seed, [s]) for s in sets}
    futs[oracle_set].result()
    oracles = pool.submit(_oracles, workload, inputs)
    return {s: f.result()[s] for s, f in futs.items()}, oracles.result()


def check_tasks(pass_: dict, manifests: dict, expected: dict) -> list:
    """(function, args) pairs that together check one pass, one per part."""
    import checks

    d = pass_["dir"]

    def task(part: str) -> tuple:
        if part == "etl":
            return checks.check_etl, (d, manifests["etl"])
        if part == "sa":
            return checks.check_sa, (d, expected["curate_config_decontam_sa"], manifests["sa"])
        if part == "stream":
            return checks.check_stream, (d, manifests["stream"])
        return checks.check_queries, (d, {part: expected[part]})

    return [task(p) for p in pass_["parts"]]


def check_problems(futures: list) -> list[str]:
    """The problems that one pass's checks found.  A check that raises,
    as it may on malformed output, counts as a problem of the pass."""
    problems = []
    for f in futures:
        try:
            problems += f.result()
        except Exception as exc:
            problems.append(f"output check raised {type(exc).__name__}: {exc}")
    return problems


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.update({
        "PERFBENCH_WORK": work,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        print(f"[perfbench] {workload}: {name} done at {time.perf_counter() - t0:.1f} s",
              file=sys.stderr, flush=True)

    # helper processes for the untimed work: generation, oracles, checks.
    # Forked, not spawned: a fork pool starts all its workers at the first
    # submit, before this process runs any thread, and it needs no
    # resource-tracker process, which would outlive the run
    pool = ProcessPoolExecutor(max_workers=min(4, int(env["SPARK_GRAFT_CPUS"])),
                               mp_context=multiprocessing.get_context("fork"))
    try:
        inputs = os.path.join(work, "inputs")
        manifests, expected = prepare(pool, workload, inputs, seed)
        phase("inputs and oracles")
        result_file = os.path.join(work, "result.json")
        main = Child(["--workload", workload, "--inputs", inputs,
                      "--out", os.path.join(work, "out"), "--seconds", str(seconds),
                      "--trace", str(int(trace)), "--result", result_file], env, work)
        try:
            code = main.wait(CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"workload process ran over {CHILD_TIMEOUT_S} s") from None
        if code != 0:
            raise RuntimeError(f"workload process exited with {code}")
        phase("workload process")
        with open(result_file) as fh:
            res = json.load(fh)

        failed, problems = 0, []
        futs = {p["k"]: [pool.submit(fn, *args)
                         for fn, args in check_tasks(p, manifests, expected)]
                for p in res["passes"] if not p["error"]}
        for p in res["passes"]:
            bad = [p["error"]] if p["error"] else check_problems(futs[p["k"]])
            failed += bool(bad)
            problems += [f"pass {p['k']} ({p['kind']}): {b}" for b in bad]
        phase("output checks; passes " + ", ".join(
            f"{p['kind']} {p['s']:.2f} s" for p in res["passes"]))
        for msg in problems:
            print(msg, file=sys.stderr)
        warm = [p["s"] for p in res["passes"] if p["kind"] == "warm"]
        spec = benchmark_spec()
        if trace:
            # a layer the workload does not use reports 0
            metrics = {m["name"]: (res["layers"].get(m["name"], 0.0), m["unit"])
                       for m in spec["per_layer"]}
            keep = os.path.join(base, "trace")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(keep, f"{workload}-s{seed}.spans.jsonl"))
            with open(os.path.join(keep, f"{workload}-s{seed}.self_s.json"), "w") as fh:
                json.dump(res["self_s"], fh, indent=1, sort_keys=True)
        else:
            e2e = {
                "setup_s": main.setup_s,
                "cold_run_s": res["passes"][0]["s"],
                "run_s": statistics.median(warm),
                "peak_rss_mb": main.peak_mem / 2**20,
            }
            metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
        attempted = len(res["passes"])
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        pool.shutdown(cancel_futures=True)
        shutil.rmtree(work, ignore_errors=True)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description="sparkchew end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    if not os.path.isdir(os.path.join(ROOT, "chewdata_spark")):
        print(f"no chewdata_spark package next to {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {n: run_one(n, a.seed, a.seconds, bool(a.trace)) for n in names}
    if a.workload != "all":
        print(json.dumps(results[a.workload]))
        return 0
    for n, r in results.items():
        print(f"{n}: failed_frac {r['failed'] / r['attempted']:.3f} "
              f"({r['failed']}/{r['attempted']} passes)")
        for k, m in r["metrics"].items():
            print(f"  {k:36s} {m['value']:12.4f} {m['unit']}")
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
