#!/usr/bin/env python3
"""Crawl -> index -> search benchmark.

Run from the repository root:

  python3 perfbench/run.py --workload crawl_payload --seed 1 --seconds 8 --trace 0

Workloads (see ``workload.WORKLOADS``): ``crawl_payload`` and
``search_serve``. Each run starts Spark on ``local[nproc]`` in a child
process, crawls the synthetic web made from ``--seed``, indexes and ranks
the crawl and serves a closed loop of search requests for at least
``--seconds``, checking every output against an oracle. The last line on
stdout is one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the ``end_to_end`` metrics of BENCHMARK.json for ``--trace 0`` and the
``per_layer`` ones for ``--trace 1``. A traced run also prints a per-layer
self-time table above that line and keeps its spans in
``.perfbench/traces/``.

This process owns what the run may not leave to the child: a hard time
limit (a hung JVM counts as a failed operation, and the whole process group
is killed), peak memory sampling of the JVM and Spark's Python workers, and
removal of the run's state, scratch and Spark local directories, all under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402

# sher_look_spark.session.get_spark's default driver GC options
SESSION_GC_OPTS = "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 -XX:+UseG1GC -XX:G1HeapRegionSize=16m"
# One run, clean-up included, must end within 180 s.
CHILD_LIMIT_S = 160.0
SAMPLE_EVERY_S = 0.5


def driver_memory_mb() -> int:
    """A quarter of the memory available at launch, at most 1 GiB: the
    workloads need far less, and a larger heap only makes peak RSS depend
    on when the collector happens to run."""
    with open("/proc/meminfo") as fh:
        avail_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemAvailable:"))
    return min(1024, max(512, avail_kb // 1024 // 4 // 256 * 256))


def stop_group(child: subprocess.Popen, wait_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, the child's process group; wait until it is
    empty. The child leads the group and is reaped here, so that it does not
    stay in the group as a zombie."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s / 2
        while time.monotonic() < deadline:
            child.poll()
            try:
                os.killpg(child.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_child(cmd: list[str], cwd: str, env: dict) -> tuple[int, bool, dict[str, float]]:
    """Run ``cmd`` in its own process group under the time limit; return
    its exit code, whether it was killed for time, and the peak memory (MB)
    of the JVM and of Spark's Python workers. The group is stopped on every
    way out, SIGTERM to this process included.

    The JVM's figure is its kernel-kept peak RSS (VmHWM). A fork of the JVM
    reads as the JVM (same command line, inherited VmHWM) until it execs, so
    only a JVM whose parent is not one counts. The workers' figure is the
    largest sum of their Pss over the samples: Pss splits the pages that
    pyspark.daemon's forked workers share instead of counting them once per
    worker."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, start_new_session=True)
    jvm_hwm: dict[int, float] = {}
    workers_peak = 0.0
    timed_out = False
    t0 = time.monotonic()
    try:
        while child.poll() is None:
            parents = procstat.tree(child.pid)
            cls = {pid: procstat.classify(pid) for pid in parents}
            workers = 0.0
            for pid, ppid in parents.items():
                if cls[pid] == "jvm" and cls.get(ppid) != "jvm":
                    jvm_hwm[pid] = max(procstat.peak_rss_mb(pid), jvm_hwm.get(pid, 0.0))
                elif cls[pid] == "pyworker":
                    workers += procstat.pss_mb(pid)
            workers_peak = max(workers_peak, workers)
            if time.monotonic() - t0 > CHILD_LIMIT_S:
                timed_out = True
                print(f"perfbench: run exceeded {CHILD_LIMIT_S:.0f} s, killing it", file=sys.stderr)
                break
            time.sleep(SAMPLE_EVERY_S)
    finally:
        stop_group(child)
        child.wait()
    return child.returncode, timed_out, {"jvm": sum(jvm_hwm.values()), "pyworker": workers_peak}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    needed = [spec_path, os.path.join(ROOT, "sher_look_spark", "__init__.py"),
              os.path.join(ROOT, "scripts", "serve_http.py")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "state")}
    for d in dirs.values():
        os.makedirs(d)
    for d in ("results", "traces"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    out_path = os.path.join(run_dir, "result.json")
    ref_path = os.path.join(base, "results", f"{args.workload}.json")
    mem_mb = driver_memory_mb()
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        SPARK_DRIVER_MEM=f"{mem_mb}m",
        # the session's own GC options plus a fixed-size heap: with a
        # growing heap the JVM's peak RSS varied 1.1-2.2 GB between runs
        SPARK_GRAFT_JVM_OPTS=f"{SESSION_GC_OPTS} -Xms{mem_mb}m",
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        MALLOC_ARENA_MAX="2",
        PYTHONHASHSEED="0",  # same set and dict orders in every run
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out_path, "--state", dirs["state"], "--untraced-ref", ref_path,
        "--trace-out", os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
    ]
    busy = procstat.busy_cores()
    print(f"perfbench: {args.workload} seed {args.seed}: {len(os.sched_getaffinity(0))} cores, "
          f"{busy:.1f} busy at launch, driver memory {mem_mb} MB", file=sys.stderr)

    returncode, timed_out, peak_split = 1, False, {"jvm": 0.0, "pyworker": 0.0}
    try:
        returncode, timed_out, peak_split = run_child(cmd, run_dir, env)
        with open(out_path) as fh:
            doc = json.load(fh)
    except (OSError, ValueError):
        doc = {"attempted": 0, "failed": 0, "metrics": {}, "context": {}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed = doc["attempted"], doc["failed"]
    if timed_out or returncode != 0:
        # the operation in flight hung or raised
        attempted, failed = attempted + 1, failed + 1
    got = dict(doc["metrics"])
    got["peak_rss_mb"] = {"value": sum(peak_split.values()), "unit": "MB"}
    metrics = {n: got[n] for n in names if n in got}
    absent = [n for n in names if n not in got]
    if absent:
        print(f"perfbench: metrics not measured: {absent}", file=sys.stderr)
    correct = failed == 0 and not absent
    doc["metrics"] = got
    doc["context"]["busy_cores_at_launch"] = busy
    doc["context"]["peak_rss_mb"] = peak_split
    if correct and not args.trace:
        with open(ref_path, "w") as fh:
            json.dump(doc, fh)
    print("perfbench: context " + json.dumps(
        {k: v for k, v in doc["context"].items() if k != "layer_table"}), file=sys.stderr)

    for line in doc["context"].get("layer_table", []):
        print(line)
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
