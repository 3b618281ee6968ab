"""Run one workload of the repo benchmark and print its metrics.

    python3 perfbench/run.py --workload sql_oltp --seed 1 --seconds 18 --trace 0

Workloads (BENCHMARK.json says why each was chosen): ``sql_oltp``,
``etl_batch`` and ``stream_ingest``. Each run:

1. makes a fresh run directory under ``.perfbench/`` in the checkout,
   with its own TMPDIR, Spark local dirs and warehouse, so no run sees
   state an earlier run left behind;
2. writes the seeded input tables there (``datagen.py``);
3. starts ``worker.py`` in a new process group and waits for it; set-up
   time is counted from that process's start;
4. stops every process left in the group, removes the run directory,
   and prints two JSON lines: the run's details (provenance, the tail's
   percentile and sample count, error rate, ...) and, last, the result
   ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
   the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
   ones.

The exit code is 0 when a result was printed, whether or not it is
correct; any failure to produce one exits non-zero and prints no result.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import WORKLOADS  # noqa: E402

RUNS_DIR = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 165


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def _group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes in process group ``pgid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            out.append(int(d))
    return out


def stop_group(pgid: int, grace_s: float) -> None:
    """Give the processes left in the group ``grace_s`` to end (the JVM
    runs its shutdown hooks after the worker exits), then terminate
    them, and wait until none is left."""
    t0 = time.time()
    while _group_members(pgid):
        waited = time.time() - t0
        if waited > grace_s + 20:
            raise RuntimeError(f"processes of group {pgid} did not stop")
        if waited > grace_s:
            sig = signal.SIGTERM if waited < grace_s + 5 else signal.SIGKILL
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        time.sleep(0.05)


def source_digest() -> str:
    """sha256 over the engine's and the benchmark's Python sources, so a
    result names the code it measured even outside a git checkout."""
    h = hashlib.sha256()
    for top in ("etl_lealone_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_lealone_spark", "session.py")):
        print("the engine package etl_lealone_spark is not in this checkout", file=sys.stderr)
        return 2

    from perfbench.datagen import write_tables

    run_dir = os.path.join(
        RUNS_DIR, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "warehouse", "local", "data", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    out_path = os.path.join(run_dir, "result.json")
    proc = None
    grace_s = 15.0
    try:
        write_tables(dirs["data"], args.seed)
        env = dict(
            os.environ,
            TMPDIR=dirs["tmp"],
            SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
            SPARK_LOCAL_DIRS=dirs["local"],
            # Spark's Python workers import the engine by module path
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable,
            TZ="UTC",
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        )
        cmd = [
            sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf-dir", dirs["data"], "--event-log-dir", dirs["eventlog"],
            "--cores", str(cores()), "--out", out_path,
        ]
        t0 = time.time()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
            stdin=subprocess.DEVNULL, stdout=sys.stderr, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S - (t0 - T_START))
        except subprocess.TimeoutExpired:
            print("worker timed out", file=sys.stderr)
            rc, grace_s = -1, 0.0
        if rc != 0 or not os.path.exists(out_path):
            print(f"worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out_path) as f:
            res = json.load(f)
    finally:
        if proc is not None:
            stop_group(proc.pid, grace_s)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass

    res["provenance"].update(git_commit=git_commit(), source_digest=source_digest())
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sf_dir": "generated sf0.1 (perfbench/datagen.py)",
        "provenance": res["provenance"], "detail": res["detail"],
    }
    if "predictions" in res:
        detail["predictions"] = res["predictions"]
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
