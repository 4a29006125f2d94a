"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The first run in a checkout builds the
engine's on-disk fixtures (under ``.perfbench_work/``); every run then
starts its clients (``client.py``) in a pinned environment:

* ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on (``nproc``);
* ``SPARK_GRAFT_CONF`` removed (its previous value is reported);
* ``SPARK_GRAFT_DRIVER_MEM`` = ``DRIVER_MEM`` (see there);
* ``PYTHONPATH`` leads with the repository root, so Python workers import
  the engine from any working directory;
* ``TMPDIR``, Spark's local dirs and warehouse inside ``.perfbench_work``.

An untraced run starts one measured client.  A traced run starts an
untraced client and then a traced one, and reports the traced ``wall_s``
against the untraced one as ``trace.overhead_frac``.
After each client has exited, its results are checked against DuckDB
here, so the oracle's work never counts in the client's metrics.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run report (effective Spark conf, set-up times, failures).  Exits
non-zero, without a result, when the engine package is missing or any
step fails.
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

import oracle  # noqa: E402
import workloads as W  # noqa: E402

CLIENT_TIMEOUT_S = 170
PREPARE_TIMEOUT_S = 600
# Under the engine's 8g default, G1 grows the heap against an 8 GB ceiling
# at moments that vary from run to run: peak_rss_mb of the same crawl pass
# read 1.6-3.5 GB (IQR 0.56 of the median) over ten seeds, so no memory
# regression could show.  At 1g it reads within 0.07, and these inputs
# (sf0.01, sf0.1) run without spilling.
DRIVER_MEM = "1g"


def pinned_env(work: str) -> tuple[dict, dict]:
    env = dict(os.environ)
    unset = env.pop("SPARK_GRAFT_CONF", None)
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    })
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    facts = {"SPARK_GRAFT_CPUS": ncpu, "SPARK_GRAFT_CONF_unset": unset,
             "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM}
    return env, facts


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def run_child(cmd: list[str], env: dict, cwd: str, timeout: float) -> int:
    """Run ``cmd`` in its own process group; on exit or timeout, stop every
    process left in the group (the JVM, Python workers) and wait for them."""
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=sys.stderr.fileno(),
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"error: {cmd[1]} exceeded {timeout:.0f} s", file=sys.stderr)
        rc = -1
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 5
        while _group_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
    proc.wait()
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sql_query_engine_spark", "__init__.py")):
        print("error: engine package sql_query_engine_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    w = W.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    env, facts = pinned_env(work)

    # every workload's fixtures, on the first run of any workload: a
    # checkout's first run is the one allowed to take long
    marker = os.path.join(work, "fixtures.prepared")
    if not os.path.exists(marker):
        rc = run_child([sys.executable, os.path.join(HERE, "client.py"), "--prepare",
                        "--work", work], env, work, PREPARE_TIMEOUT_S)
        if rc != 0:
            print(f"error: fixture preparation failed ({rc})", file=sys.stderr)
            return 1
        open(marker, "w").close()

    def measure(trace: int) -> dict | None:
        """One client, then the check of every result it left on disk."""
        result = os.path.join(work, f"result-{os.getpid()}.json")
        out_dir = os.path.join(work, "out", str(os.getpid()))
        cmd = [sys.executable, os.path.join(HERE, "client.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(trace), "--work", work, "--out", out_dir, "--result", result]
        try:
            rc = run_child(cmd, env, work, CLIENT_TIMEOUT_S)
            if rc != 0 or not os.path.exists(result):
                print(f"error: client failed ({rc})", file=sys.stderr)
                return None
            with open(result) as f:
                out = json.load(f)
            out["failures"] += oracle.check(out["checks"], w.data_dir, positional=w is W.ADHOC)
            return out
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
            if os.path.exists(result):
                os.remove(result)

    runs = [measure(0)]
    if args.trace and runs[0] is not None:
        runs.append(measure(1))
    out = runs[-1]
    if out is None:
        return 1
    if args.trace:
        out["metrics"]["trace.overhead_frac"] = (out["wall_s"] / runs[0]["wall_s"] - 1.0, "ratio")
    attempted = sum(r["attempted"] for r in runs)
    failures = [f for r in runs for f in r["failures"]]
    report = dict(out["report"], workload=args.workload, seed=args.seed, trace=args.trace,
                  env=facts, setup=out["setup"], failed_frac=len(failures) / max(1, attempted),
                  failures=failures[:20])
    report["metrics"] = {k: f"{v:.6g} {u}" for k, (v, u) in out["metrics"].items()}
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
