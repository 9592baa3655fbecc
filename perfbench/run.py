"""spark-graft benchmark: one workload, one seed, one fresh process.

Run from the root of a checkout:

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Workloads: ``headline`` (16 ops at sf0.01, mostly fixed cost) and
``store_roundtrip`` (the store lifecycle against a throwaway PostgreSQL).
With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics; with ``--trace 1`` the run also writes Spark's event
log and reports the per-layer metrics, after printing the per-op layer
table. The run exits 1 when an output check fails and 2 when it cannot run
at all.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: end-to-end metrics (--trace 0) with their units
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_geomean_s": "s"}
RUN_TIMEOUT_S = 170
#: fixed-path artefacts the engine writes outside the run directory
PROGRAM_ARTEFACTS = ("/tmp/n2k_*", "/tmp/n2kupdate_spark_*")


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getsid(int(d)) == sid:
                    pids.append(int(d))
            except OSError:
                pass
    return pids


def _reap(sid: int) -> None:
    """Give whatever the worker's session left running a few seconds to exit,
    then kill it, and wait until it is gone."""
    deadline = time.time() + 5
    while _session_pids(sid) and time.time() < deadline:
        time.sleep(0.1)
    deadline = time.time() + 10
    while (pids := _session_pids(sid)) and time.time() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.1)


def _stop_left_server(run_dir: str) -> None:
    """Stop the PostgreSQL server of a worker that was killed before it could
    (the server runs in a session of its own), and remove its directory."""
    marker = os.path.join(run_dir, "pg_data_dir")
    if not os.path.exists(marker):
        return
    with open(marker) as fh:
        data = fh.read()
    os.remove(marker)
    if os.path.exists(os.path.join(data, "postmaster.pid")):
        pg_ctl = shutil.which("pg_ctl") or "/usr/local/bin/pg_ctl"
        subprocess.run(["su", "postgres", "-c", f"{pg_ctl} -D {data} -m immediate -w stop"],
                       capture_output=True, cwd="/", timeout=60)
    shutil.rmtree(os.path.dirname(data), ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "n2kupdate_spark", "__init__.py")):
        print("perfbench: run from the root of a spark-graft checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(root, ".perfbench_run")
    # every run starts from an empty Spark scratch space
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    artefacts = sorted(p for pat in PROGRAM_ARTEFACTS for p in glob.glob(pat))

    t = time.time()
    try:
        sf_dir = inputs.check_base()
    except inputs.InputError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    data_check_s = time.time() - t

    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # the JVM's own temp files (native libraries, artifact dirs) too
        SPARK_SUBMIT_OPTS=" ".join(filter(None, [
            os.environ.get("SPARK_SUBMIT_OPTS"), "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        ])),
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    )
    out = os.path.join(run_dir, f"result-{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf-dir", sf_dir, "--run-dir", run_dir, "--t0", repr(T0),
        "--data-check-s", repr(data_check_s), "--out", out,
    ]
    proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S - (time.time() - T0))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap(proc.pid)
        proc.wait()
        _stop_left_server(run_dir)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 2
    with open(out) as fh:
        res = json.load(fh)

    e2e, samples = res["e2e"], res["samples"]
    print(f"workload={args.workload} seed={args.seed} cpus={cpus} passes={res['passes']}")
    print(f"program artefacts present at start: {artefacts or 'none'}")
    for name, unit in (*E2E_UNITS.items(), ("peak_rss_mb", "MB"), ("error_rate", "ratio")):
        print(f"  {name:14s} {e2e[name]:12.4f} {unit:5s} n={samples[name]}")
    print("  set-up parts: " + " ".join(f"{k}={v:.3f}" for k, v in res["layers_in"].items()))
    if res["unstable_ops"]:
        print(f"  checked by row count only (unstable hash): {res['unstable_ops']}")
    for what, msg in res["failures"].items():
        print(f"  FAILED {what}: {msg.strip().splitlines()[-1]}")
    if args.trace:
        table = res["op_table"]
        cols = list(table[0]) if table else []
        print("\n" + " | ".join(cols))
        for row in table:
            print(" | ".join(f"{v:.3f}" if isinstance(v, float) else str(v) for v in row.values()))
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
