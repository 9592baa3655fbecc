"""One benchmark run, in the fresh process ``run.py`` starts.

Phases: start the session (plus, for ``store_roundtrip``, the database);
a warm-up pass (for ``headline`` it also checks every op's output); then
timed passes over the workload's ops, in seeded order, until ``--seconds``
have passed and the workload's minimum pass count is met; then, for
``store_roundtrip``, the checks of the target state. The result goes to the
JSON file named by ``--out``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import store as store_wl  # noqa: E402
from workloads import MIN_PASSES, QUERY_WORKLOADS  # noqa: E402


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(root: int) -> dict[str, float]:
    """VmHWM in MB of this process ("driver"), the JVM ("java") and the
    Python workers ("python"), keyed by process kind."""
    parts: dict[str, float] = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kind = "driver" if pid == root else comm
                        parts[kind] = parts.get(kind, 0.0) + int(line.split()[1]) / 1024
        except OSError:
            pass
    return parts


def jvm_gc_ms(sc) -> int:
    """Collection time of every garbage collector in the JVM, in ms (driver
    and executors share it in local mode)."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


class Runner:
    """Runs ops one at a time and records a span per op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.failures: dict[str, str] = {}

    def op(self, name: str, phase: str, fn) -> dict | None:
        """Run ``fn(span)`` as one op; ``fn`` sets ``span['build_end']`` when
        its build step ends. Returns the span, or None if the op raised."""
        self.sc.setJobGroup(f"{phase}:{name}", name)
        span = {"op": name, "phase": phase, "start": time.time()}
        try:
            fn(span)
        except Exception:
            self.failures[f"{phase}:{name}"] = traceback.format_exc(limit=3)
            return None
        finally:
            self.sc.setJobGroup("", "")
        span["end"] = time.time() - span.pop("excluded_s", 0.0)
        span["build_end"] = min(span.get("build_end", span["end"]), span["end"])
        self.spans.append(span)
        return span


def run_queries(spark, args, res: dict) -> None:
    from n2kupdate_spark.queries import QUERIES

    pins = checks.load_pins()[args.workload]
    ops = list(QUERY_WORKLOADS[args.workload])
    random.Random(args.seed).shuffle(ops)
    runner = Runner(spark)
    res["runner"] = runner

    # Warm-up pass: each op once, output collected and checked. The hashing
    # time is benchmark work and is taken out of setup_s.
    hash_s = 0.0
    for name in ops:
        out = {}

        def collect(span, name=name, out=out):
            out["pdf"] = QUERIES[name](spark, args.sf_dir).toPandas()

        if runner.op(name, "warmup", collect) is None:
            continue
        t = time.perf_counter()
        rows, digest = checks.frame_digest(out.pop("pdf"))
        msg = checks.check_op(pins.get(name), rows, digest)
        if msg:
            runner.failures[f"check:{name}"] = msg
        hash_s += time.perf_counter() - t
        gc.collect()
    res["check_s"] = hash_s
    res["unstable_ops"] = sorted(n for n in ops if n in pins and not pins[n]["stable"])

    def timed(span, name):
        df = QUERIES[name](spark, args.sf_dir)
        span["build_end"] = time.time()
        df.write.format("noop").mode("overwrite").save()

    ops = [(n, lambda s, n=n: timed(s, n)) for n in ops]
    timed_passes(runner, args, res, lambda rng: rng.sample(ops, len(ops)))


def timed_passes(runner: Runner, args, res: dict, pass_ops, between=None) -> None:
    """Passes until ``args.seconds`` have passed and the workload's minimum
    pass count is met; each pass runs the ops ``pass_ops(rng)`` lists, in a
    fresh seeded order."""
    rng = random.Random(args.seed)
    gc_ms = jvm_gc_ms(runner.sc) if args.trace else 0
    res["t_first_op"] = time.time()
    passes = 0
    while passes < MIN_PASSES[args.workload] or time.time() - res["t_first_op"] < args.seconds:
        passes += 1
        if between:
            between()
        for name, fn in pass_ops(rng):
            runner.op(name, f"pass{passes}", fn)
            gc.collect()
    res["passes"] = passes
    res["peak_rss_mb"] = peak_rss_mb(os.getpid())
    if args.trace:
        res["gc_s"] = (jvm_gc_ms(runner.sc) - gc_ms) / 1e3


def run_store(spark, args, res: dict) -> None:
    from n2kupdate_spark.api import N2kStore
    from n2kupdate_spark.sources.jdbc import DbApiBackend, PgParallelBackend
    from n2kupdate_spark.sources.pg_psql import PsqlConnection

    server = res["pg"]
    dim = store_wl.TimedBackend(DbApiBackend(PsqlConnection(host=server.root, port=server.port)))
    fact = store_wl.TimedBackend(PgParallelBackend(
        host=server.root, port=server.port, max_parallel=int(os.environ["SPARK_GRAFT_CPUS"])
    ))
    res["close"] = [dim.inner.con.close, fact.inner.con.close]
    res["backends"] = (dim, fact)
    con = dim.inner.con
    stores = {t: N2kStore(backend=fact if t in store_wl.FACTS else dim) for t in store_wl.DDL}
    batches = store_wl.batches(spark, args.sf_dir, args.seed)
    targets = list(store_wl.DDL)
    random.Random(args.seed).shuffle(targets)
    runner = Runner(spark)
    res["runner"] = runner
    staged, loaded_rows = {}, {}
    res["rows_changed"] = 0

    def reset():
        for t, ddl in store_wl.DDL.items():
            con.execute(f"DROP TABLE IF EXISTS {t}")
            con.execute(f"CREATE TABLE {t} ({ddl})")

    def step(t: str, name: str, df, ts: str):
        st = stores[t]

        def fn(span):
            before = store_wl.state_digest(con, t) if name == "replay" else None
            if args.trace:
                store_wl.snapshot(con, t)
            probe0 = st.backend.probe_s
            st.backend.stage_start = None
            span["start"] = time.time()
            staged[(t, name)] = store_wl.store(st, t, df, ts)
            end = time.time()
            # build: validation and fingerprint jobs; exec: the sink calls
            span["build_end"] = st.backend.stage_start or end
            # the checks below run after the op; keep them out of its span
            if name == "load":
                (n,) = con.execute(f"SELECT count(*) FROM {t}").fetchone()
                loaded_rows[t] = int(n)
            if name == "replay" and store_wl.state_digest(con, t) != before:
                runner.failures[f"check:{t}:replay"] = "the replay changed the target"
            if args.trace:
                res["rows_changed"] += store_wl.rows_changed(con, t)
            span["excluded_s"] = st.backend.probe_s - probe0 + time.time() - end

        return fn

    # Warm-up: every target loaded once, so each backend and merge path has
    # run before the timed passes.
    reset()
    for t in targets:
        runner.op(f"{t}:load", "warmup", step(t, "load", batches[t][0], store_wl.LOAD_TS))
        gc.collect()
    for b in (dim, fact):
        b.stage_s = b.merge_s = b.drop_s = b.probe_s = 0.0
        b.stage_rows = 0
    res["rows_changed"] = 0
    res["check_s"] = 0.0
    res["unstable_ops"] = []

    def lifecycle(rng):
        ops = []
        for t in rng.sample(targets, len(targets)):
            load, change = batches[t]
            ops += [
                (f"{t}:load", step(t, "load", load, store_wl.LOAD_TS)),
                (f"{t}:replay", step(t, "replay", load, store_wl.LOAD_TS)),
                (f"{t}:change", step(t, "change", change, store_wl.CHANGE_TS)),
            ]
        return ops

    timed_passes(runner, args, res, lifecycle, between=reset)

    # Checks on the last pass, after the timed phase: the load held one row
    # per distinct key, and the final state equals the pure merge transforms.
    # The psql session serves one caller, so the targets are fetched first;
    # the Spark side then runs in a small thread pool.
    t_verify = time.time()
    last = f"pass{res['passes']}:"
    done = [t for t in targets if not any(k.startswith(f"{last}{t}:") for k in runner.failures)]
    cols = {t: [c.split()[0] for c in store_wl.DDL[t].split(", ")] for t in done}
    got = {
        t: store_wl.canonical_table(con.execute(f"SELECT {', '.join(cols[t])} FROM {t}").fetchall())
        for t in done
    }

    def expect(t):
        n = staged[(t, "load")].select(store_wl.ENTITY_KEY[t]).distinct().count()
        exp = store_wl.expected_state(spark, t, staged[(t, "load")], staged[(t, "change")])
        pdf = exp.select(*cols[t]).toPandas()
        return t, n, store_wl.canonical_table(pdf.itertuples(index=False, name=None))

    with ThreadPoolExecutor(max_workers=int(os.environ["SPARK_GRAFT_CPUS"])) as pool:
        for t, n, want in pool.map(expect, done):
            if loaded_rows[t] != n:
                runner.failures[f"check:{t}:load"] = f"{loaded_rows[t]} rows != {n} distinct keys"
            if got[t] != want:
                runner.failures[f"check:{t}:change"] = (
                    f"target ({len(got[t])} rows) differs from the pure merge ({len(want)} rows)"
                )
    res["verify_s"] = time.time() - t_verify


def summarize(res: dict, args) -> dict:
    runner: Runner = res["runner"]
    per_op: dict[str, list[float]] = {}
    for s in runner.spans:
        if s["phase"].startswith("pass"):
            per_op.setdefault(s["op"], []).append(s["end"] - s["start"])
    medians = [statistics.median(v) for v in per_op.values()]
    n_ops = len(QUERY_WORKLOADS.get(args.workload, ())) or len(store_wl.DDL) * 3
    attempted = res["passes"] * n_ops
    failed = sum(1 for k in runner.failures if k.startswith("pass"))
    setup_s = (
        res["t_first_op"] - args.t0 - args.data_check_s - res.get("db_start_s", 0.0) - res["check_s"]
    )
    return {
        "correct": not runner.failures,
        "attempted": attempted,
        "failed": failed,
        "failures": runner.failures,
        "unstable_ops": res["unstable_ops"],
        "passes": res["passes"],
        "rss_parts_mb": res["peak_rss_mb"],
        "verify_s": res.get("verify_s", 0.0),
        "op_times": {
            f"{s['phase']}:{s['op']}": round(s["end"] - s["start"], 4) for s in runner.spans
        },
        "e2e": {
            "setup_s": setup_s,
            "wall_s": sum(medians) if medians else float("nan"),
            "op_geomean_s": (
                math.exp(statistics.fmean(math.log(m) for m in medians))
                if medians else float("nan")
            ),
            "peak_rss_mb": sum(res["peak_rss_mb"].values()),
            "error_rate": failed / attempted if attempted else 1.0,
        },
        "samples": {"setup_s": 1, "wall_s": res["passes"], "op_geomean_s": res["passes"],
                    "peak_rss_mb": 1, "error_rate": attempted},
        "layers_in": {
            "session.start_s": res["session_start_s"],
            "session.warmup_s": res["t_first_op"] - res["t_warm0"] - res["check_s"],
            "data.check_s": args.data_check_s,
            "db.start_s": res.get("db_start_s", 0.0),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--data-check-s", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    res: dict = {"sf_dir": args.sf_dir}
    try:
        if args.workload == "store_roundtrip":
            t = time.time()
            res["pg"] = store_wl.PgServer(args.run_dir)
            res["db_start_s"] = time.time() - t

        from n2kupdate_spark.session import get_spark

        confs = {}
        evdir = os.path.join(args.run_dir, "eventlog")
        if args.trace:
            shutil.rmtree(evdir, ignore_errors=True)  # keep only this run's log
            os.makedirs(evdir)
            confs = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t = time.time()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        res["session_start_s"] = time.time() - t
        res["t_warm0"] = time.time()
        if args.workload == "store_roundtrip":
            run_store(spark, args, res)
        else:
            run_queries(spark, args, res)
        out = summarize(res, args)
        app_id = spark.sparkContext.applicationId
        for close in res.pop("close", []):
            close()
        spark.stop()
        if args.trace:
            import tracelog

            log = os.path.join(evdir, app_id)
            out["layers"], out["op_table"] = tracelog.analyse(
                log, res, out, int(os.environ["SPARK_GRAFT_CPUS"])
            )
        with open(args.out, "w") as fh:
            json.dump(out, fh, default=str)
        return 0
    finally:
        for close in res.get("close", []):
            try:
                close()
            except Exception:
                pass
        if "pg" in res:
            res["pg"].stop()


if __name__ == "__main__":
    sys.exit(main())
