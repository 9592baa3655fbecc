"""Per-layer breakdown of a traced run, read from Spark's event log.

The run writes the log uncompressed and unrolled. Jobs are assigned to ops
by the benchmark's own span windows (ops run one at a time); tasks follow
their stage's job. Each job should also carry its op's job group; jobs
launched from threads that do not inherit Spark's local properties arrive
without it and are counted.
"""

from __future__ import annotations

import json
import os

from store import SOURCES

MB = 1 << 20

#: Spark's PythonSQLMetrics accumulators -> per-layer key
PY_METRICS = {
    "time to run Python workers": "py.run_s",
    "time to start Python workers": "py.boot_s",
    "time to initialize Python workers": "py.init_s",
    "data sent to Python workers": "py.sent_mb",
    "data returned from Python workers": "py.recv_mb",
}
#: divisor that turns a metric type's raw value into seconds or MB
METRIC_SCALE = {"nsTiming": 1e9, "timing": 1e3, "size": MB, "sum": 1}

#: Every metric is printed for both workloads. A layer one workload never
#: enters (the sink on ``headline``, SQL Python nodes on
#: ``store_roundtrip``) is given as shares and counts, which read 0 there,
#: rather than as times; absolute times are kept for layers both enter.
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "data.check_s": "s",
    "mem.peak_rss_mb": "MB", "mem.jvm_rss_mb": "MB", "mem.py_workers_rss_mb": "MB",
    "mem.driver_rss_mb": "MB",
    "queries.build_s": "s", "queries.exec_s": "s", "driver.only_s": "s",
    "build.jobs": "count", "build.job_s": "s", "build.result_mb": "MB",
    "jvm.jobs": "count", "jvm.stages": "count", "jvm.tasks": "count",
    "jvm.task_run_s": "s", "jvm.task_cpu_s": "s", "jvm.gc_s": "s", "jvm.deser_s": "s",
    "jvm.slot_util": "ratio", "jvm.input_mb": "MB", "jvm.shuffle_read_mb": "MB",
    "jvm.shuffle_write_mb": "MB", "jvm.spill_disk_mb": "MB",
    "py.run_share": "ratio", "py.boot_share": "ratio", "py.init_share": "ratio",
    "py.sent_mb": "MB", "py.recv_mb": "MB", "py.rows_recv": "count",
    "sink.spark_share": "ratio", "sink.stage_share": "ratio", "sink.merge_share": "ratio",
    "sink.drop_share": "ratio", "sink.stage_rows": "count", "sink.stage_rows_per_s": "1/s",
    "sink.rows_changed": "count", "sink.useful_ratio": "ratio", "sink.input_passes": "ratio",
    "trace.wall_s": "s", "trace.jobs_ungrouped": "count",
}

OP_COLUMNS = (
    "wall_s", "build_s", "exec_s", "driver_only_s", "jobs", "build_jobs", "build_job_s",
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "deser_s", "result_mb",
    "build_result_mb", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "py_run_s", "py_boot_s", "py_init_s", "py_sent_mb", "py_recv_mb", "py_rows_recv",
    "jobs_ungrouped",
)


def _walk_plan(node: dict, out: dict) -> None:
    """Collect accumulator id -> (metric name, metric type, is a Python node)."""
    names = {m["name"] for m in node.get("metrics", [])}
    is_py = "time to run Python workers" in names
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"], is_py)
    for child in node.get("children", []):
        _walk_plan(child, out)


def read_log(path: str) -> tuple[dict, dict, dict, list]:
    """(jobs, stage -> job, accumulator id -> metric, per-task rows)."""
    jobs, stage_job, accs, tasks = {}, {}, {}, []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1e3,
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(ev["sparkPlanInfo"], accs)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                row = {
                    "stage": ev["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "deser_s": m.get("Executor Deserialize Time", 0) / 1e3,
                    "result_mb": m.get("Result Size", 0) / MB,
                    "input_mb": m.get("Input Metrics", {}).get("Bytes Read", 0) / MB,
                    "shuffle_read_mb": (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / MB,
                    "shuffle_write_mb": m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    ) / MB,
                    "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
                    "accs": [
                        (a["ID"], a.get("Update"))
                        for a in ev["Task Info"].get("Accumulables", [])
                    ],
                }
                tasks.append(row)
    return jobs, stage_job, accs, tasks


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


def analyse(log_path: str, res: dict, out: dict, cores: int) -> tuple[dict, list[dict]]:
    """(per-layer metrics per pass, per-op layer table) for the timed ops."""
    jobs, stage_job, accs, tasks = read_log(log_path)
    spans = [s for s in res["runner"].spans if s["phase"].startswith("pass")]
    passes = res["passes"]

    rows = {}
    job_op = {}
    for i, s in enumerate(spans):
        row = dict.fromkeys(OP_COLUMNS, 0.0)
        row.update(
            wall_s=s["end"] - s["start"],
            build_s=s["build_end"] - s["start"],
            exec_s=s["end"] - s["build_end"],
        )
        ivals = []
        for jid, j in jobs.items():
            if not (s["start"] <= j["submit"] <= s["end"]):
                continue
            job_op[jid] = i
            end = min(j.get("end", s["end"]), s["end"])
            ivals.append((j["submit"], end))
            row["jobs"] += 1
            if j["group"] != f"{s['phase']}:{s['op']}":
                row["jobs_ungrouped"] += 1
            if j["submit"] <= s["build_end"]:
                row["build_jobs"] += 1
                row["build_job_s"] += end - j["submit"]
        row["driver_only_s"] = row["wall_s"] - _union_s(ivals)
        rows[i] = row

    stages = {}
    for t in tasks:
        jid = stage_job.get(t["stage"])
        if jid not in job_op:
            continue
        row, s = rows[job_op[jid]], spans[job_op[jid]]
        stages.setdefault(job_op[jid], set()).add(t["stage"])
        row["tasks"] += 1
        for k in ("gc_s", "deser_s", "result_mb", "input_mb", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb"):
            row[k] += t[k]
        row["task_run_s"] += t["run_s"]
        row["task_cpu_s"] += t["cpu_s"]
        if jobs[jid]["submit"] <= s["build_end"]:
            row["build_result_mb"] += t["result_mb"]
        for aid, upd in t["accs"]:
            meta = accs.get(aid)
            if meta is None or upd is None:
                continue
            name, mtype, is_py = meta
            if name in PY_METRICS:
                key = PY_METRICS[name].replace(".", "_")
                row[key] += float(upd) / METRIC_SCALE.get(mtype, 1)
            elif is_py and name == "number of output rows":
                row["py_rows_recv"] += float(upd)
    for i, ids in stages.items():
        rows[i]["stages"] = len(ids)

    def total(col):
        return sum(r[col] for r in rows.values()) / passes

    wall = total("wall_s")
    layers = dict(out["layers_in"])
    rss = out["rss_parts_mb"]
    layers.update({
        "mem.peak_rss_mb": sum(rss.values()),
        "mem.jvm_rss_mb": rss.get("java", 0.0),
        "mem.py_workers_rss_mb": sum(v for k, v in rss.items() if k.startswith("python")),
        "mem.driver_rss_mb": rss.get("driver", 0.0),
    })
    layers.update({
        "queries.build_s": total("build_s"),
        "queries.exec_s": total("exec_s"),
        "driver.only_s": total("driver_only_s"),
        "build.jobs": total("build_jobs"),
        "build.job_s": total("build_job_s"),
        "build.result_mb": total("build_result_mb"),
        "jvm.jobs": total("jobs"),
        "jvm.stages": total("stages"),
        "jvm.tasks": total("tasks"),
        "jvm.task_run_s": total("task_run_s"),
        "jvm.task_cpu_s": total("task_cpu_s"),
        "jvm.gc_s": res["gc_s"] / passes,
        "jvm.deser_s": total("deser_s"),
        "jvm.slot_util": share(total("task_run_s"), wall * cores),
        "jvm.input_mb": total("input_mb"),
        "jvm.shuffle_read_mb": total("shuffle_read_mb"),
        "jvm.shuffle_write_mb": total("shuffle_write_mb"),
        "jvm.spill_disk_mb": total("spill_mb"),
        "py.run_share": share(total("py_run_s"), total("task_run_s")),
        "py.boot_share": share(total("py_boot_s"), total("task_run_s")),
        "py.init_share": share(total("py_init_s"), total("task_run_s")),
        "py.sent_mb": total("py_sent_mb"),
        "py.recv_mb": total("py_recv_mb"),
        "py.rows_recv": total("py_rows_recv"),
        "trace.wall_s": out["e2e"]["wall_s"],
        "trace.jobs_ungrouped": total("jobs_ungrouped"),
    })
    layers.update(_sink_layers(res, spans, rows, passes))

    table = []
    for i, s in enumerate(spans):
        table.append({"pass": s["phase"], "op": s["op"],
                      **{k: round(v, 4) for k, v in rows[i].items()}})
    return {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}, table


def share(part: float, whole: float) -> float:
    return part / whole if whole else 0.0


def _sink_layers(res: dict, spans: list[dict], rows: dict, passes: int) -> dict:
    """Sink metrics: shares of the store calls' time, row counts and ratios."""
    if "backends" not in res:
        return {k: 0.0 for k in LAYER_UNITS if k.startswith("sink.")}
    backends = res["backends"]
    stage_s = sum(b.stage_s for b in backends) / passes
    merge_s = sum(b.merge_s for b in backends) / passes
    drop_s = sum(b.drop_s for b in backends) / passes
    stage_rows = sum(b.stage_rows for b in backends) / passes
    store_s = sum(r["wall_s"] for r in rows.values()) / passes
    changed = res["rows_changed"] / passes
    source_mb = sum(
        os.path.getsize(os.path.join(res["sf_dir"], f"{t}.parquet")) / MB
        for s in spans for t in SOURCES[s["op"].split(":")[0]]
    ) / passes
    read_mb = sum(r["input_mb"] for r in rows.values()) / passes
    return {
        "sink.spark_share": share(store_s - stage_s - merge_s - drop_s, store_s),
        "sink.stage_share": share(stage_s, store_s),
        "sink.merge_share": share(merge_s, store_s),
        "sink.drop_share": share(drop_s, store_s),
        "sink.stage_rows": stage_rows,
        "sink.stage_rows_per_s": share(stage_rows, stage_s),
        "sink.rows_changed": changed,
        "sink.useful_ratio": share(changed, stage_rows),
        "sink.input_passes": share(read_mb, source_mb),
    }
