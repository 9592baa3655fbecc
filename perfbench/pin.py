"""Pin the expected output of every op in the query workloads.

    python3 perfbench/pin.py        (from the root of a checkout)

Each op runs in two fresh processes. Its canonical hash is pinned when both
agree; an op whose hash differs between the two is pinned as unstable and
checked by row count alone. Where the engine registers a DuckDB oracle for
the op, the oracle's result must hash the same, or pinning fails. Run it at
the commit whose outputs are known good; pins.json then fixes them for
later commits.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from workloads import QUERY_WORKLOADS  # noqa: E402


def collect(workload: str, out: str) -> None:
    """Child process: hash every op's output, and its oracle's where one exists."""
    import duckdb

    from n2kupdate_spark.queries import ORACLE, QUERIES
    from n2kupdate_spark.session import get_spark

    sf_dir = inputs.check_base()
    spark = get_spark(app_name=f"perfbench-pin-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in inputs.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    res = {}
    for name in QUERY_WORKLOADS[workload]:
        rows, digest = checks.frame_digest(QUERIES[name](spark, sf_dir).toPandas())
        entry = {"rows": rows, "sha256": digest}
        if name in ORACLE:
            o_rows, o_digest = checks.frame_digest(con.execute(ORACLE[name]).fetchdf())
            entry["oracle_match"] = (o_rows, o_digest) == (rows, digest)
        res[name] = entry
        print(name, entry, file=sys.stderr, flush=True)
    with open(out, "w") as fh:
        json.dump(res, fh)
    spark.stop()


def main() -> int:
    run_dir = os.path.join(os.getcwd(), ".perfbench_run")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(
        os.environ,
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        PYTHONPATH=os.getcwd(),
    )
    pins, bad = {}, []
    for workload in QUERY_WORKLOADS:
        runs = []
        for i in range(2):
            out = os.path.join(run_dir, f"pin-{workload}-{i}.json")
            subprocess.run(
                [sys.executable, __file__, "--collect", workload, out], env=env, check=True
            )
            with open(out) as fh:
                runs.append(json.load(fh))
        pins[workload] = {}
        for name, a in runs[0].items():
            b = runs[1][name]
            if a["rows"] != b["rows"]:
                bad.append(f"{workload}:{name}: row count differs between runs")
            if a.get("oracle_match") is False or b.get("oracle_match") is False:
                bad.append(f"{workload}:{name}: differs from its DuckDB oracle")
            pins[workload][name] = {
                "rows": a["rows"],
                "sha256": a["sha256"],
                "stable": a["sha256"] == b["sha256"],
                "oracle": "oracle_match" in a,
            }
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(checks.PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--collect"]:
        collect(sys.argv[2], sys.argv[3])
    else:
        sys.exit(main())
