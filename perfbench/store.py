"""The ``store_roundtrip`` workload: the reference's store lifecycle against a
throwaway PostgreSQL server.

Each target is loaded, replayed unchanged, then re-stored with a seeded
change batch. Dimensions go through ``DbApiBackend(PsqlConnection)``, which
streams COPY through the driver; the observation facts go through
``PgParallelBackend``, which COPYs from the executors. The server runs with
``-F`` (fsync off), the flush policy of the engine's live-PostgreSQL tests.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import tempfile
import time

from pyspark.sql import DataFrame, functions as F

CHANGE_TS = "2024-06-01 00:00:00"
LOAD_TS = "2024-01-01 00:00:00"

#: target DDL; column order is the stored frame's column order
DDL = {
    "language": "code VARCHAR, description VARCHAR, fingerprint VARCHAR",
    "species": (
        "scientific_name VARCHAR, nbn_key VARCHAR, euring_code VARCHAR, "
        "gbif_id BIGINT, fingerprint VARCHAR"
    ),
    "species_group_species": "species_group VARCHAR, species VARCHAR, fingerprint VARCHAR",
    "customer_version": (
        "c_custkey BIGINT, c_mktsegment VARCHAR, c_acctbal DOUBLE PRECISION, "
        "valid_from VARCHAR, valid_to VARCHAR"
    ),
    "observation": (
        "external_code VARCHAR, datafield VARCHAR, location VARCHAR, year INTEGER, "
        "parent_observation VARCHAR, fingerprint VARCHAR"
    ),
}
#: column that identifies one entity's rows in each target
ENTITY_KEY = {t: "fingerprint" for t in DDL} | {"customer_version": "c_custkey"}
#: the fact target, staged from the executors
FACTS = {"observation"}
#: parquet tables each target's batches are derived from
SOURCES = {
    "language": ["nation"],
    "species": ["part"],
    "species_group_species": ["part"],
    "customer_version": ["customer"],
    "observation": ["lineitem"],
}


# -- server -----------------------------------------------------------------


def _pg_bin(name: str) -> str:
    found = shutil.which(name) or f"/usr/local/bin/{name}"
    if not os.path.exists(found):
        raise RuntimeError(f"PostgreSQL binary {name} not found")
    return found


def _as_postgres(cmd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["su", "postgres", "-c", cmd], capture_output=True, text=True, cwd="/", timeout=120
    )


class PgServer:
    """initdb + pg_ctl start as the ``postgres`` user; ``stop`` waits for the
    server to exit. The data directory lives in the run directory when the
    ``postgres`` user can reach it and the socket path fits, else in /tmp."""

    def __init__(self, run_dir: str):
        self.root = os.path.join(run_dir, "pg")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        shutil.chown(self.root, "postgres", "postgres")
        if len(self.root) > 80 or _as_postgres(f"test -w '{self.root}'").returncode:
            shutil.rmtree(self.root, ignore_errors=True)
            self.root = tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp")
            shutil.chown(self.root, "postgres", "postgres")
        self.data = os.path.join(self.root, "data")
        with open(os.path.join(run_dir, "pg_data_dir"), "w") as fh:
            fh.write(self.data)  # lets run.py stop a server a killed worker left
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            self.port = s.getsockname()[1]
        r = _as_postgres(f"{_pg_bin('initdb')} -D {self.data} -A trust --no-sync")
        if r.returncode:
            raise RuntimeError(f"initdb failed: {r.stderr[-300:]}")
        r = _as_postgres(
            f"{_pg_bin('pg_ctl')} -D {self.data} -l {self.root}/log -w "
            f"-o '-k {self.root} -p {self.port} -c listen_addresses= -F' start"
        )
        if r.returncode:
            raise RuntimeError(f"pg_ctl start failed: {r.stderr[-300:]}")

    def stop(self) -> None:
        _as_postgres(f"{_pg_bin('pg_ctl')} -D {self.data} -m immediate -w stop")
        shutil.rmtree(self.root, ignore_errors=True)


# -- batches ----------------------------------------------------------------


def _pick(col: str, seed: int, k: int, r: int):
    """Seeded 1-in-k selection of rows by one column's value."""
    return F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(k)) == r


def _changed(batch: DataFrame, key: str, attr: str, new_attr, seed: int) -> DataFrame:
    """The change batch of an SCD1 target: one key in ten gets a new
    attribute value, and one in twenty arrives as a brand-new key."""
    updated = batch.filter(_pick(key, seed, 10, 0)).withColumn(attr, new_attr)
    added = batch.filter(_pick(key, seed, 20, 1)).withColumn(
        key, F.concat(F.col(key), F.lit(f" n{seed}"))
    )
    return updated.unionByName(added)


def batches(spark, base_dir: str, seed: int) -> dict[str, tuple[DataFrame, DataFrame]]:
    """(load batch, change batch) per target, derived from the sf0.01 tables."""
    def read(t):
        return spark.read.parquet(f"{base_dir}/{t}.parquet")

    nation, part, cust, li = (read(t) for t in ("nation", "part", "customer", "lineitem"))
    language = nation.select(
        F.col("n_nationkey").cast("string").alias("code"),
        F.col("n_name").alias("description"),
    )
    species = part.select(
        F.concat_ws(" ", "p_name", F.col("p_partkey").cast("string")).alias("scientific_name"),
        F.col("p_brand").alias("nbn_key"),
        F.col("p_type").alias("euring_code"),
        F.col("p_partkey").alias("gbif_id"),
    )
    members = species.select(
        F.col("nbn_key").alias("species_group"), F.col("scientific_name").alias("species")
    )
    versions = cust.select("c_custkey", "c_mktsegment", "c_acctbal")
    observation = li.select(
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("external_code"),
        F.lit("lineitem").alias("datafield"),
        F.col("l_suppkey").cast("string").alias("location"),
        F.year("l_shipdate").alias("year"),
        F.col("l_orderkey").cast("string").alias("parent_observation"),
    )
    # set replacement: a seeded third of the groups lose about half their
    # members and gain new ones; the other groups are absent from the batch
    touched = members.filter(_pick("species_group", seed, 3, 0))
    members_change = touched.filter(_pick("species", seed, 2, 0)).unionByName(
        touched.filter(_pick("species", seed, 4, 1)).withColumn(
            "species", F.concat("species", F.lit(f" n{seed}"))
        )
    )
    # versioned dimension: one key in ten changes, one in ten disappears
    # (closed), and one in ten arrives as a new key
    versions_change = (
        versions.filter(~_pick("c_custkey", seed, 10, 2))
        .withColumn(
            "c_acctbal",
            F.when(_pick("c_custkey", seed, 10, 0), F.col("c_acctbal") + 1).otherwise(
                F.col("c_acctbal")
            ),
        )
        .unionByName(
            versions.filter(_pick("c_custkey", seed, 10, 1)).withColumn(
                "c_custkey", F.col("c_custkey") + 10_000_000
            )
        )
    )
    return {
        "language": (language, _changed(language, "code", "description",
                                        F.lower("description"), seed)),
        "species": (species, _changed(species, "scientific_name", "nbn_key",
                                      F.concat("nbn_key", F.lit("*")), seed)),
        "species_group_species": (members, members_change),
        "customer_version": (versions, versions_change),
        "observation": (observation, _changed(observation, "external_code", "year",
                                              F.col("year") + 1, seed)),
    }


def store(st, target: str, df: DataFrame, batch_ts: str) -> DataFrame:
    """One store_* call; returns the frame the store staged."""
    if target == "customer_version":
        return st.store_versioned_dim(
            df, "customer_version", ["c_custkey"], ["c_mktsegment", "c_acctbal"], batch_ts
        )
    return getattr(st, f"store_{target}")(df)


# -- expected state (pure transforms) ---------------------------------------


def expected_state(spark, target: str, loaded: DataFrame, changed: DataFrame) -> DataFrame:
    """The target after load, replay and change, by the engine's pure
    merge transforms (operators.merge), from the frames the store staged."""
    from n2kupdate_spark.operators import merge

    if target == "customer_version":
        cols = ["c_custkey", "c_mktsegment", "c_acctbal"]
        empty = spark.createDataFrame(
            [], "c_custkey long, c_mktsegment string, c_acctbal double, "
            "valid_from string, valid_to string"
        )
        state = merge.merge_scd2_changes(empty, loaded, ["c_custkey"], cols[1:], LOAD_TS)
        state = merge.merge_scd2_changes(state, loaded, ["c_custkey"], cols[1:], LOAD_TS)
        return merge.merge_scd2_changes(state, changed, ["c_custkey"], cols[1:], CHANGE_TS)
    if target == "species_group_species":
        state = merge.merge_set_replace(loaded, loaded, ["species_group"])
        return merge.merge_set_replace(state, changed, ["species_group"])
    state = merge.merge_scd1(loaded, loaded, ["fingerprint"])
    return merge.merge_scd1(state, changed, ["fingerprint"])


def _canon(v) -> str:
    if v is None:
        return "∅"
    try:
        f = float(v)
    except (TypeError, ValueError):
        return str(v)
    return f"{(0.0 if f == 0 else f):.4f}"


def canonical_table(rows) -> list[tuple]:
    return sorted(tuple(_canon(v) for v in r) for r in rows)


# -- server-side probes ------------------------------------------------------


def state_digest(con, target: str) -> tuple[int, str]:
    n, h = con.execute(
        f"SELECT count(*), coalesce(md5(string_agg(md5(t::text), '' "
        f"ORDER BY md5(t::text))), '') FROM {target} t"
    ).fetchone()
    return int(n), h


def snapshot(con, target: str) -> None:
    key = ENTITY_KEY[target]
    con.execute("DROP TABLE IF EXISTS perfbench_snap")
    con.execute(
        f"CREATE TEMP TABLE perfbench_snap AS SELECT {key} AS k, md5(t::text) AS h "
        f"FROM {target} t"
    )


def rows_changed(con, target: str) -> int:
    """Entities whose set of row images differs from the last snapshot:
    inserted, updated, closed or deleted."""
    key = ENTITY_KEY[target]
    cur = f"SELECT {key} AS k, md5(t::text) AS h FROM {target} t"
    (n,) = con.execute(
        f"SELECT count(DISTINCT k) FROM (({cur} EXCEPT ALL SELECT k, h FROM perfbench_snap) "
        f"UNION ALL (SELECT k, h FROM perfbench_snap EXCEPT ALL {cur})) d"
    ).fetchone()
    return int(n)


class TimedBackend:
    """Delegates the sink backend protocol and times each call. After each
    staging write it counts the staged rows; that probe's time is kept
    apart so callers can take it out of the op's span. ``stage_start`` is
    the wall-clock time the last staging write began."""

    def __init__(self, inner):
        self.inner = inner
        self.stage_s = self.merge_s = self.drop_s = self.probe_s = 0.0
        self.stage_rows = 0
        self.stage_start = None

    def write_staging(self, df, staging):
        self.stage_start = time.time()
        t = time.perf_counter()
        self.inner.write_staging(df, staging)
        t1 = time.perf_counter()
        (n,) = self.inner.con.execute(f"SELECT count(*) FROM {staging}").fetchone()
        self.stage_rows += int(n)
        self.stage_s += t1 - t
        self.probe_s += time.perf_counter() - t1

    def execute(self, stmts):
        t = time.perf_counter()
        self.inner.execute(stmts)
        self.merge_s += time.perf_counter() - t

    def drop_staging(self, staging):
        t = time.perf_counter()
        self.inner.drop_staging(staging)
        self.drop_s += time.perf_counter() - t
