"""The benchmark's own tests: its output check catches a wrong answer.

    python3 -m pytest perfbench/test_checks.py -q     (from the checkout root)

The last test runs the benchmark end to end against a deliberately wrong pin
and takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402


def test_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, -0.0, float("nan")]})
    b = a.iloc[::-1][["v", "k"]]
    assert checks.frame_digest(a) == checks.frame_digest(b)


def test_hash_sees_a_change_at_the_fourth_decimal():
    a = pd.DataFrame({"v": [0.12341]})
    b = pd.DataFrame({"v": [0.12351]})
    assert checks.frame_digest(a) != checks.frame_digest(b)


def test_wrong_pin_is_reported():
    rows, digest = checks.frame_digest(pd.DataFrame({"v": [1, 2]}))
    good = {"rows": rows, "sha256": digest, "stable": True}
    assert checks.check_op(good, rows, digest) is None
    assert "hash" in checks.check_op(dict(good, sha256="0" * 64), rows, digest)
    assert "rows" in checks.check_op(dict(good, rows=rows + 1), rows, digest)


def test_unstable_op_is_checked_by_row_count():
    pin = {"rows": 2, "sha256": "0" * 64, "stable": False}
    assert checks.check_op(pin, 2, "f" * 64) is None
    assert checks.check_op(pin, 3, "f" * 64) is not None


def test_every_op_is_pinned():
    from workloads import QUERY_WORKLOADS

    pins = checks.load_pins()
    for workload, ops in QUERY_WORKLOADS.items():
        assert sorted(pins[workload]) == sorted(ops)


def test_wrong_pin_fails_the_run(tmp_path):
    """A checkout whose pins hold one wrong hash: the run exits 1 and its
    result line says the output is not correct."""
    root = os.path.dirname(HERE)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    os.symlink(os.path.join(root, "n2kupdate_spark"), tmp_path / "n2kupdate_spark")
    pins_path = tmp_path / "perfbench" / "pins.json"
    pins = json.loads(pins_path.read_text())
    pins["headline"]["agg_group_sums"]["sha256"] = "0" * 64
    pins_path.write_text(json.dumps(pins))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "headline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 1, r.stderr[-2000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert "FAILED check:agg_group_sums" in r.stdout
