"""Output checks: canonical, order-insensitive hashes of query results.

The canonical form is the engine's parity-test form: columns sorted by
name, floats at 4 decimal places (with -0.0 folded to 0.0), timestamps in
ISO form, arrays element-wise, rows sorted. Two results with the same
canonical hash hold the same rows whatever order the engine produced.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime

import numpy as np

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def canon_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0.0:
            f = 0.0
        return f"{f:.4f}"
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _canon_column(series) -> list[str]:
    """``canon_value`` over one column, vectorized for numeric dtypes."""
    kind = series.dtype.kind
    if kind == "f":
        return ["NaN" if x != x else f"{x + 0.0:.4f}" for x in series.tolist()]
    if kind in "iu":
        return [str(x) for x in series.tolist()]
    if kind == "M":  # naive datetimes: datetime.isoformat() drops zero micros
        iso = np.datetime_as_string(series.to_numpy("datetime64[us]"), unit="us")
        return [x[:-7] if x.endswith(".000000") else x for x in iso.tolist()]
    return [v if type(v) is str else canon_value(v) for v in series.tolist()]


def frame_digest(pdf) -> tuple[int, str]:
    """(row count, sha256 of the canonical form) of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(r) for r in zip(*(_canon_column(pdf[c]) for c in cols)))
    h = hashlib.sha256(json.dumps(cols).encode())
    h.update("\n".join(rows).encode())
    return len(pdf), h.hexdigest()


def load_pins(path: str = PINS_PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)


def check_op(pin: dict | None, rows: int, digest: str) -> str | None:
    """Compare one op's output with its pin; return a failure message or
    None. An op pinned as unstable (its hash differed between two runs of
    the same commit) is checked by row count alone."""
    if pin is None:
        return "no pin"
    if rows != pin["rows"]:
        return f"rows {rows} != pinned {pin['rows']}"
    if pin["stable"] and digest != pin["sha256"]:
        return f"hash {digest[:12]} != pinned {pin['sha256'][:12]}"
    return None
