"""Benchmark inputs: the vendored sf0.01 tables.

They are a byte copy of the engine's seed-42 test data (TPC-H-like tables
plus events, documents and embeddings), kept inside the benchmark so that a
run reads nothing outside its checkout, and checked against pinned digests
before every run.
"""

from __future__ import annotations

import hashlib
import os

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: sha256 of each vendored sf0.01 file
BASE_SHA256 = {
    "customer": "a7748ced9c4d47fe054c27a2805636a6c034e95abea9eef49cf9b5fd1d1a4fcb",
    "documents": "3882fed1c345efc5111415b19fba244a14ef57410e9d9b20cae2201317be6d84",
    "embeddings": "5bd2b0f09265a0662f08b1eae03a396df1c566e4d387e2ac7bd0b2d278df9cde",
    "events": "bb5b2c28f8905d984c38279d3894d4db0edc24cb025763bfdfada8adc58789c0",
    "lineitem": "4838c2d835f3035ec106897d3659af94bb76dd8245401f0e937f9a60fab282ee",
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "orders": "5676f9128455769b5b05d42c22f98cf2ce9ee7dc965a02c85a3813127dee6ba8",
    "part": "bd41856c401f578da41a6cb44c863f8a98081b611257a4e4c5cbc6ec970a11e1",
    "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "supplier": "d7424445156dfe7e4c39d79919e548f373530edbb56d4bbc4a0742fca82e4ee6",
}


class InputError(RuntimeError):
    """The benchmark's inputs are missing or differ from the pinned ones."""


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def check_base() -> str:
    """Verify the vendored tables byte for byte; return their directory."""
    for t in TABLES:
        path = os.path.join(BASE_DIR, f"{t}.parquet")
        if not os.path.isfile(path):
            raise InputError(f"missing input table {path}")
        if _sha256(path) != BASE_SHA256[t]:
            raise InputError(f"input table {path} differs from its pinned digest")
    return BASE_DIR
