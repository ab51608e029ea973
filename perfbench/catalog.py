"""The catalog workload, ``llmdata``: queries built with
``REGISTRY[name].fn`` and run through the noop sink, plus the
order-insensitive result fingerprints the correctness gate compares
against the DuckDB oracle's."""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
TABLES = ("documents",)

#: The queries ``llmdata`` runs. A full pass over the 133 ``queries.llmdata``
#: queries at 4 cores takes minutes (see README.md), far beyond one run, so
#: it runs a fixed subset of the lanes the Python-worker boundary and the
#: shuffles show in; the seed only orders it.
OPS: tuple[str, ...] = (
    # JPEG, MJPEG and FLAC decode: the Python-worker CPU
    "q213_jpeg_subsampled_audit", "q214_mjpeg_frame_audit", "q231_audio_flac_decode_audit",
    # shingle / near-dup shuffles
    "q022_near_dup_jaccard", "q023_near_dup_minhash_lsh", "q127_prefix_filter_near_dup",
    # eager checkpointed iterations
    "q037_near_dup_clusters", "q237_repeated_span_scrub",
)


def _norm(v):
    """A value in a form that compares equal across Spark and DuckDB
    wherever Python's ``==`` does (``tests/driver_sim.py`` compares with it):
    integral numbers become ints, other numbers keep their float repr,
    timestamps their ``str``, binaries their hex."""
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() and abs(v) < 2**63 else repr(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return int(v)
        return repr(float(v)) if decimal.Decimal(float(v)) == v else "D" + str(v.normalize())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return str(v)
    if isinstance(v, dict):
        return tuple((str(k), _norm(x)) for k, x in sorted(v.items(), key=lambda kv: str(kv[0])))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    raise TypeError(f"cannot fingerprint a {type(v).__name__}")


def fingerprint(columns: list[str], rows: list[tuple]) -> dict:
    """Row count and an order-insensitive digest of a result: columns by
    lower-cased name, rows sorted by their normalized repr."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    digest = hashlib.sha256(repr(([cols[i] for i in order], norm)).encode()).hexdigest()
    return {"rows": len(rows), "sha256": digest}


def load_fingerprints() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def check(expected: dict, got: dict) -> str | None:
    """None when ``got`` matches the pinned fingerprint, else why not.
    Queries without an oracle are pinned by row count alone."""
    if got["rows"] != expected["rows"]:
        return f"{got['rows']} rows, oracle has {expected['rows']}"
    if "sha256" in expected and got["sha256"] != expected["sha256"]:
        return "rows differ from the oracle's"
    return None
