"""Shared 60-bit hash used by the hash-based sketches (HLL, count-min,
Bloom, MinHash, SimHash).

Design goal: the hash must be computable (a) JVM-side in Spark with
built-in functions — so the hot path never enters Python — and (b) in
ANSI-ish SQL on DuckDB for the driver's oracle comparison, producing the
*identical* integer. We therefore define::

    h64(x) = int(md5(utf8(x))[:15 hex chars], 16)        # 60 bits, >= 0

Spark:  ``conv(substring(md5(cast(x as binary)), 1, 15), 16, 10)``
DuckDB: ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT``

Both sides feed md5 the UTF-8 bytes of the value's string form, so callers
should pass string columns (for non-strings, cast to string explicitly and
identically on both sides).

Derived hashes (for k-hash schemes) come from integer arithmetic on h64 —
``h1 = h % 2^30``, ``h2 = 2*((h >> 30) % 2^29) + 1`` (odd), position_i =
``(h1 + i*h2) % width`` — the standard double-hashing construction
(Kirsch-Mitzenmacher), chosen because it is exactly expressible in both
engines' integer math.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, functions as F

H64_BITS = 60
H1_BITS = 30


def spark_h64(col) -> Column:
    """60-bit md5-derived hash of a column, computed JVM-side. The value is
    cast to string first (matching DuckDB's ``CAST(x AS VARCHAR)``), then to
    UTF-8 bytes for md5 — never a raw binary cast of a numeric."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.conv(
        F.substring(F.md5(c.cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("long")


def duckdb_h64(expr: str) -> str:
    """DuckDB SQL mirror of :func:`spark_h64`."""
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15))::BIGINT)"


def py_h64(value: str) -> int:
    """Python mirror (for probe literals and tests)."""
    return int(hashlib.md5(str(value).encode("utf-8")).hexdigest()[:15], 16)


def split_double_hash(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) for double hashing; h2 forced odd so all strides are
    coprime with power-of-two widths."""
    h = np.asarray(h, dtype=np.int64)
    h1 = h % (1 << H1_BITS)
    h2 = 2 * ((h >> H1_BITS) % (1 << (H1_BITS - 1))) + 1
    return h1, h2


def positions(h: np.ndarray, k: int, width: int) -> np.ndarray:
    """k × n matrix of positions ``(h1 + i*h2) % width``."""
    h1, h2 = split_double_hash(h)
    i = np.arange(k, dtype=np.int64)[:, None]
    return (h1[None, :] + i * h2[None, :]) % width


def py_positions(value: str, k: int, width: int) -> list[int]:
    h = py_h64(value)
    h1 = h % (1 << H1_BITS)
    h2 = 2 * ((h >> H1_BITS) % (1 << (H1_BITS - 1))) + 1
    return [(h1 + i * h2) % width for i in range(k)]


def bit_length_u48(w: np.ndarray) -> np.ndarray:
    """Exact bit length of non-negative int64s, vectorized. ``frexp`` on the
    float64 image gives e == bit_length(w) exactly for w < 2^53; above that
    the conversion can round w up across a power-of-two boundary (e.g.
    2^56 - 1 -> 2^56), leaving e one too high. HLL feeds remainders up to
    2^(60-p) with p >= 4, so correct the candidate in exact integer
    arithmetic: bit_length(w) is the unique e with 2^(e-1) <= w < 2^e."""
    w = np.asarray(w, dtype=np.int64)
    e = np.frexp(w.astype(np.float64))[1].astype(np.int64)
    too_high = (w > 0) & ((w >> np.maximum(e - 1, 0)) == 0)
    e = np.where(too_high, e - 1, e)
    too_low = (w >> np.minimum(e, 63)) > 0
    return np.where(too_low, e + 1, e)
