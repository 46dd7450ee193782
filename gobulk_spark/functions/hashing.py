"""Process-stable hashing utilities.

Python's builtin ``hash()`` is salted per process (PYTHONHASHSEED), which
would make model features non-deterministic across executors. Everything
here hashes via zlib.crc32 / hashlib, which are stable everywhere.

The vectorization idiom used throughout the engine: hash *unique* values
only (``pandas.factorize``), then gather back — Python touches O(unique)
strings, numpy does the O(rows) work.
"""

from __future__ import annotations

import zlib

import numpy as np


def crc_bucket_unique(values: np.ndarray, nbuckets: int) -> np.ndarray:
    """Hash an array of unique strings -> int64 buckets (python over uniques only)."""
    return np.fromiter(
        (zlib.crc32(v.encode("utf-8")) % nbuckets for v in values),
        dtype=np.int64,
        count=len(values),
    )


def stable_int64(s: str) -> int:
    """64-bit stable hash of a string (two independent crc32 halves)."""
    b = s.encode("utf-8")
    hi = zlib.crc32(b) & 0xFFFFFFFF
    lo = zlib.crc32(b"\x01" + b) & 0xFFFFFFFF
    return (hi << 32) | lo
