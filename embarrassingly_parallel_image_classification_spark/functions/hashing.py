"""The portable hash: an integer read off md5's hex digest.

Every deterministic sample, fold, bucket and permutation that a DuckDB
oracle must reproduce bit for bit hashes through ``md5_int``; the
oracles spell the same value ``('0x' || substring(md5(x), start,
width))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int(s: str | Column, width: int, start: int = 1) -> Column:
    """The integer whose hex digits are md5(s)'s digits ``start`` ..
    ``start + width - 1`` (1-based), as ``conv(substring(md5(s),
    start, width), 16, 10)``.

    Width rule: ``width`` hex digits carry 4·width bits. Up to 15
    digits (60 bits) fit a signed BIGINT, so the value is a BIGINT. 16
    digits (64 bits) overflow it: conv returns the unsigned decimal
    string and a BIGINT cast of a value >= 2^63 fails, so a 16-digit
    value is a DECIMAL(20,0)."""
    h = F.conv(F.substring(F.md5(s), start, width), 16, 10)
    return h.cast("bigint" if width <= 15 else "decimal(20,0)")
