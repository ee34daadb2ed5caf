"""Config scalar unit parsing — size and sleep/duration strings.

Mirrors the reference's converters (`src/util.c:525-568`):

- ``size64_atou64``: float prefix + case-insensitive suffix ``gb|mb|kb|b``
  (powers of 1024), bare number = bytes, anything else = error.
- ``usleep_atou64``: float prefix + suffix ``s|ms|us``, bare number =
  microseconds, anything else = error.

Deviations (deliberate): the reference signals bad input by returning
UINT64_MAX, which silently becomes a huge valid-looking config value; here
bad input raises ``ValueError`` at spec-parse time. ``tb`` is accepted as a
natural extension (100 TB corpora are the design point).
"""

from __future__ import annotations

import re

_NUM_RE = re.compile(r"^\s*([+]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)([a-zA-Z]*)\s*$")

_SIZE_FACTORS = {
    "": 1,
    "b": 1,
    "kb": 1024,
    "mb": 1024**2,
    "gb": 1024**3,
    "tb": 1024**4,
}

_DURATION_FACTORS_US = {
    "": 1,
    "us": 1,
    "ms": 1_000,
    "s": 1_000_000,
}


def _parse(value, factors: dict[str, int], what: str) -> int:
    if isinstance(value, bool):
        raise ValueError(f"bad {what} value: {value!r}")
    if isinstance(value, (int, float)):
        if value < 0:
            raise ValueError(f"{what} must be non-negative: {value!r}")
        return int(value)
    m = _NUM_RE.match(str(value))
    if not m:
        raise ValueError(f"cannot parse {what} {value!r}")
    num, unit = float(m.group(1)), m.group(2).lower()
    if unit not in factors:
        raise ValueError(
            f"unknown {what} unit {m.group(2)!r} in {value!r} "
            f"(expected one of {sorted(u for u in factors if u)})"
        )
    try:
        return int(num * factors[unit])
    except (OverflowError, ValueError) as e:  # e.g. "9e999" → float inf
        raise ValueError(f"{what} value out of range: {value!r}") from e


def parse_size_bytes(value) -> int:
    """``"10MB"`` → 10485760; bare numbers are bytes (util.c:525-546)."""
    return _parse(value, _SIZE_FACTORS, "size")


def parse_duration_us(value) -> int:
    """``"100ms"`` → 100000; bare numbers are µs (util.c:548-568)."""
    return _parse(value, _DURATION_FACTORS_US, "duration")

