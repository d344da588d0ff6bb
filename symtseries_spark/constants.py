"""SAX constant tables, generated from closed form.

The reference (``/root/reference/src/symtseries.c:26-243``) hard-codes two
float tables:

* ``breaks``: per cardinality ``c`` the ``c-1`` standard-normal quantile
  breakpoints Phi^-1(i/c), *truncated* (toward zero) to 3 decimals.
* ``mindist_<c>``: the per-cardinality symbol-pair distance matrix
  ``dist(i, j) = 0 if |i-j| <= 1 else Phi^-1(max/c) - Phi^-1(min/c)``
  (computed from the *exact* quantiles, then *rounded* to 3 decimals).

The two conventions differ, so a pair-table entry can exceed the gap
between the truncated breakpoints it stands for (2.301 against 2.300):
``MINDIST_OVERSHOOT`` records the largest such excess per cardinality.

Rather than transcribing those tables we regenerate them from the same
closed form (``statistics.NormalDist.inv_cdf`` is a high-precision
inverse normal CDF). Generation conventions were verified to reproduce
the reference tables bit-for-bit at 3-decimal precision for every
cardinality 2..16.

Symbol convention used throughout this package: a SAX symbol is a
**letter index** ``0..c-1`` where 0 = 'A' = lowest-value bucket and
``c-1`` = highest-value bucket; the special index ``c`` is the missing
marker, printed ``#``. (The reference stores symbols in *reversed*
order internally — 0 = highest — but its only external form is the
letter string, which this convention reproduces exactly; see
``src/symtseries.c:556-576``.)
"""

from __future__ import annotations

import math
import struct
from statistics import NormalDist

MIN_CARDINALITY = 2
MAX_CARDINALITY = 16
#: sigma threshold below which a series is considered flat
#: (reference STS_STAT_EPS, include/symtseries.h:17)
STAT_EPS = 1e-2
#: Lua-layer caps (lua/lua_sax.c:26-35)
MAX_WINDOW = 4096
MAX_WORD = 2048

LETTERS = "ABCDEFGHIJKLMNOP"
MISSING = "#"

_ND = NormalDist()


def _f32(x: float) -> float:
    """Round-trip through IEEE float32 — the reference stores its tables as
    C ``float``, so comparisons happen against the f32-rounded value."""
    return struct.unpack("f", struct.pack("f", x))[0]


def _trunc3(x: float) -> float:
    return math.trunc(x * 1000.0) / 1000.0


def _round3(x: float) -> float:
    return round(x * 1000.0) / 1000.0


def _gen_breakpoints(c: int) -> tuple[float, ...]:
    out = []
    for i in range(1, c):
        q = _ND.inv_cdf(i / c)
        out.append(_f32(_trunc3(q)) if abs(q) > 1e-12 else 0.0)
    return tuple(out)


def _gen_mindist_flat(c: int) -> tuple[float, ...]:
    """Flat row-major c*c table over letter indices (symmetric, so identical
    to the reference's reversed-symbol indexing)."""
    q = [_ND.inv_cdf(i / c) for i in range(1, c)]
    out = []
    for i in range(c):
        for j in range(c):
            if abs(i - j) <= 1:
                out.append(0.0)
            else:
                out.append(_f32(_round3(q[max(i, j) - 1] - q[min(i, j)])))
    return tuple(out)


def _gen_overshoot(c: int) -> float:
    """Largest excess of a pair-table entry over the truncated-breakpoint
    gap between its two letters' buckets (letters two or more apart; the
    table holds 0 for neighbours)."""
    b, lut = BREAKPOINTS[c], MINDIST_LUT[c]
    return max(
        [lut[i * c + j] - (b[j - 1] - b[i]) for i in range(c) for j in range(i + 2, c)],
        default=0.0,
    )


#: BREAKPOINTS[c] -> ascending (c-1)-tuple of bucket boundaries
BREAKPOINTS: dict[int, tuple[float, ...]] = {
    c: _gen_breakpoints(c) for c in range(MIN_CARDINALITY, MAX_CARDINALITY + 1)
}

#: MINDIST_LUT[c] -> flat row-major c*c tuple; index [a*c + b]
MINDIST_LUT: dict[int, tuple[float, ...]] = {
    c: _gen_mindist_flat(c) for c in range(MIN_CARDINALITY, MAX_CARDINALITY + 1)
}

#: MINDIST_OVERSHOOT[c] -> how far one position's pair-table entry can
#: exceed the distance between two frame means that carry its letters
#: (about 0.001 at c=4 and c=8, 0.002 at c=16). For the words of two
#: all-finite n-point windows, MINDIST <= exact + sqrt(n) *
#: MINDIST_OVERSHOOT[c] (triangle inequality on the per-position
#: excess, then Keogh's lemma).
MINDIST_OVERSHOOT: dict[int, float] = {
    c: _gen_overshoot(c) for c in range(MIN_CARDINALITY, MAX_CARDINALITY + 1)
}


def letter_of(idx: int, c: int) -> str:
    """Letter for a letter-index; ``c`` prints '#'."""
    if idx == c:
        return MISSING
    if 0 <= idx < c:
        return LETTERS[idx]
    raise ValueError(f"symbol index {idx} out of range for cardinality {c}")


def index_of(ch: str, c: int) -> int:
    """Inverse of :func:`letter_of`; validates against the cardinality
    (reference parse rules, src/symtseries.c:534-554)."""
    if ch == MISSING:
        return c
    i = ord(ch) - ord("A")
    if not 0 <= i < c:
        raise ValueError(f"invalid SAX letter {ch!r} for cardinality {c}")
    return i


def validate_params(n: int, w: int, c: int) -> None:
    """Parameter domain gates (src/symtseries.c:301-303,515-521;
    lua/lua_sax.c:26-35)."""
    if not MIN_CARDINALITY <= c <= MAX_CARDINALITY:
        raise ValueError(f"cardinality must be in [2, 16], got {c}")
    if not 1 < w <= MAX_WORD:
        raise ValueError(f"word length must be in (1, {MAX_WORD}], got {w}")
    if not 1 < n <= MAX_WINDOW:
        raise ValueError(f"window length must be in (1, {MAX_WINDOW}], got {n}")
    if n % w != 0:
        raise ValueError(f"word length {w} must divide series length {n}")
