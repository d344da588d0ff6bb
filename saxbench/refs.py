"""Independent reference answers and the checks that compare the
engine's outputs against them.

References come from the generator's in-memory arrays and the scalar
``pykernel`` twin (or plain NumPy), never from a Spark plan, and are
computed outside every timed region. Each ``check_*`` returns a list of
human-readable problems; an empty list means the output is correct.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import numpy as np

from symtseries_spark import pykernel as pk

# exact distances this close to the search radius may legitimately land
# on either side of it after a different summation order
BOUNDARY_TOL = 1e-9


def check_words(expected: dict, got: Iterable[tuple]) -> list[str]:
    """``expected``: key -> word; ``got``: ``(key, word)`` pairs. Every
    expected key must appear exactly once with the expected word."""
    problems, seen = [], set()
    for key, word in got:
        if key not in expected:
            continue
        if key in seen:
            problems.append(f"{key}: emitted twice")
        seen.add(key)
        if word != expected[key]:
            problems.append(f"{key}: got {word!r}, expected {expected[key]!r}")
    for key in expected.keys() - seen:
        problems.append(f"{key}: missing")
    return problems


def znorm(windows: np.ndarray) -> np.ndarray:
    """Row-wise z-normalization with population sigma; flat rows
    (sigma below the kernel's STAT_EPS) become all zeros."""
    mu = windows.mean(axis=1, keepdims=True)
    sd = windows.std(axis=1, keepdims=True)
    flat = sd < pk.STAT_EPS
    return np.where(flat, 0.0, (windows - mu) / np.where(flat, 1.0, sd))


def pairs_within(keys: np.ndarray, windows: np.ndarray, delta: float) -> dict:
    """Brute-force all-pairs exact z-normalized Euclidean distance:
    ``{(key_a, key_b): dist}`` for every unordered pair (``key_a <
    key_b``) with distance <= ``delta``."""
    z = znorm(windows)
    order = np.argsort(keys)
    keys, z = keys[order], z[order]
    out = {}
    block = 256
    for lo in range(0, len(z), block):
        zb = z[lo : lo + block]
        d = np.sqrt(((zb[:, None, :] - z[None, :, :]) ** 2).sum(axis=2))
        ii, jj = np.nonzero(d <= delta + BOUNDARY_TOL)
        for i, j in zip(ii + lo, jj):
            if i < j:
                out[(int(keys[i]), int(keys[j]))] = float(d[i - lo, j])
    return out


def check_pairs(expected: dict, got: dict, delta: float) -> list[str]:
    """Both sides map ``(key_a, key_b)`` -> exact distance. Pairs whose
    reference distance is within BOUNDARY_TOL of ``delta`` may be present
    or absent; every other pair must match, distance included."""

    def firm(d: float) -> bool:
        return abs(d - delta) > BOUNDARY_TOL

    problems = []
    for pair, d in expected.items():
        if pair not in got:
            if firm(d):
                problems.append(f"{pair}: missing (dist {d:.6f})")
        elif abs(got[pair] - d) > 1e-7:
            problems.append(f"{pair}: dist {got[pair]:.9f}, expected {d:.9f}")
    for pair, d in got.items():
        if pair not in expected and firm(d):
            problems.append(f"{pair}: not within {delta} (dist {d:.6f})")
    return problems


def bucket_scores(
    known: Sequence[tuple[int, int, str]],
    pattern: str,
    *,
    c: int,
    n: int,
    levels: Sequence[int],
) -> list[tuple[float, int, int]]:
    """Every known word in ``pattern``'s iSAX bucket chain (equal coarse
    word at every level) as ``(mindist, series_key, window_id)``, in the
    engine's top-k order."""
    buckets = [pk.coarsen(pattern, c, cc) for cc in levels]
    p = pk.parse(pattern, c)
    return sorted(
        (pk.mindist(p, pk.parse(word, c), c=c, n_b=n), sid, wid)
        for sid, wid, word in known
        if all(pk.coarsen(word, c, cc) == b for cc, b in zip(levels, buckets))
    )


def check_topk(
    scores: list[tuple[float, int, int]], got: list[tuple[float, int, int]], k: int
) -> list[str]:
    """Compare a top-k answer with :func:`bucket_scores`. Every returned
    row must be a distinct row of the bucket carrying its own distance,
    and rank by rank it must be the reference's row — except where the
    two rows' reference distances differ by a rounding error, which may
    order them either way. Exact ties follow the (series_key, window_id)
    tiebreakers."""
    expected = scores[:k]
    ref = {(sid, wid): d for d, sid, wid in scores}
    problems = []
    if len(got) != len(expected):
        problems.append(f"{len(got)} rows, expected {len(expected)}")
    if len({(sid, wid) for _, sid, wid in got}) != len(got):
        problems.append("duplicate rows")
    for i, (d, sid, wid) in enumerate(got):
        if (sid, wid) not in ref:
            problems.append(f"rank {i}: {(sid, wid)} is not in the bucket")
        elif abs(ref[(sid, wid)] - d) > 1e-9:
            problems.append(f"rank {i}: {(sid, wid)} dist {d}, expected {ref[(sid, wid)]}")
        elif i < len(expected) and (sid, wid) != expected[i][1:]:
            gap = abs(ref[(sid, wid)] - expected[i][0])
            if gap == 0.0 or gap > 1e-9:
                problems.append(f"rank {i}: {(sid, wid)}, expected {expected[i][1:]}")
    return problems
