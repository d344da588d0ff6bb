"""Seeded input generator for the SAX engine benchmark.

Everything the engine reads is produced here from one integer seed and
written as long-form parquet ``(sid, t, v)`` files; the same seed gives
byte-identical arrays. The engine never sees the generator's in-memory
arrays, only the files; the reference checks use the arrays.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named input stream, so resizing one
    input does not shift the values of another."""
    tag = int.from_bytes(stream.encode(), "little") % (2**63)
    return np.random.default_rng([seed, tag])


def random_walks(rng: np.random.Generator, n_series: int, length: int) -> np.ndarray:
    """``(n_series, length)`` Gaussian random walks started at 0."""
    return np.cumsum(rng.standard_normal((n_series, length)), axis=1)


def inject_nonfinite(rng: np.random.Generator, x: np.ndarray, share: float) -> np.ndarray:
    """Copy of ``x`` with ``share`` of its points set to NaN, +Inf or
    -Inf (equal thirds), at uniformly random positions."""
    out = x.copy()
    flat = out.reshape(-1)
    hits = rng.choice(flat.size, size=int(round(flat.size * share)), replace=False)
    kinds = rng.integers(0, 3, size=hits.size)
    flat[hits] = np.array([np.nan, np.inf, -np.inf])[kinds]
    return out


def plant_motifs(
    rng: np.random.Generator,
    windows: np.ndarray,
    *,
    n_motifs: int,
    share: float,
    noise: float,
) -> np.ndarray:
    """Overwrite ``share`` of the rows of ``windows`` (``(count, n)``)
    with noisy copies of ``n_motifs`` random-walk shapes: each copy is a
    motif scaled and shifted at random plus Gaussian noise of ``noise``
    times the motif's own standard deviation, so z-normalized copies of
    one motif sit close together while random windows rarely do."""
    out = windows.copy()
    count, n = out.shape
    motifs = random_walks(rng, n_motifs, n)
    rows = rng.choice(count, size=int(round(count * share)), replace=False)
    which = rng.integers(0, n_motifs, size=rows.size)
    scale = rng.uniform(0.5, 2.0, size=(rows.size, 1))
    shift = rng.normal(0.0, 5.0, size=(rows.size, 1))
    sd = motifs[which].std(axis=1, keepdims=True)
    jitter = rng.standard_normal((rows.size, n)) * noise * sd
    out[rows] = (motifs[which] + jitter) * scale + shift
    return out


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int, a: float) -> np.ndarray:
    """``size`` keys in ``[0, n_keys)`` with Zipf(``a``) popularity; the
    key ranks are shuffled so the hot keys are not the small ids. The
    shuffle is the same for every seed: which keys are hot, and so which
    hash partition each hot key lands in, is part of the workload, and
    ``rng`` draws only the arrival sequence. (A seeded shuffle moved the
    hottest key, a fifth of all events under a=1.1 over 400 keys, between
    partitions and with it the batch time by a quarter from seed to
    seed.)"""
    ranks = np.arange(1, n_keys + 1, dtype="float64")
    p = ranks**-a
    p /= p.sum()
    perm = np.random.default_rng(n_keys).permutation(n_keys)
    return perm[rng.choice(n_keys, size=size, p=p)].astype("int64")


def series_table(sids: np.ndarray, values: np.ndarray, t0: int = 0) -> pa.Table:
    """Long-form ``(sid, t, v)`` table for a ``(len(sids), length)``
    value matrix, ``t`` counting from ``t0`` within each series."""
    n_series, length = values.shape
    return pa.table(
        {
            "sid": np.repeat(np.asarray(sids, dtype="int64"), length),
            "t": np.tile(np.arange(t0, t0 + length, dtype="int64"), n_series),
            "v": values.reshape(-1).astype("float64"),
        }
    )


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
