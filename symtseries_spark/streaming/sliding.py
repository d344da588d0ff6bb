"""Structured Streaming parity for the reference's sliding window.

The reference IS a streaming operator: per-element append into a ring
buffer with emit-on-every-event and NaN padding while partially full
(src/symtseries.c:481-492, 301-323). This module reproduces those
semantics with ``applyInPandasWithState``:

* keyed state = the last ``n`` values per series (the ring buffer;
  <= 4096 doubles by the reference's own cap, so state size is bounded),
* one output row per input event carrying the current word,
* arrival-order semantics — the reference has no event time or late-data
  concept, so rows are processed in (order-columns) order *within* each
  micro-batch and in arrival order across batches; watermarking would be
  an extension, not parity.

Checkpointing of the state (the reference's ``serialize_sax``,
lua/lua_sax.c:293-342) comes free from the streaming checkpoint dir.

Every SAX path letters a frame from the same partials (sum and non-NaN
count) by the same rule, ``functions/sax.py::frame_letter_index``, but
each computes the window statistics its own way: this module with
sequential two-pass NumPy sums, ``pykernel.mu_std`` with ``math.fsum``,
and ``sliding_sax`` with Spark's ``avg``/``stddev_pop``. So stream and
batch words (the reference's own metamorphic test,
src/symtseries.c:816-850) can differ only where z lies within rounding
of a breakpoint. ``tests/test_streaming.py`` checks this against
``pykernel`` (``TestEncodeWindowsKernel``,
``TestShardedSlidingStream``) and against ``sliding_sax``
(``TestStreamingParity``, ``test_sliding_stream_echoes_nan_value_as_null``).

Scale notes.

* Layout: series keys are hash-sharded into a fixed 16 state keys
  (:data:`_SHARDS`, ``pmod(hash(key), 16)``). Each shard stores its
  series in ``keyed_state_stream``'s columnar layout: ``<key>:
  array<key type>`` and ``buf: array<binary>``, one float64 buffer of
  ``n`` values per series, each crossing to the JVM as one ``byte[]``;
  ``array<array<double>>`` would move every value as its own pickled
  float and boxed JVM ``Double`` on each state write. This schema is
  the checkpoint's, so a checkpoint written in an earlier layout does
  not resume. Per micro-batch the handler runs once per touched
  shard, not once per touched series, and encodes all of the shard's
  new events in one vectorized ``_encode_windows`` call over the
  series' ``[buffer ‖ new values]`` segments laid end to end.
* Why a constant: the shard count is baked into the plan and into the
  checkpoint's state keys, so it cannot follow the data without a
  restart-safe record of the old count. 16 is four shards per core on
  a 4-core host. In saxbench ``stream_sliding`` runs there (seeds 3
  and 7), 8 shards cost 0–9 % less CPU per batch but cap state
  parallelism at 8 partitions, and 64 shards cost 13–16 % more: each
  handler call has a fixed cost of about 7 ms, of which the kernel
  itself is under 2 ms.
* State rewrite: a touched shard rewrites all its buffers, which is
  O(series per shard × n × 8 B) per batch (400 series at n = 64 make
  about 13 kB per shard when spread over all 16).
* The floor this layout cannot remove: every Python task of a batch
  pays about 0.1–0.16 CPU-s in pyspark's
  ``worker_util.setup_spark_files``, where
  ``importlib.invalidate_caches()`` re-reads the directory of
  ``pyspark.zip`` once for each of its cached zipimporters (14–18 in a
  worker); at 4 state partitions that is up to about 0.65 CPU-s per
  batch, whatever the shard count.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ._util import keyed_state_stream
from ..constants import BREAKPOINTS, LETTERS, MISSING, STAT_EPS, validate_params

#: state shards of :func:`sliding_sax_stream` (see "Scale notes")
_SHARDS = 16


def _seqsum(a: np.ndarray, axis: int) -> np.ndarray:
    """Left-to-right sequential float sum. numpy's ``.sum`` uses pairwise
    summation (block size 128), which can differ from the batch path's
    sequential JVM fold by an ulp — enough to flip a letter when a
    z-value sits exactly on a breakpoint. cumsum accumulates in index
    order, so each frame sum is the left-to-right sum of its values
    (masked positions contribute +0.0, which is exact). The window stats
    are still this module's own two-pass: the batch plan takes σ from
    Spark's online ``stddev_pop``, so a stream word can differ from the
    batch one where a z-value is within rounding of a breakpoint."""
    return np.cumsum(a, axis=axis).take(-1, axis=axis)


def _encode_windows(
    history: np.ndarray, n: int, w: int, c: int, starts: np.ndarray | None = None
) -> list[str]:
    """Words for the length-``n`` windows of ``history`` that begin at
    ``starts`` (default: every window, i.e. positions n-1 .. len-1).
    Vectorized: one strided view, finite-only window stats, and each
    frame lettered from its partials (sum and non-NaN count) by the
    letter rule of :func:`..functions.sax.frame_letter_index`. The stats
    are sequential two-pass NumPy sums, where ``pykernel.mu_std`` uses
    ``math.fsum``, so a word can differ from ``pykernel.encode`` only
    where z lies within rounding of a breakpoint
    (``tests/test_streaming.py::TestEncodeWindowsKernel``)."""
    f = n // w
    windows = np.lib.stride_tricks.sliding_window_view(history, n)  # (m, n)
    if starts is not None:
        windows = windows[starts]
    finite = np.isfinite(windows)
    cnt = finite.sum(axis=1)
    vals = np.where(finite, windows, 0.0)
    mu = np.where(cnt > 0, _seqsum(vals, axis=1) / np.maximum(cnt, 1), 0.0)
    ssd = _seqsum(np.where(finite, (windows - mu[:, None]) ** 2, 0.0), axis=1)
    std = np.where(cnt > 0, np.sqrt(ssd / np.maximum(cnt, 1)), 0.0)

    frames = windows.reshape(-1, w, f)
    nonnan = ~np.isnan(frames)
    fcnt = nonnan.sum(axis=2)
    with np.errstate(invalid="ignore", divide="ignore"):
        fsum = _seqsum(np.where(nonnan, frames, 0.0), axis=2)  # Inf - Inf -> NaN
        z = (fsum - fcnt * mu[:, None]) / (fcnt * std[:, None])
    z[std < STAT_EPS] = 0.0
    ix = np.select(
        [(fcnt == 0) | np.isnan(fsum), fsum == math.inf, fsum == -math.inf],
        [c, c - 1, 0],
        (z[:, :, None] >= np.array(BREAKPOINTS[c])).sum(axis=2),
    )
    letters = np.array(list(LETTERS[:c] + MISSING))[ix]
    # each row's w one-letter cells, read as one w-letter string
    return np.ascontiguousarray(letters).view(f"<U{w}").ravel().tolist()


def sliding_sax_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    value: str,
    n: int,
    w: int,
    c: int,
    out: str = "sax_word",
) -> DataFrame:
    """Streaming twin of :func:`..operators.windows.sliding_sax`: for
    every incoming event, emit ``(key, *order, value, word)`` where word
    covers the last ``n`` values of that series (NaN-padded while the
    series is shorter than ``n``).

    The word follows the batch word's letter rule for every value, NaN
    and ±Inf included (see the module docstring for where rounding can
    part them), but a NaN ``value`` is echoed as NULL: pyspark's Arrow
    writer masks NaN as null on the way out of the state handler, and
    the handler cannot tell the two apart (a NULL value reads as NaN
    too). ±Inf is echoed as is."""
    validate_params(n, w, c)
    key_type = events.schema[key].dataType
    out_schema = StructType(
        [
            StructField(key, key_type),
            *[StructField(o, events.schema[o].dataType) for o in order],
            StructField(value, DoubleType()),
            StructField(out, StringType()),
        ]
    )
    blank = np.full(n, math.nan).tobytes()

    def kernel(rows: pd.DataFrame, bufs: dict) -> pd.DataFrame:
        vals = rows[value].to_numpy(dtype="float64", na_value=math.nan)
        seg = pd.factorize(rows[key], use_na_sentinel=False)[0]
        counts = np.bincount(seg)
        series = rows[key].iloc[np.cumsum(counts) - counts].tolist()
        # every series' [buffer ‖ new values], laid end to end
        begins = np.cumsum(counts + n) - counts - n
        buf_at = begins[:, None] + np.arange(n)
        history = np.empty(len(vals) + n * len(series))
        history[buf_at] = np.frombuffer(
            b"".join([bufs.get(s, blank) for s in series]), "float64"
        ).reshape(-1, n)
        at = np.arange(len(vals)) + n * (seg + 1)
        history[at] = vals
        # only windows ending on a new value, so none straddles two series
        words = _encode_windows(history, n, w, c, starts=at - n + 1)
        for s, buf in zip(series, history[buf_at + counts[:, None]]):
            bufs[s] = buf.tobytes()
        return pd.DataFrame(
            {key: rows[key], **{o: rows[o] for o in order}, value: vals, out: words}
        )

    return keyed_state_stream(
        events.select(key, *order, value),
        kernel,
        keys=[key],
        order=order,
        out_schema=out_schema,
        shards=_SHARDS,
        value_schema=StructType([StructField("buf", BinaryType())]),
    )
