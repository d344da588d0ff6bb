"""Stateful streaming time-series operators.

``ewma_stream`` is the op where streaming structurally beats batch: the
recursion ``y = alpha * x + (1 - alpha) * y_prev`` runs from the START
of each series, so a batch engine needs an O(series) prefix fold per row
(quadratic work, unbounded frame) while the stream carries ONE double of
keyed state per series and does O(1) work per event. Same
arrival-order/state conventions as ``sliding.sliding_sax_stream``:
rows are processed in (order-columns) order within each micro-batch and
in arrival order across batches; state is checkpointed by the streaming
engine.

The fold itself is one multiply-add chain in a fixed order, so any
engine that replays the same recursion (e.g. a SQL prefix fold) gets
bit-identical doubles — emitted values are rounded, state carries the
unrounded accumulator.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ._util import keyed_state_stream
from .sliding import _seqsum

__all__ = [
    "cusum_stream",
    "ewma_stream",
    "holt_stream",
    "holt_winters_stream",
    "mad_zscore_stream",
    "ohlc_stream",
    "page_hinkley_stream",
    "rolling_zscore_stream",
    "twap_stream",
]

#: ``fold(rows, x, st) -> (columns, st')``; see :func:`_series_stream`
Fold = Callable[[pd.DataFrame, np.ndarray, object], tuple[dict, object]]


def _series_stream(
    events: DataFrame,
    fold: Fold,
    *,
    key: str,
    order: list[str],
    value: str,
    fields: list[StructField],
    state_schema: StructType,
    reads: tuple[str, ...] = (),
    echo_value: bool = True,
) -> DataFrame:
    """Run a per-series fold as a keyed stream with one state row per
    ``key``. ``fold`` gets one series' new rows sorted by ``order``,
    their ``value`` as float64 and the series' state (a scalar for a
    one-field ``state_schema``, else a tuple; None before the first
    write). It returns the ``fields`` columns and the new state (None:
    nothing to keep yet); ``reads`` names any other column it reads.
    Rows out are ``(key, *order[, value], *fields)``; a state equal to
    the old one is not written."""
    out_schema = StructType(
        [
            StructField(key, events.schema[key].dataType),
            *[StructField(o, events.schema[o].dataType) for o in order],
            *([StructField(value, DoubleType())] if echo_value else []),
            *fields,
        ]
    )

    def kernel(rows: pd.DataFrame, states: dict) -> pd.DataFrame:
        k = rows[key].iat[0]
        x = rows[value].astype("float64").to_numpy()
        prev = states.get(k)
        columns, st = fold(rows, x, prev)
        if st is not None and st != prev:
            states[k] = st
        echo = {value: x} if echo_value else {}
        return pd.DataFrame({key: rows[key], **{o: rows[o] for o in order}, **echo, **columns})

    return keyed_state_stream(
        events.select(*dict.fromkeys([key, *order, *reads, value])),
        kernel,
        keys=[key],
        order=order,
        out_schema=out_schema,
        shards=None,
        value_schema=state_schema,
    )


def cusum_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    value: str,
    target: float,
    slack: float,
    out: str = "cusum",
) -> DataFrame:
    """Streaming one-sided CUSUM drift monitor: per event, the running
    ``C = max(0, C + (x - target - slack))`` of its series — ONE double
    of keyed state, O(1) per event. The batch twin
    (:func:`operators.timeseries.cusum`) computes the same statistic via
    the prefix-sum identity; the stream runs the recursion directly,
    which is what a production drift monitor wants (alarm on arrival,
    no reprocessing). Same arrival-order/null-skip/quantize-downstream
    conventions as :func:`ewma_stream`; the oracle replays the exact
    recursion as a seed-0 list fold. Rows BEFORE the first non-null
    value of their series emit NULL (matching the batch twin, whose
    cumulative sum over an empty frame is NULL) — the state carries a
    ``seen`` flag so the convention survives micro-batch boundaries.

    NaN parity caveat (same as ``rolling_zscore_stream``): past the
    Arrow boundary NULL and NaN data are indistinguishable, so the
    handler skips both; the batch twin's window sum keeps a literal NaN
    (only NULL drops) and poisons the prefix. Series with NaN DATA
    values diverge from the batch twin; real streams carry none."""
    shift = float(target) + float(slack)

    def fold(rows, vals, st):
        acc, seen = st or (0.0, False)
        outs = []
        # NULL/NaN values are skipped from the fold (mirrors the
        # batch operator, whose window sum drops nulls); the row
        # still emits the running statistic — except BEFORE the
        # first valid value, where the batch twin's empty-frame
        # cumulative sum is NULL, so the stream emits None too.
        for x in vals.tolist():
            if x == x:  # not NaN
                acc = max(0.0, acc + (x - shift))
                seen = True
            outs.append(acc if seen else None)
        return {out: pd.array(outs, dtype="Float64")}, (acc, bool(seen))

    return _series_stream(
        events, fold, key=key, order=order, value=value,
        fields=[StructField(out, DoubleType())],
        state_schema=StructType(
            [StructField("acc", DoubleType()), StructField("seen", BooleanType())]
        ),
    )


def holt_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    value: str,
    alpha: float,
    beta: float,
    out_level: str = "level",
    out_trend: str = "trend",
) -> DataFrame:
    """Streaming twin of ``operators.timeseries.holt`` run UNBOUNDED:
    per-series double-exponential smoothing

    ``l' = alpha * x + (1 - alpha) * (l + t)``
    ``t' = beta * (l' - l) + (1 - beta) * t``

    seeded ``(first value, 0)``, emitting one row per event with the
    running (unrounded) level and trend. State = TWO doubles per series
    — the op's whole point: a batch engine replays an O(series) prefix
    fold per row, the stream does O(1) multiply-adds per event. Same
    arrival-order, null-skip, and quantize-downstream conventions as
    :func:`ewma_stream`; the fold arithmetic is the exact expression
    shape of the batch operator, so engines agree bit-for-bit.

    NaN parity caveat (same as ``rolling_zscore_stream``): past the
    Arrow boundary NULL and NaN data are indistinguishable, so the
    handler skips both; the batch twin's ``collect_list`` keeps a
    literal NaN (only NULL drops) and poisons its folds. Series with
    NaN DATA values diverge from the batch twin."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("holt_stream needs 0 < alpha <= 1")
    if not 0.0 <= beta <= 1.0:
        raise ValueError("holt_stream needs 0 <= beta <= 1")
    a = float(alpha)
    na = 1.0 - a
    b = float(beta)
    nb = 1.0 - b

    def fold(rows, vals, lt):
        levels, trends = [], []
        # NULL/NaN values are SKIPPED from the fold (mirrors the
        # batch operator's collect_list null-drop); the row still
        # emits the running level/trend of the non-null prefix.
        for x in vals.tolist():
            if x == x:  # not NaN
                if lt is None:
                    lt = (x, 0.0)
                else:
                    l0, t0 = lt
                    # identical expression shape to the batch fold:
                    # l' recomputed inside the trend update
                    lt = (
                        a * x + na * (l0 + t0),
                        b * ((a * x + na * (l0 + t0)) - l0) + nb * t0,
                    )
            levels.append(lt[0] if lt is not None else None)
            trends.append(lt[1] if lt is not None else None)
        return {
            out_level: pd.array(levels, dtype="Float64"),
            out_trend: pd.array(trends, dtype="Float64"),
        }, lt

    return _series_stream(
        events, fold, key=key, order=order, value=value,
        fields=[StructField(out_level, DoubleType()), StructField(out_trend, DoubleType())],
        state_schema=StructType([StructField("l", DoubleType()), StructField("t", DoubleType())]),
    )


def ewma_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    value: str,
    alpha: float,
    out: str = "ewma",
) -> DataFrame:
    """Per-series recursive EWMA over a stream: emits one row per input
    event with the running ``y = alpha * x + (1 - alpha) * y`` seeded by
    the series' first value. State = one unrounded double per series.
    Values are emitted UNROUNDED — quantize downstream with
    ``operators.quantize`` (floor(x*10^d + 0.5)/10^d), which is
    engine-portable; ``F.round``'s HALF_UP ties can disagree with other
    engines' ``round()`` at the last kept digit."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("ewma_stream needs 0 < alpha <= 1")
    a = float(alpha)
    b = 1.0 - a

    def fold(rows, vals, acc):
        outs = []
        # NULL/NaN values are SKIPPED from the fold (they would
        # permanently poison the accumulator otherwise) — the row is
        # still emitted, carrying the running EWMA of the non-null
        # prefix. Mirrors the batch operator, whose collect_list
        # drops nulls (operators/timeseries.py ewma docstring).
        for x in vals.tolist():
            if x == x:  # not NaN
                acc = x if acc is None else a * x + b * acc
            outs.append(acc)
        return {out: pd.array(outs, dtype="Float64")}, acc

    return _series_stream(
        events, fold, key=key, order=order, value=value,
        fields=[StructField(out, DoubleType())],
        state_schema=StructType([StructField("acc", DoubleType())]),
    )


def mad_zscore_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    value: str,
    window: int,
    out: str = "rzscore",
) -> DataFrame:
    """Streaming twin of ``operators.timeseries.mad_zscore``: per event,
    the trailing-``window`` median/MAD robust z-score of its series.
    State = the last ``window - 1`` RAW values per key (NaN markers
    kept, so the frame's row positions match the batch window exactly);
    the frame's non-NaN values feed exact sorted-median arithmetic —
    the same sort + (a+b)/2 + 0.6745 scaling as the batch operator, so
    clean series match it bit-for-bit. Emits UNROUNDED scores (NaN for
    flat-MAD frames; quantize + NULL-convert downstream).

    NaN parity caveat (same as ``rolling_zscore_stream``): past the
    Arrow boundary NULL and NaN data are indistinguishable, so the
    frame filter drops both; the batch twin's ``collect_list`` keeps a
    literal NaN (only NULL drops) and its sorted-median arithmetic
    propagates it. Series with NaN DATA values diverge from the batch
    twin; real event streams carry none."""
    if window < 2:
        raise ValueError("mad_zscore_stream needs window >= 2")

    def _median(sorted_vals: np.ndarray) -> float:
        n = len(sorted_vals)
        half = n // 2
        if n % 2 == 1:
            return float(sorted_vals[half])
        return (float(sorted_vals[half - 1]) + float(sorted_vals[half])) / 2.0

    def fold(rows, vals, buf):
        buf = list(buf or [])
        hist = buf + vals.tolist()
        ns, scores = [], []
        for j in range(len(buf), len(hist)):
            frame = np.asarray(hist[max(0, j - window + 1) : j + 1], dtype="float64")
            frame = frame[~np.isnan(frame)]
            ns.append(len(frame))
            x = hist[j]
            if len(frame) == 0 or x != x:
                scores.append(np.nan)
                continue
            sv = np.sort(frame, kind="stable")
            med = _median(sv)
            sd = np.sort(np.abs(frame - med), kind="stable")
            mad = _median(sd)
            scores.append(0.6745 * (x - med) / mad if mad > 0 else np.nan)
        return {"n_window": pd.array(ns, dtype="int64"), out: scores}, hist[-(window - 1) :]

    return _series_stream(
        events, fold, key=key, order=order, value=value,
        fields=[StructField("n_window", LongType()), StructField(out, DoubleType())],
        state_schema=StructType([StructField("buf", ArrayType(DoubleType()))]),
    )


def rolling_zscore_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    value: str,
    window: int,
    out: str = "zscore",
) -> DataFrame:
    """Streaming twin of ``operators.timeseries.rolling_zscore``: per
    event, the trailing-``window`` z-score of its series. State = the
    last ``window - 1`` raw values per key (bounded, like the sliding
    SAX ring). Sums accumulate in index order (numpy cumsum) so the
    moments are bit-identical to the batch plan's sequential JVM window
    folds — same convention as ``sliding._seqsum``. Emits the UNROUNDED
    z (NaN for flat windows; round + NULL-convert downstream with
    ``F.round``/``nanvl`` to mirror SQL semantics).

    NaN parity caveat: NaN DATA values are indistinguishable from the
    warm-up padding here and are excluded from the moments, while the
    batch operator lets a NaN poison its frames (NULL z but counted
    n_window). Series with NaN data diverge from the batch twin on
    n_window; real event streams carry no NaN values."""
    if window < 2:
        raise ValueError("rolling_zscore_stream needs window >= 2")

    def fold(rows, vals, buf):
        hist = np.concatenate([np.asarray(buf or [], dtype="float64"), vals])
        padded = np.concatenate([np.full(window - 1, np.nan), hist])
        frames = np.lib.stride_tricks.sliding_window_view(padded, window)
        frames = frames[len(hist) - len(vals) :]  # new rows only
        finite = ~np.isnan(frames)
        n = finite.sum(axis=1).astype("float64")
        fv = np.where(finite, frames, 0.0)
        mu = _seqsum(fv, axis=1) / n
        var = _seqsum(fv * fv, axis=1) / n - mu * mu
        with np.errstate(invalid="ignore", divide="ignore"):
            z = np.where(var > 0, (vals - mu) / np.sqrt(var), np.nan)
        return {"n_window": n.astype("int64"), out: z}, hist[-(window - 1) :].tolist()

    return _series_stream(
        events, fold, key=key, order=order, value=value,
        fields=[StructField("n_window", LongType()), StructField(out, DoubleType())],
        state_schema=StructType([StructField("buf", ArrayType(DoubleType()))]),
    )


def holt_winters_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    value: str,
    alpha: float,
    beta: float,
    gamma: float,
    season: int,
) -> DataFrame:
    """Streaming twin of ``operators.timeseries.holt_winters`` run
    UNBOUNDED: per-series additive Holt-Winters with keyed state of
    ``2 + season`` doubles plus the seasonal phase counter — O(season)
    state per series, O(1) multiply-adds per event, where the batch
    engine replays an O(prefix) fold per row.

    The seasonal phase advances with EVERY arriving row (null-valued
    rows hold the fold but consume their phase slot, mirroring the
    batch operator's row_number phase); the update expressions are the
    exact trees of the batch fold, so engines agree bit-for-bit. Emits
    the running (unrounded) ``level``, ``trend``, ``season_adj`` (this
    row's phase slot), and one-step ``forecast``; callers quantize
    downstream. Same NaN caveat as :func:`holt_stream`.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("holt_winters_stream needs 0 < alpha <= 1")
    if not 0.0 <= beta <= 1.0 or not 0.0 <= gamma <= 1.0:
        raise ValueError("holt_winters_stream needs beta, gamma in [0, 1]")
    if season < 2:
        raise ValueError("holt_winters_stream needs season >= 2")
    a, na = float(alpha), 1.0 - float(alpha)
    b, nb = float(beta), 1.0 - float(beta)
    g, ng = float(gamma), 1.0 - float(gamma)
    m = int(season)
    outs = ("level", "trend", "season_adj", "forecast")

    def fold(rows, vals, state):
        l0, t0, s, phase = state or (None, None, [0.0] * m, 0)
        s = list(s)
        st = (l0, t0) if l0 is not None else None
        cols = {c: [] for c in outs}
        for x in vals.tolist():
            j = phase % m
            if x == x:  # not NaN/NULL
                if st is None:
                    st = (x, 0.0)
                else:
                    l0, t0 = st
                    sj = s[j]
                    # identical expression trees to the batch fold
                    # (l' recomputed inline in trend and seasonal)
                    st = (
                        a * (x - sj) + na * (l0 + t0),
                        b * ((a * (x - sj) + na * (l0 + t0)) - l0) + nb * t0,
                    )
                    s[j] = g * (x - (a * (x - sj) + na * (l0 + t0))) + ng * sj
            phase += 1
            row = (None,) * 4 if st is None else (*st, s[j], st[0] + st[1] + s[(j + 1) % m])
            for c, v in zip(outs, row):
                cols[c].append(v)
        return (
            {c: pd.array(v, dtype="Float64") for c, v in cols.items()},
            (*(st or (None, None)), s, phase),
        )

    return _series_stream(
        events, fold, key=key, order=order, value=value,
        fields=[StructField(c, DoubleType()) for c in outs],
        state_schema=StructType(
            [
                StructField("l", DoubleType()),
                StructField("t", DoubleType()),
                StructField("s", ArrayType(DoubleType())),
                StructField("phase", LongType()),
            ]
        ),
    )


def twap_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    ts: str,
    value: str,
) -> DataFrame:
    """Running time-weighted average through a REAL stream: per series,
    keyed state is four doubles (previous timestamp/value, weighted
    sum, duration sum) — O(1) per event. Each event closes the
    interval opened by its predecessor, then emits the TWAP over all
    CLOSED intervals so far (first event emits NULL, no interval yet)
    -> ``(key, order..., n_intervals, twap)``, twap UNROUNDED
    (quantize downstream, same contract as ewma_stream).

    NULL/NaN previous values contribute duration but no weighted mass
    (Spark's ``sum`` skips NULL products) — exactly the batch
    operator's semantics; the oracle replays the same running prefix
    with lag + running window sums. An event with a NULL ``ts`` closes
    and opens no interval, as the batch operator keeps only intervals
    with a duration: it adds no duration, mass or count, leaves the
    previous timestamp and value as they were, and emits the running
    TWAP unchanged."""

    def fold(rows, vals, st):
        pts, pv, wsum, tsum, n = st or (None, None, 0.0, 0.0, 0.0)
        twaps, counts = [], []
        for t, x in zip(rows[ts].astype("float64").tolist(), vals.tolist()):
            if t == t:  # ts not NULL
                if pts is not None:
                    dt = t - pts
                    tsum += dt
                    n += 1.0
                    if pv == pv:  # previous value not NaN
                        wsum += pv * dt
                pts, pv = t, x
            twaps.append(wsum / tsum if tsum > 0 else None)
            counts.append(int(n))
        return {
            "n_intervals": pd.array(counts, dtype="Int64"),
            "twap": pd.array(twaps, dtype="Float64"),
        }, (pts, pv, wsum, tsum, n)

    return _series_stream(
        events, fold, key=key, order=order, value=value, reads=(ts,), echo_value=False,
        fields=[StructField("n_intervals", LongType()), StructField("twap", DoubleType())],
        state_schema=StructType(
            [StructField(f, DoubleType()) for f in ("pts", "pv", "wsum", "tsum", "n")]
        ),
    )


def page_hinkley_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    value: str,
    delta: float,
    lam: float,
    round_to: int = 6,
) -> DataFrame:
    """Page-Hinkley drift monitor as a REAL stream: keyed state is
    (count, integer value sum, integer statistic, integer running
    min) —
    O(1) per event, the recursion the batch twin replaces with
    stacked window passes. The statistic runs in the batch operator's
    EXACT INTEGER MICRO-UNITS (value and running mean floor-quantized
    once to micro counts, then pure int64 sums/min), so stream state
    ≡ batch windows row for row with no float-accumulation drift.
    NULL/NaN values update nothing and emit the running PH unchanged
    (NULL before the first real value)."""
    scale = float(10 ** round_to)
    delta_int = int(round(float(delta) * scale))
    lam_int = int(round(float(lam) * scale))

    def fold(rows, vals, st):
        n, sx_int, m_int, min_int = st or (0, 0, 0, None)
        phs, alarms = [], []
        for x in vals.tolist():
            if x == x:  # not NaN
                n += 1
                v_int = int(math.floor(x * scale + 0.5))
                sx_int += v_int
                mean_int = (2 * sx_int + n) // (2 * n)
                m_int += v_int - mean_int - delta_int
                min_int = m_int if min_int is None else min(min_int, m_int)
            if n > 0:
                ph_int = m_int - min_int
                phs.append(ph_int / scale)
                alarms.append(ph_int > lam_int)
            else:
                phs.append(None)
                alarms.append(None)
        return {
            "ph": pd.array(phs, dtype="Float64"),
            "alarm": pd.array(alarms, dtype="boolean"),
        }, ((n, sx_int, m_int, min_int) if n > 0 else None)

    # LongType state: the counters ARE exact int64 micro-units — a
    # DoubleType schema would silently lose integer precision past
    # 2^53 on an unbounded stream, defeating the whole integer-units
    # design.
    return _series_stream(
        events, fold, key=key, order=order, value=value, echo_value=False,
        fields=[StructField("ph", DoubleType()), StructField("alarm", BooleanType())],
        state_schema=StructType(
            [StructField(f, LongType()) for f in ("n", "sx", "sraw", "minm")]
        ),
    )


def ohlc_stream(
    events: DataFrame,
    *,
    key: str,
    order: list[str],
    ts: str,
    value: str,
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Running OHLC bar through a REAL stream: keyed state is ONE open
    bar (bucket id + open/high/low/close/volume — six numbers), O(1)
    per event; a new time bucket closes the previous bar and opens a
    fresh one (arrival order == event-time order, the replay-stream
    contract shared by every stream twin here). Emits the RUNNING bar
    per event -> ``(key, order..., day, open, high, low, close,
    volume)`` — the oracle replays the same prefix with running
    first/max/min window frames per (key, bucket).

    ``open`` is the bar's first value and ``close`` its latest, NULL
    included (SQL ``first_value`` respects nulls); ``high``/``low``
    skip NULL like SQL ``max``/``min``, so a bar opened by NULL reports
    NULL high/low until its first real value. NaN caveat (same as
    ``rolling_zscore_stream``): past the Arrow boundary NULL and NaN
    data are indistinguishable, so NaN values are skipped too, where
    SQL ``max`` would rank NaN above every number.

    An event with a NULL ``ts`` belongs to no bucket: it is emitted as
    a one-event bar of its own (``day`` NULL, open = high = low = close
    = its value, volume 1) and leaves the open bar untouched. Unlike the
    oracle's window SQL, which puts every NULL-``ts`` event of a series
    into one NULL-day bar, several such events are not merged."""
    outs = ("day", "open", "high", "low", "close", "volume")
    counts = ("day", "volume")

    def fold(rows, vals, st):
        day, o, h, l, c, n = st or (None,) * 6
        if st is not None:
            day, n = int(day), int(n)
        cols = {col: [] for col in outs}
        tss = rows[ts]
        for t, null, x in zip(
            tss.fillna(0).astype("int64").tolist(), tss.isna().tolist(), vals.tolist()
        ):
            if null:  # no bucket: a bar of its own
                for col, v in zip(outs, (None, x, x, x, x, 1)):
                    cols[col].append(v)
                continue
            d = t // bucket_us
            if d != day:
                day, o, h, l, n = d, x, x, x, 0
            elif x == x:  # not NULL/NaN: NaN marks a high/low with no value yet
                h = x if h != h else max(h, x)
                l = x if l != l else min(l, x)
            c, n = x, n + 1
            for col, v in zip(outs, (day, o, h, l, c, n)):
                cols[col].append(v)
        return {
            col: pd.array(v, dtype="Int64" if col in counts else "Float64")
            for col, v in cols.items()
        }, None if day is None else (float(day), o, h, l, c, float(n))

    return _series_stream(
        events, fold, key=key, order=order, value=value, reads=(ts,), echo_value=False,
        fields=[
            StructField(c, LongType() if c in counts else DoubleType())
            for c in outs
        ],
        state_schema=StructType(
            [StructField(f, DoubleType()) for f in ("day", "o", "h", "l", "c", "n")]
        ),
    )
