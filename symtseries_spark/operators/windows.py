"""Windowed SAX word extraction over long-form series tables.

Input shape is always the production-long form ``(key, order, value)``
— e.g. the testdata ``events`` table as ``(user_id, ts, value)``.

Scale notes:

* Each operator shuffles **once**, on the series key; no driver-side
  collection anywhere (``tests/test_operators.py`` counts the hash
  exchanges). One series is one task: its windows are ordered within
  the key's partition, so a very long series is not split across tasks.
* The encoders build no per-window ``array<double>``: sliding windows
  are window aggregates per frame, tumbling windows and whole series
  are long-form frame partials (``_frame_words``); only w <= 2048
  letters are collected per word, so shuffle width is bounded and small.
* Skew: AQE skew-join handling covers the join consumers downstream; a
  series with pathological row count stays one task (see above).
* All expressions are JVM-side (no Python UDFs) — see functions/sax.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constants import MISSING, validate_params
from ..functions.sax import frame_letter, is_finite

_NAN = float("nan")


def _value_as_double(value: str | Column) -> Column:
    # NULL measurements behave like the reference's NaN ("missing") inputs
    col = F.col(value) if isinstance(value, str) else value
    return F.coalesce(col.cast("double"), F.lit(_NAN))


def _staged_values(value: str | Column) -> list[Column]:
    v = _value_as_double(value)
    return [
        F.when(is_finite(v), v).alias("__vf"),  # stats see only finite values
        F.when(~F.isnan(v), v).alias("__vn"),  # frames skip NaN but keep ±Inf
    ]


def sliding_sax(
    df: DataFrame,
    *,
    key: str | list[str],
    order: str | list[str],
    value: str,
    n: int,
    w: int,
    c: int,
    out: str = "sax_word",
    emit_partial: bool = True,
) -> DataFrame:
    """Per-row sliding-window SAX word: for every event, the word over the
    last ``n`` values of its series — the batch twin of the reference's
    emit-on-every-append window (src/symtseries.c:481-492).

    Partial windows (the first n-1 rows of each series) are NaN-padded at
    the *front*, yielding leading '#' frames exactly like the reference's
    NaN-prefilled ring buffer (src/symtseries.c:313-315); pass
    ``emit_partial=False`` to keep only full windows.
    """
    validate_params(n, w, c)
    f = n // w
    key_cols = [key] if isinstance(key, str) else list(key)
    order_cols = [order] if isinstance(order, str) else list(order)
    base = Window.partitionBy(*key_cols).orderBy(*order_cols)
    full = base.rowsBetween(-(n - 1), 0)

    # Implementation note: this is NOT the array collect_list + sax_encode
    # form — Spark evaluates higher-order array functions interpreted,
    # which costs ~1ms/row. Instead each PAA frame is its own window
    # aggregate over a row sub-frame, lettered by the shared
    # functions.sax.frame_letter rule (a codegen'd CASE).
    # CRITICAL plan shape: the raw window aggregates are materialized as
    # columns in their OWN projection before the letter arithmetic —
    # Spark does not common-subexpression-eliminate repeated window
    # expressions, so inlining them into the letter rule multiplies the
    # WindowExec work ~9x (observed _we0.._we89 for w=4, c=8). Split this
    # way, WindowExec computes exactly 2w+2 running aggregates in one
    # sorted pass and the letter CASEs run codegen'd over plain columns.
    stage = df.select("*", *_staged_values(value))

    aggs = {
        "__mu": F.avg("__vf").over(full),
        "__sigma": F.coalesce(F.stddev_pop("__vf").over(full), F.lit(0.0)),
    }
    for j in range(w):
        lo = j * f - (n - 1)  # frame j in window offsets (0 = current row)
        frame = base.rowsBetween(lo, lo + f - 1)
        aggs[f"__s{j}"] = F.sum("__vn").over(frame)
        aggs[f"__c{j}"] = F.count("__vn").over(frame)
    if not emit_partial:
        aggs["__cnt"] = F.count(F.lit(1)).over(full)
    stage = stage.withColumns(aggs)

    mu, sigma = F.col("__mu"), F.col("__sigma")
    letters = [
        frame_letter(F.col(f"__s{j}"), F.col(f"__c{j}"), mu, sigma, c) for j in range(w)
    ]
    result = stage.withColumn(out, F.concat(*letters))
    if not emit_partial:
        result = result.where(F.col("__cnt") == n)
    return result.drop("__vf", "__vn", "__cnt", *aggs.keys())


def tumbling_values(
    df: DataFrame,
    *,
    key: str,
    order: str | list[str],
    value: str,
    n: int,
    out: str = "vals",
) -> DataFrame:
    """Non-overlapping windows of ``n`` consecutive rows per series key ->
    ``(series_key, window_id, vals: array<double>)`` in series order —
    the raw-series companion of :func:`tumbling_sax`, used by
    exact-distance refinement (:func:`..operators.search.allpairs_refined`).

    One shuffle (partitionBy key for row_number) + a map-side-combinable
    groupBy on (key, window_id); the per-group state is bounded by the
    reference's n <= 4096 cap. Partial trailing windows are dropped.
    """
    order_cols = [order] if isinstance(order, str) else list(order)
    rn = F.row_number().over(Window.partitionBy(key).orderBy(*order_cols)) - 1
    # the key keeps its name until the end, so the groupBy reuses the
    # row_number shuffle; rn gets its own projection, so one row_number
    # serves both the window id and the position
    rows = df.select(F.col(key), rn.alias("__rn"), _value_as_double(value).alias("__v"))
    grouped = rows.groupBy(key, (F.col("__rn") / n).cast("long").alias("__wid")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct((F.col("__rn") % n).alias("__pos"), "__v"))),
            lambda s: s["__v"],
        ).alias("__vals")
    )
    return grouped.where(F.size("__vals") == n).select(
        F.col(key).alias("series_key"), F.col("__wid").alias("window_id"),
        F.col("__vals").alias(out),
    )


def _frame_words(rows: DataFrame, keys: list[str], w: int, c: int, out: str) -> DataFrame:
    """Rows ``(*keys, frame_id, __vf, __vn)`` -> ``(*keys, __n, out)``:
    one SAX word per key, ``__n`` = its row count, ``frame_id`` in 0..w-1.

    Long form, no per-key array: the stats are window aggregates over
    ``keys`` (no join back), one groupBy sums each frame and carries the
    stats along, and the w letters are joined in frame order. Frames with
    no rows (a partial window's tail) print '#', as if NaN-padded.
    """
    per_key = Window.partitionBy(*keys)
    frames = rows.select(
        *keys, "frame_id", "__vn",
        F.avg("__vf").over(per_key).alias("__mu"),
        F.coalesce(F.stddev_pop("__vf").over(per_key), F.lit(0.0)).alias("__sigma"),
        F.count(F.lit(1)).over(per_key).alias("__n"),
    ).groupBy(*keys, "__mu", "__sigma", "__n", "frame_id").agg(
        F.sum("__vn").alias("__s"), F.count("__vn").alias("__c")
    )
    letter = frame_letter(F.col("__s"), F.col("__c"), F.col("__mu"), F.col("__sigma"), c)
    ordered = F.array_sort(F.collect_list(F.struct("frame_id", letter.alias("l"))))
    word = F.concat_ws("", F.transform(ordered, lambda x: x["l"]))
    return frames.groupBy(*keys, "__n").agg(F.rpad(word, w, MISSING).alias(out))


def tumbling_sax(
    df: DataFrame,
    *,
    key: str,
    order: str | list[str],
    value: str,
    n: int,
    w: int,
    c: int,
    out: str = "sax_word",
    keep_partial: bool = False,
) -> DataFrame:
    """Non-overlapping windows of ``n`` consecutive rows per series key ->
    one row ``(key, window_id, sax_word)`` per window.

    Partial trailing windows are dropped by default; with
    ``keep_partial=True`` they are encoded as if NaN-padded at the *back*
    to n values. Plan: one shuffle on the series key (row_number), then
    the long-form frame builder keyed by (key, window_id); no array of
    the window's values is built.
    """
    validate_params(n, w, c)
    order_cols = [order] if isinstance(order, str) else list(order)
    rn = F.row_number().over(Window.partitionBy(key).orderBy(*order_cols)) - 1
    # the key keeps its name until the end, so the builder's windows reuse
    # the row_number shuffle instead of re-partitioning on an alias; rn
    # gets its own projection, so one row_number serves both ids
    rows = df.select(F.col(key), rn.alias("__rn"), *_staged_values(value)).select(
        F.col(key),
        (F.col("__rn") / n).cast("long").alias("__wid"),
        ((F.col("__rn") % n) / (n // w)).cast("int").alias("frame_id"),
        "__vf",
        "__vn",
    )
    words = _frame_words(rows, [key, "__wid"], w, c, out)
    if not keep_partial:
        words = words.where(F.col("__n") == n)
    return words.select(
        F.col(key).alias("series_key"), F.col("__wid").alias("window_id"), out
    )


def whole_series_sax(
    df: DataFrame,
    *,
    key: str,
    order: str | list[str],
    value: str,
    w: int,
    c: int,
    out: str = "sax_word",
) -> DataFrame:
    """One SAX word per series over its entire history, plus the series
    length ``n`` (needed for mindist compression scaling).

    Series whose length is not a multiple of ``w`` are truncated to the
    largest multiple (engine extension; the reference would reject them,
    src/symtseries.c:515-521). Series shorter than ``w`` are dropped.

    Scale design: fully long-form/relational — NO per-series array is
    ever materialized, so a series of any length (billions of points)
    streams through bounded per-row state. Plan: one sort-shuffle on the
    series key for positions, then the frame builder shared with
    :func:`tumbling_sax` keyed by the series.
    """
    validate_params(w * 2, w, c)
    order_cols = [order] if isinstance(order, str) else list(order)
    win = Window.partitionBy(key).orderBy(*order_cols)
    positioned = df.select(
        F.col(key),
        (F.row_number().over(win) - 1).alias("__pos"),
        F.count(F.lit(1)).over(Window.partitionBy(key)).alias("__len"),
        *_staged_values(value),
    )
    usable = (F.floor(F.col("__len") / w) * w).cast("long")
    rows = positioned.where((F.col("__len") >= w) & (F.col("__pos") < usable))
    rows = rows.withColumn("frame_id", (F.col("__pos") / (usable / w)).cast("int"))
    words = _frame_words(rows, [key], w, c, out)
    return words.select(
        F.col(key).alias("series_key"), F.col("__n").cast("int").alias("n"), out
    )


def numerosity_reduce(
    words: DataFrame,
    *,
    key: str,
    order: str | list[str],
    id_col: str,
    word_col: str = "sax_word",
) -> DataFrame:
    """Numerosity reduction: collapse RUNS of consecutive identical SAX
    words per series -> ``(key, start_<id>, word, run_length)``.

    The standard SAX-stream preprocessing step (Lin & Keogh's
    numerosity reduction): overlapping sliding windows emit long runs
    of the same word over smooth stretches; downstream word-based
    algorithms (VSM bags, discord candidate sets, motif streams) want
    one row per run, not per window. Run boundaries are where the
    lagged word differs (first row of a series always starts a run);
    run ids are the running sum of boundary flags — two chained window
    expressions over ONE partitioning, then a map-side-combinable
    groupBy on (key, run id): the same single-shuffle shape as
    sliding_sax itself.
    """
    order_cols = [order] if isinstance(order, str) else list(order)
    w = Window.partitionBy(key).orderBy(*order_cols)
    lagged = F.lag(F.col(word_col)).over(w)
    chg = F.when(
        lagged.isNull() | (lagged != F.col(word_col)), 1
    ).otherwise(0)
    run = F.sum(chg).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = (
        words.select(
            F.col(key),
            *[F.col(o) for o in order_cols],
            F.col(id_col),
            F.col(word_col),
            run.alias("__run"),
        )
        .groupBy(key, "__run")
        .agg(
            F.min_by(id_col, F.struct(*order_cols)).alias(f"start_{id_col}"),
            F.min(word_col).alias(word_col),
            F.count(F.lit(1)).alias("run_length"),
        )
    )
    return grouped.select(key, f"start_{id_col}", word_col, "run_length")
