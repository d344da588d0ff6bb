"""Streaming funnel tracking: per-entity stage-chain state over an
event stream, emitting one row per STAGE TRANSITION.

Equivalence to the batch funnel (operators/funnel.py): the batch chain
is t_0 = min ts(stage_0), t_i = min ts(stage_i with ts > t_{i-1}).
Processing events in ascending (ts, tiebreak) order, the first
qualifying event per stage IS that minimum, and a stage slot can never
be retro-qualified by a later event (all later events have larger ts),
so the sequential greedy equals the batch chain exactly — provided the
replay delivers each key's events in time order across micro-batches
(time-span files, the repo's standard replay convention).

State per key = one timestamp per stage (s longs, bounded by the funnel
definition, not the event history). Output rows are append-safe: a
transition emitted in batch b can never be revised by batch b+1.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ._util import keyed_state_stream

__all__ = ["funnel_stream"]


def funnel_stream(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    type_col: str,
    stages: Sequence[str],
    order: Sequence[str] | None = None,
) -> DataFrame:
    """Emit ``(key, stage_idx, stage, ts)`` once per entity per stage,
    carrying the chain across micro-batches. ``order`` defaults to
    ``[ts]``; pass extra tiebreak columns for fully deterministic
    processing of equal timestamps (ties never change the chain values,
    only the processing order)."""
    if not stages:
        raise ValueError("stages must be non-empty")
    stages = list(stages)
    order = list(order) if order is not None else [ts]
    out_schema = StructType(
        [
            StructField(key, events.schema[key].dataType),
            StructField("stage_idx", IntegerType()),
            StructField("stage", StringType()),
            StructField(ts, LongType()),
        ]
    )
    stage_ix = {s: i for i, s in enumerate(stages)}

    def kernel(rows: pd.DataFrame, chains: dict) -> pd.DataFrame | None:
        k = rows[key].iat[0]
        # None-element state array: no sentinel value can collide with a
        # legitimate (e.g. pre-epoch negative) timestamp
        t = list(chains.get(k) or [None] * len(stages))
        if all(x is not None for x in t):
            return None
        out_idx: list[int] = []
        out_ts: list[int] = []
        for ev_ts, ev_type in zip(rows[ts], rows[type_col]):
            i = stage_ix.get(ev_type)
            # skip non-stage types, already-set slots, and null ts
            # (batch F.min/CASE aggregates ignore nulls the same way)
            if i is None or t[i] is not None or pd.isna(ev_ts):
                continue
            ev_ts = int(ev_ts)
            if i == 0 or (t[i - 1] is not None and ev_ts > t[i - 1]):
                t[i] = ev_ts
                out_idx.append(i)
                out_ts.append(ev_ts)
                if all(x is not None for x in t):
                    break  # chain complete: nothing left to emit
        if out_idx:
            chains[k] = t
        return pd.DataFrame(
            {
                key: [k] * len(out_idx),
                "stage_idx": pd.array(out_idx, dtype="int32"),
                "stage": [stages[i] for i in out_idx],
                ts: pd.array(out_ts, dtype="int64"),
            }
        )

    return keyed_state_stream(
        events.select(*dict.fromkeys([key, *order, ts, type_col])),
        kernel,
        keys=[key],
        order=order,
        out_schema=out_schema,
        shards=None,
        value_schema=StructType([StructField("t", ArrayType(LongType()))]),
    )
