"""One keyed-state helper for the ``applyInPandasWithState`` streams:
every stream of the package with Python-side state runs through it,
and no other module touches ``GroupState``.

Every stream here keeps a ``{key -> value}`` map: a series' ring buffer
or fold accumulators, a content hash's canonical id, a bucket's
claimant, a funnel's stage times, a group's reservoir. A stream supplies a
*kernel* ``kernel(rows, state) -> pandas.DataFrame | None`` that reads
the rows, sorted by ``(*keys, *order)``, updates ``state`` in place by
item assignment and returns its output rows. :func:`keyed_state_stream`
runs that one kernel in either state layout:

* ``shards=None``: one state row per key, holding that key's value in
  the stream's per-key schema. The kernel sees one key's rows.
* ``shards=N``: rows are hash-sharded into N state keys and each shard
  keeps the map of all its keys, as one array per key column and one
  per value field. The kernel runs once per shard instead of once per
  key, which is what a micro-batch touching many keys pays for: each
  handler call carries its own Arrow chunk, pandas frame and state
  round trip.

Map keys are the key column's value (a tuple for several key columns),
map values are the per-key state field (a tuple for several fields),
all plain Python scalars.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, IntegralType, StructField, StructType

Kernel = Callable[[pd.DataFrame, dict], pd.DataFrame | None]

_SHARD = "__shard"


def shard_of(h: Column, shards: int) -> Column:
    """State shard of a 32-bit hash, in ``[0, shards)`` for every hash.
    ``abs(h) % shards`` is negative for ``Integer.MIN_VALUE``, whose
    absolute value overflows back to itself."""
    return F.pmod(h, F.lit(shards))


class _StateMap(dict):
    """The kernel's map; notes whether the kernel assigned to it, so a
    shard or key the batch left alone is not written back."""

    changed = False

    def __setitem__(self, key, value) -> None:
        self.changed = True
        super().__setitem__(key, value)


def keyed_state_stream(
    rows: DataFrame,
    kernel: Kernel,
    *,
    keys: list[str],
    order: list[str],
    out_schema: StructType,
    shards: int | None,
    value_schema: StructType,
) -> DataFrame:
    """Run ``kernel`` over ``rows`` with ``{key -> value}`` state per
    ``keys`` (see the module docstring).

    ``value_schema`` is the per-key state schema. With ``shards=N`` the
    shard key is ``pmod(hash(*keys), N)``, and a shard's map is stored
    as one array per key column and one per value field, named after
    them. An array of scalars, ``BinaryType`` values included, crosses
    to the JVM without being converted element by element. A shard the
    batch touches and the kernel changes rewrites its whole map:
    O(keys per shard) per batch. The shard count and the state schema
    are part of the plan and of the checkpoint, so neither can change
    between restarts."""
    # pandas turns a nullable integer column into float64, which rounds
    # keys past 2**53 in a shard that also holds a NULL key; integer
    # keys travel NULL-free next to a NULL flag instead
    flags = {
        k: f"__null_{k}"
        for k in keys
        if isinstance(rows.schema[k].dataType, IntegralType)
    }
    rows = rows.select(*rows.columns, *[F.isnull(k).alias(f) for k, f in flags.items()])
    sort_by = [*keys, *order]

    def sorted_rows(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
        # a group's micro-batch arrives in chunks of
        # spark.sql.execution.arrow.maxRecordsPerBatch rows whose order
        # follows upstream partition interleaving, not the sort columns:
        # an order-sensitive kernel needs the whole batch sorted once.
        # None: no rows (a timeout-only call)
        chunks = list(pdfs)
        if not chunks:
            return None
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        for k, flag in flags.items():
            null = pdf.pop(flag).to_numpy()
            if null.any():
                pdf[k] = pdf[k].astype(object).where(~null, None)
        return pdf.sort_values(sort_by, kind="mergesort", ignore_index=True)

    if shards is None:
        single = len(value_schema.fields) == 1

        def handle(_key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
            pdf = sorted_rows(pdfs)
            if pdf is None:
                return
            key = pdf[keys[0]].iat[0] if len(keys) == 1 else tuple(pdf[k].iat[0] for k in keys)
            m = _StateMap(
                {key: state.get[0] if single else tuple(state.get)} if state.exists else {}
            )
            out = kernel(pdf, m)
            if out is not None:
                yield out
            if m.changed:
                state.update((m[key],) if single else tuple(m[key]))

        grouped, state_schema = rows.groupBy(*keys), value_schema
    else:
        nk, nv = len(keys), len(value_schema.fields)

        def columns(items, n: int) -> list[list]:
            items = list(items)
            return [items] if n == 1 else [[t[i] for t in items] for i in range(n)]

        def handle(_key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
            pdf = sorted_rows(pdfs)
            if pdf is None:
                return
            del pdf[_SHARD]
            m = _StateMap()
            if state.exists:
                row = state.get
                ks = row[0] if nk == 1 else zip(*row[:nk])
                vs = row[nk] if nv == 1 else zip(*row[nk:])
                m.update(zip(ks, vs))
            out = kernel(pdf, m)
            if out is not None:
                yield out
            if m.changed:
                state.update((*columns(m.keys(), nk), *columns(m.values(), nv)))

        grouped = rows.select(
            *[
                F.coalesce(c, F.lit(0).cast(rows.schema[c].dataType)).alias(c) if c in flags else c
                for c in rows.columns
            ],
            shard_of(F.hash(*keys), shards).alias(_SHARD),
        ).groupBy(_SHARD)
        state_schema = StructType(
            [
                StructField(f.name, ArrayType(f.dataType))
                for f in [*[rows.schema[k] for k in keys], *value_schema.fields]
            ]
        )
    return grouped.applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
