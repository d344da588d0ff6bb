"""Streaming exact deduplication: first-seen-wins over an unbounded
document stream — the ingest-time twin of
:func:`..operators.dedup.exact_dedup_map`.

State is keyed by the 60-bit content hash and holds only the canonical
(first-arriving) doc id, so state size is O(distinct contents) ids — the
minimum any exact streaming dedup can hold — and it is checkpointed/
restored by Structured Streaming. Arrival order defines the canonical
document (the batch operator's min-id rule coincides with it when ids
are assigned in arrival order).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ._util import keyed_state_stream
from ..functions.text import doc_hash60, normalized_text

_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("content_hash", LongType()),
        StructField("canonical_id", LongType()),
        StructField("is_duplicate", BooleanType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("canonical_id", LongType())])


def streaming_exact_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_state: int | None = None,
) -> DataFrame:
    """Per incoming document emit
    ``(doc_id, content_hash, canonical_id, is_duplicate)`` where the
    canonical id is the first document ever seen (across micro-batches,
    checkpoint-durable) with the same normalized content.

    ``shard_state``: with None (default) state is keyed per content
    hash — one long per distinct content, the unbounded-scale layout.
    With an integer N, hashes are hash-sharded into N state keys and
    each shard keeps a {content_hash -> canonical} map: the per-batch
    Python handler runs once per touched shard instead of once per
    distinct content seen in the batch. A shard that gains a content
    rewrites its whole map, O(contents per shard) per batch; a shard
    that sees only known contents writes nothing. Output is IDENTICAL
    in both modes (one kernel, exact hash keys, rows in doc_id order),
    so the same oracle gates both. Stay with None when distinct-content
    cardinality per shard would grow without bound.
    """
    hashed = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        doc_hash60(normalized_text(F.col(text_col))).alias("content_hash"),
    )

    def kernel(rows: pd.DataFrame, claim: dict) -> pd.DataFrame:
        ids, hashes = rows["doc_id"].tolist(), rows["content_hash"].tolist()
        canon = []
        for doc_id, h in zip(ids, hashes):
            c = claim.get(h)
            if c is None:
                c = claim[h] = doc_id
            canon.append(c)
        return pd.DataFrame(
            {
                "doc_id": ids,
                "content_hash": hashes,
                "canonical_id": canon,
                "is_duplicate": [d != c for d, c in zip(ids, canon)],
            }
        )

    return keyed_state_stream(
        hashed,
        kernel,
        keys=["content_hash"],
        order=["doc_id"],
        out_schema=_OUT_SCHEMA,
        value_schema=_STATE_SCHEMA,
        shards=shard_state,
    )


_SPAN_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
        StructField("span", StringType()),
        StructField("is_dropped", BooleanType()),
    ]
)

_SPAN_STATE_SCHEMA = StructType(
    [StructField("first_doc", LongType()), StructField("first_pos", LongType())]
)


def streaming_span_dedup(
    docs: DataFrame,
    *,
    span_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_spans: bool = False,
    shard_state: int | None = None,
) -> DataFrame:
    """Streaming first-occurrence SPAN dedup — the ingest-time twin of
    :func:`..operators.dedup.span_dedup`: per incoming document, every
    non-overlapping ``span_tokens``-token span is emitted with
    ``is_dropped`` = "this exact span text was seen before" (earlier
    micro-batch, or earlier (doc_id, pos) within one — checkpoint-
    durable, first-seen-wins).

    By default state is keyed by the span TEXT itself (not a hash),
    so collisions cannot mis-drop — exactly the batch operator's
    grouping key — and holds one ``(first_doc, first_pos)`` pair per
    distinct span: O(distinct spans) state, the minimum any exact
    span dedup can carry. ``hash_spans=True`` keys the state by the
    128-bit md5 of the span instead (the batch twin's knob): long
    boilerplate spans then cost 32 state-key bytes rather than their
    full text, and the span text is carried only in the output rows.
    ``shard_state``: with an integer N, state keys are hash-sharded
    into N shards, each keeping a {span_key -> (first_doc, first_pos)}
    map — the per-batch Python handler then runs once per touched
    shard instead of once per distinct span in the batch (the per-key
    handler round trips measured ~4 s/batch at 14k distinct spans).
    A shard that gains a span rewrites its whole map, O(spans per
    shard) per batch. Rows are processed in the same (doc_id, pos)
    order by the same kernel and the shard map keys are the exact span
    keys, so output is IDENTICAL in both modes — the same oracle gates
    both. Stay with None when distinct-span cardinality per shard would
    grow without bound."""
    if span_tokens < 1:
        raise ValueError("streaming_span_dedup needs span_tokens >= 1")
    from ..functions.text import tokens

    toks = tokens(F.col(text_col))
    n_sp = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_sp - 1),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.array_join(
                F.slice(toks, i * span_tokens + 1, span_tokens), " "
            ).alias("span"),
        ),
    )
    ex = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.when(n_sp > 0, spans).otherwise(
            F.array().cast("array<struct<pos:long,span:string>>")
        )).alias("s"),
    ).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.span").alias("span")
    )

    if hash_spans:
        ex = ex.withColumn("__k", F.md5(F.col("span")))
    else:
        ex = ex.withColumn("__k", F.col("span"))

    return _first_seen_stream(
        ex, at="pos", text="span", out_schema=_SPAN_OUT_SCHEMA,
        value_schema=_SPAN_STATE_SCHEMA, shards=shard_state,
    )


_LINE_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("line_no", LongType()),
        StructField("line", StringType()),
        StructField("is_dropped", BooleanType()),
    ]
)

_LINE_STATE_SCHEMA = StructType(
    [StructField("first_doc", LongType()), StructField("first_line", LongType())]
)


def streaming_line_dedup(
    docs: DataFrame,
    *,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_lines: bool = False,
    shard_state: int | None = None,
) -> DataFrame:
    """Streaming first-occurrence LINE dedup — the ingest-time twin of
    :func:`..operators.dedup.line_dedup` (C4's keep-one-line rule):
    per incoming document, every non-empty line is emitted with
    ``is_dropped`` = "this exact line was seen before" (earlier
    micro-batch, or earlier (doc_id, line_no) within one —
    checkpoint-durable, first-seen-wins; coincides with the batch
    min-(doc_id, line_no) rule under id-ordered arrival).

    State holds one ``(first_doc, first_line)`` pair per distinct
    line — O(distinct lines), the minimum any exact keep-one can
    carry. ``hash_lines=True`` keys it by the 128-bit md5 instead of
    the line text (the hash_spans convention): boilerplate lines cost
    32 state-key bytes, text rides only in output rows.

    ``shard_state``: hash-shard the state keys into N shards, one
    {line_key -> (first_doc, first_line)} map per shard; a shard that
    gains a line rewrites its whole map, O(lines per shard) per batch.
    Same rule, same output-identity argument as
    :func:`streaming_span_dedup`."""
    if not sep:
        raise ValueError("streaming_line_dedup needs a non-empty separator")
    import re as _re

    parts = F.split(F.col(text_col), _re.escape(sep))
    ex = (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.posexplode(parts).alias("__p0", "line"),
        )
        .where(F.col("line") != "")
        .select(
            "doc_id",
            (F.col("__p0") + 1).cast("long").alias("line_no"),
            "line",
        )
    )
    if hash_lines:
        ex = ex.withColumn("__k", F.md5(F.col("line")))
    else:
        ex = ex.withColumn("__k", F.col("line"))

    return _first_seen_stream(
        ex, at="line_no", text="line", out_schema=_LINE_OUT_SCHEMA,
        value_schema=_LINE_STATE_SCHEMA, shards=shard_state,
    )


def _first_seen_stream(
    ex: DataFrame,
    *,
    at: str,
    text: str,
    out_schema: StructType,
    value_schema: StructType,
    shards: int | None,
) -> DataFrame:
    """First-seen-wins over ``(doc_id, at, text, __k)`` rows: state maps
    the key ``__k`` to its first ``(doc_id, at)``, and a row is dropped
    iff an earlier ``(doc_id, at)`` holds its key."""

    def kernel(rows: pd.DataFrame, first_of: dict) -> pd.DataFrame:
        ids, ats = rows["doc_id"].tolist(), rows[at].tolist()
        dropped = []
        for k, here in zip(rows["__k"].tolist(), zip(ids, ats)):
            f = first_of.get(k)
            if f is None:
                first_of[k] = f = here
            dropped.append(here != f)
        return pd.DataFrame(
            {"doc_id": ids, at: ats, text: rows[text].tolist(), "is_dropped": dropped}
        )

    return keyed_state_stream(
        ex,
        kernel,
        keys=["__k"],
        order=["doc_id", at],
        out_schema=out_schema,
        value_schema=value_schema,
        shards=shards,
    )
