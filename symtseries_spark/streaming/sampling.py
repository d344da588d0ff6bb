"""Streaming weighted reservoir sampling: the ingest-time twin of
:func:`..operators.pipeline.weighted_sample_es`.

The Efraimidis-Spirakis sample is a pure function of the SET of rows
seen — per row the key ``ln(u)/w`` is deterministic (md5-rational
uniform), and the sample is the k largest keys — so the streaming
reservoir is just a per-group top-k MERGE: state holds at most k
(es_key, id, weight) triples per group, each micro-batch folds its
rows in, and the final state equals the batch operator's output
EXACTLY regardless of arrival order or batch boundaries. This is the
classic distributed-reservoir property (Efraimidis & Spirakis 2006
§3: the scheme is mergeable), expressed as keyed streaming state.

State per group: k triples + a batch counter — O(k), independent of
stream volume. Emissions carry the batch counter so a sink reader can
select the latest sample per group (the memory-sink append model
keeps every emission).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ._util import keyed_state_stream
from ..functions.text import doc_hash60

_OUT_SCHEMA = StructType(
    [
        StructField("group_key", StringType()),
        StructField("batch_no", LongType()),
        StructField("sample_rank", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("weight", DoubleType()),
        StructField("es_key", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(DoubleType())),
        StructField("ids", ArrayType(LongType())),
        StructField("weights", ArrayType(DoubleType())),
        StructField("batch_no", LongType()),
    ]
)


def streaming_weighted_sample(
    df: DataFrame,
    *,
    k: int,
    weight_col: str,
    by: str,
    id_col: str = "doc_id",
    salt: str = "es",
    round_to: int = 6,
) -> DataFrame:
    """Per group ``by``, maintain the Efraimidis-Spirakis top-k sample
    over an unbounded stream; every micro-batch emits the CURRENT
    sample per updated group tagged with ``batch_no`` (select the max
    batch per group for the latest sample). The es_key expression is
    the batch operator's, computed scan-stage BEFORE the keyed state,
    so the handler only merges (es_key desc, id asc) triples."""
    if k < 1:
        raise ValueError("streaming_weighted_sample needs k >= 1")
    m = 1 << 20
    u = (
        F.pmod(
            doc_hash60(
                F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
            ),
            F.lit(m),
        )
        + 1
    ).cast("double") / F.lit(float(m + 1))
    w = F.col(weight_col).cast("double")
    key = F.round(F.log(u) / w, round_to) + F.lit(0.0)
    keyed = df.where(w > 0).select(
        F.col(by).cast("string").alias("group_key"),
        F.col(id_col).cast("long").alias("doc_id"),
        w.alias("weight"),
        key.alias("es_key"),
    )

    def kernel(rows: pd.DataFrame, reservoirs: dict) -> pd.DataFrame:
        group = rows["group_key"].iat[0]
        keys, ids, weights, batch_no = reservoirs.get(group, ([], [], [], 0))
        pool = [
            *zip(keys, ids, weights),
            *zip(rows["es_key"].tolist(), rows["doc_id"].tolist(), rows["weight"].tolist()),
        ]
        # (es_key desc, id asc): the batch operator's exact ordering
        pool.sort(key=lambda t: (-t[0], t[1]))
        keys, ids, weights = (list(c) for c in zip(*pool[:k]))
        reservoirs[group] = (keys, ids, weights, batch_no + 1)
        return pd.DataFrame(
            {
                "group_key": [group] * len(ids),
                "batch_no": [batch_no + 1] * len(ids),
                "sample_rank": list(range(1, len(ids) + 1)),
                "doc_id": ids,
                "weight": weights,
                "es_key": keys,
            }
        )

    return keyed_state_stream(
        keyed,
        kernel,
        keys=["group_key"],
        order=[],
        out_schema=_OUT_SCHEMA,
        shards=None,
        value_schema=_STATE_SCHEMA,
    )


__all__ = ["streaming_weighted_sample"]
