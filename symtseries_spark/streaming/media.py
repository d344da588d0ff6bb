"""Streaming perceptual near-dup gate for media — the ingest-time
twin of :func:`..operators.multimodal.dhash_pairs`, the way
``streaming_minhash_dedup`` twins the batch MinHash join.

Design: the dHash is a pure scan-stage JVM projection
(``media_dhash``), so it runs on a streaming DataFrame unchanged — no
streaming aggregation needed. Each payload then explodes into its
``bands`` (band, chunk) rows with EXACTLY the batch operator's chunk
arithmetic (``shiftright % 2^width``, last band takes the remaining
bits), and ``applyInPandasWithState`` keyed by the bucket tracks one
claimant per occupied bucket: ``(smallest media_id ever seen, its
full dhash)``. An arriving payload is flagged a near-duplicate iff
ANY of its buckets holds an earlier claimant whose full hash is
within ``max_hamming`` (the ``bit_count(xor)`` refine runs in the
handler against the stored claimant hash — exact, not bucket-equality
-approximate).

Bounded-state tradeoff, stated honestly: the batch join emits ALL
pairs within the radius; this gate compares each arrival only to its
buckets' CLAIMANTS (state is one (long, long) per occupied bucket —
the production footprint). A payload within radius of some earlier
non-claimant but outside radius of every claimant passes the gate.
With micro-batches replayed in id order the rule is exactly
"the bucket's global-min id, if within radius" — a plain SQL oracle
reproduces it bit-for-bit, which is what the registered query gates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.multimodal import media_dhash
from ._util import keyed_state_stream

__all__ = ["streaming_dhash_dedup"]

_OUT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("band", LongType()),
        StructField("dup_of", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("claimant", LongType()),
        StructField("claimant_dhash", LongType()),
    ]
)


def streaming_dhash_dedup(
    media: DataFrame,
    *,
    max_hamming: int,
    bands: int,
    rows: int = 7,
    cols: int = 9,
    id_col: str = "media_id",
    payload_col: str = "payload",
    shard_state: int | None = None,
) -> DataFrame:
    """Per incoming payload emit one row PER BAND:
    ``(media_id, band, dup_of)`` where ``dup_of`` is the bucket's
    earlier claimant id if the claimant's full dhash is within
    ``max_hamming`` (NULL otherwise — including when this payload
    claims the bucket). Downstream ``min(dup_of) GROUP BY media_id``
    gives the gate verdict. Claimancy is smallest-id-wins regardless
    of hamming (the deterministic rule the oracle replays); ids are
    assumed assigned in arrival order, as in the sibling stream
    dedups.

    ``shard_state``: with an integer N, buckets are hash-sharded into
    N state keys, each shard keeping a {(band, chunk) -> (claimant,
    dhash)} map — the per-batch Python handler runs once per touched
    shard instead of once per occupied bucket. A shard that gains or
    re-claims a bucket rewrites its whole map, O(buckets per shard)
    per batch. One kernel, exact (band, chunk) keys in the shard map
    and the same media_id order within a bucket make output IDENTICAL
    in both modes."""
    if max_hamming < 0:
        raise ValueError("streaming_dhash_dedup needs max_hamming >= 0")
    if bands <= max_hamming:
        raise ValueError("pigeonhole exactness needs bands > max_hamming")
    nbits = rows * (cols - 1)
    per = nbits // bands
    if per < 1:
        raise ValueError("bands exceed the bit width")

    h = media_dhash(
        media, rows=rows, cols=cols, id_col=id_col, payload_col=payload_col
    )
    chunks = h.select(
        "media_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band"),
                        (
                            F.shiftright(F.col("dhash"), b * per)
                            % F.lit(
                                1
                                << (
                                    per
                                    if b < bands - 1
                                    else nbits - (bands - 1) * per
                                )
                            )
                        ).alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("s"),
    ).select(
        "media_id",
        "dhash",
        F.col("s.band").alias("band"),
        F.col("s.chunk").alias("chunk"),
    )

    def kernel(rows: pd.DataFrame, claim: dict) -> pd.DataFrame:
        ids, bands = rows["media_id"].tolist(), rows["band"].tolist()
        dup_of: list[int | None] = []
        for bucket, mid, dh in zip(
            zip(bands, rows["chunk"].tolist()), ids, rows["dhash"].tolist()
        ):
            got = claim.get(bucket)
            if (
                got is not None
                and got[0] < mid
                and bin(got[1] ^ dh).count("1") <= max_hamming
            ):
                dup_of.append(got[0])
            else:
                dup_of.append(None)
            if got is None or mid < got[0]:
                claim[bucket] = (mid, dh)
        return pd.DataFrame(
            {
                "media_id": ids,
                "band": bands,
                "dup_of": pd.array(dup_of, dtype="Int64"),
            }
        )

    return keyed_state_stream(
        chunks,
        kernel,
        keys=["band", "chunk"],
        order=["media_id"],
        out_schema=_OUT_SCHEMA,
        value_schema=_STATE_SCHEMA,
        shards=shard_state,
    )
