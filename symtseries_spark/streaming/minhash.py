"""Streaming MinHash-LSH near-duplicate filtering: first-seen-wins over
an unbounded document stream — the ingest-time twin of
:func:`..operators.dedup.minhash_lsh_pairs`.

Design: signatures must be computed WITHOUT a groupBy (a streaming
aggregation would need its own watermark/output-mode machinery), so the
shingle -> hash -> per-permutation min pipeline runs as pure per-row
higher-order functions in the scan stage; it is value-identical to the
batch operator's explode + min() aggregation because ``shingles`` is
already distinct per document. Each document then explodes into its
``bands`` (band_id, band_key) rows, and ``applyInPandasWithState``
keyed by the band bucket tracks the smallest doc id ever seen per
bucket. A document is a near-duplicate if ANY of its buckets was
claimed by an earlier document.

State is ONE long per occupied LSH bucket (the claimant id) — the same
footprint a production streaming dedup keeps — and is checkpointed by
Structured Streaming. With micro-batches replayed in id order, the
emitted ``dup_of`` is exactly the batch rule "smallest earlier doc
sharing a band", so a plain SQL oracle can reproduce it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.text import HASH_PRIME, hash_mod_prime, shingles
from ..operators.dedup import minhash_coefficients
from ._util import keyed_state_stream

__all__ = ["minhash_band_structs", "streaming_minhash_dedup"]

_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("band_id", LongType()),
        StructField("dup_of", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("min_id", LongType())])


def minhash_band_structs(
    text: Column, *, k: int, num_hashes: int, bands: int, seed: int
) -> Column:
    """Per-row LSH band keys: ``array<struct<band_id, band_key>>``.

    Value-identical to banding :func:`..operators.dedup.
    minhash_signatures` (same coefficients, same 60-bit md5 hash family,
    same ``_``-joined band keys), but computed with ``transform`` /
    ``array_min`` over the distinct-shingle array so it works on
    streaming DataFrames and stays inside the scan stage. Documents
    with fewer than ``k`` tokens produce an empty array (no bands —
    matching the batch operator, where such docs have no signature).
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    coeffs = minhash_coefficients(num_hashes, seed)

    def build(hs: Column) -> Column:
        mins = [
            F.array_min(
                F.transform(hs, lambda x: (F.lit(a) * x + F.lit(b)) % HASH_PRIME)
            )
            for a, b in coeffs
        ]
        return F.array(
            *[
                F.struct(
                    F.lit(b_ix).cast("long").alias("band_id"),
                    F.concat_ws(
                        "_", *mins[b_ix * r : (b_ix + 1) * r]
                    ).alias("band_key"),
                )
                for b_ix in range(bands)
            ]
        )

    hashed = F.transform(shingles(text, k), hash_mod_prime)
    # bind the hash array once (_let trick) so the 32 min-passes don't
    # re-run the md5 pipeline per permutation
    banded = F.element_at(F.transform(F.array(hashed), build), 1)
    return F.when(F.size(shingles(text, k)) > 0, banded).otherwise(
        F.array().cast("array<struct<band_id:bigint,band_key:string>>")
    )


def streaming_minhash_dedup(
    docs: DataFrame,
    *,
    k: int,
    num_hashes: int,
    bands: int,
    seed: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_state: int | None = None,
) -> DataFrame:
    """Per incoming document emit one row PER BAND:
    ``(doc_id, band_id, dup_of)`` where ``dup_of`` is the earliest doc
    id holding that band's bucket (NULL if this document claims it).
    Downstream, ``min(dup_of) GROUP BY doc_id`` gives the near-dup
    verdict: a document is a near-duplicate iff any band matched.

    Micro-batches are assumed id-ordered (ids assigned in arrival
    order, the same convention as ``streaming_exact_dedup``); within a
    batch the smaller id claims the bucket.

    ``shard_state``: with None (default), state is keyed per LSH bucket
    — one long per bucket, the unbounded-scale layout (buckets spread
    across state partitions; no per-key structure ever grows). With an
    integer N, buckets are hash-sharded into N state keys and each shard
    keeps a {bucket -> claimant} map in its state: the per-batch Python
    handler runs once per touched shard instead of once per occupied
    bucket (measured 7.2 -> 5.9 s on the 8-band sf0.1 replay — ~18%;
    scan-stage signature math dominates at this scale, so the win grows
    with occupied-bucket count per batch), at the cost of shard state
    growing with occupied buckets/shard: a shard that gains a bucket
    rewrites its whole map, O(buckets per shard) per batch. Output is
    IDENTICAL in both modes (one kernel, exact (band_id, band_key)
    keys, no hashing of bucket identity into state), so the same
    oracle gates both. Pick N >= cluster parallelism for throughput;
    stay with None when bucket cardinality is unbounded.

    Volume rule (measured, BASELINE.md "Round 10: streaming keyed-state
    100x probe", at
    10k/100k/1M docs x 8 bands): per-bucket state rows grow as docs x
    bands (7.2M rows / 2.85 GB and a 154 s max micro-batch at 1M
    docs — state-store row maintenance dominates), while shard
    mode holds state rows at N and ran 4.4x faster at the 1M-doc
    leg with parity-identical output. At volume, shard mode is the
    production setting — the registered stream query uses N=64.
    """
    banded = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(
            minhash_band_structs(
                F.col(text_col), k=k, num_hashes=num_hashes, bands=bands, seed=seed
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        F.col("bk.band_id").alias("band_id"),
        F.col("bk.band_key").alias("band_key"),
    )

    def kernel(rows: pd.DataFrame, claim: dict) -> pd.DataFrame:
        ids, bands = rows["doc_id"].tolist(), rows["band_id"].tolist()
        dup_of: list[int | None] = []
        for bucket, doc_id in zip(zip(bands, rows["band_key"].tolist()), ids):
            c = claim.get(bucket)
            dup_of.append(c if c is not None and c < doc_id else None)
            if c is None or doc_id < c:
                claim[bucket] = doc_id
        return pd.DataFrame(
            {
                "doc_id": ids,
                "band_id": bands,
                "dup_of": pd.array(dup_of, dtype="Int64"),
            }
        )

    return keyed_state_stream(
        banded,
        kernel,
        keys=["band_id", "band_key"],
        order=["doc_id"],
        out_schema=_OUT_SCHEMA,
        value_schema=_STATE_SCHEMA,
        shards=shard_state,
    )
