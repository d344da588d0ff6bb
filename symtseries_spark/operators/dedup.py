"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash + LSH, and SimHash near-dup detection.

Design (100 TB contract):

* Everything is shuffle-minimal relational algebra: per-row hashing in
  the scan stage, then ONE groupBy per signature (map-side combinable),
  then an equi-join on band/bucket keys — never a cross join. Candidate
  generation is the classic LSH bucket join, so cost scales with bucket
  collision counts, not with |docs|^2.
* Hashes are engine-independent (md5-derived, see functions/text.py), so
  every operator here has an exact DuckDB oracle — the same property the
  SAX kernels have.
* Skew: a degenerate shingle ("the the the") can create a hot bucket;
  callers can cap bucket size with ``max_bucket`` (buckets above the cap
  are dropped — standard LSH practice for stopword-like shingles).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    HASH_PRIME,
    doc_hash60,
    hash_mod_prime,
    normalized_text,
    shingles,
    tokens,
    winnow_fingerprints,
)


def minhash_coefficients(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family
    ``h_i(x) = (a_i * x + b_i) mod P`` — shared with the SQL oracle."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, HASH_PRIME), rng.randrange(0, HASH_PRIME))
        for _ in range(num_hashes)
    ]


def exact_dedup_map(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate clustering on normalized text -> one row per doc:
    ``(doc_id, content_hash, canonical_id, is_duplicate)`` where
    ``canonical_id`` is the smallest doc_id sharing the hash.

    One groupBy on the 60-bit content hash + a broadcast-able join back.
    At scale the groupBy output (distinct hashes) is far smaller than the
    input, and AQE picks broadcast automatically; no row ever carries the
    full text past the scan.
    """
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        doc_hash60(normalized_text(F.col(text_col))).alias("content_hash"),
    )
    canon = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id")
    )
    return hashed.join(canon, "content_hash").select(
        "doc_id",
        "content_hash",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
    )


def shingle_table(
    docs: DataFrame,
    *,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exploded distinct word-k-shingles: ``(doc_id, shingle)``."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), k)).alias("shingle"),
    )


def _pair_counts(
    exploded: DataFrame,
    key_col: str,
    *,
    max_key_freq: int | None,
    min_common: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Shared inverted-index pair skeleton for jaccard/containment/
    winnow: cap hot keys, self-equi-join on ``key_col``, count per
    ordered pair, attach both set sizes ->
    ``(doc_a, doc_b, n_common, n_a, n_b)``.

    The hot-key cap is a window count instead of groupBy + join-back:
    one pass, and the shuffle on ``key_col`` is the same partitioning
    the self-join below needs. ``min_common`` (when set) filters pairs
    right after the count, BEFORE the size joins. Size-table joins are
    deliberately NOT hinted broadcast: sizes has one row per doc, far
    too big to broadcast at corpus scale; AQE picks broadcast at small
    SF on its own.

    The (capped) exploded relation feeds THREE alias-divergent
    consumers — sizes and both self-join sides — so it is persisted
    by default (r12, the wave-3c fingerprint rule): unpersisted, the
    explode + hot-key window shuffle ran once per consumer. Contrast
    with exact_substring's measured persist revert: there the cached
    table was ~50x the source; here it is the token-scale index the
    three consumers need byte-for-byte, and the dominant re-run cost
    is the full key-shuffle of that index, not a columnar re-scan.
    ``persist=False`` (r13) lets sparse-index callers opt out — the
    winnowing fingerprint index measured faster recomputed than
    cached at sf0.1 (see winnow_pairs)."""
    from ..cache import persist_tracked

    ex = exploded
    if max_key_freq is not None:
        hot = Window.partitionBy(key_col)
        ex = (
            ex.withColumn("__f", F.count(F.lit(1)).over(hot))
            .where(F.col("__f") <= max_key_freq)
            .drop("__f")
        )
    if persist:
        ex = persist_tracked(ex)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n"))
    a = ex.select(F.col("doc_id").alias("doc_a"), key_col)
    b = ex.select(F.col("doc_id").alias("doc_b"), key_col)
    common = (
        a.join(b, key_col)
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if min_common is not None:
        common = common.where(F.col("n_common") >= min_common)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("__n").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs(
    docs: DataFrame,
    *,
    k: int,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all doc pairs with
    ``|A ∩ B| / |A ∪ B| >= threshold`` over distinct word-k-shingles ->
    ``(doc_a, doc_b, n_common, n_a, n_b, jaccard)``.

    Classic inverted-index plan: explode shingles, self-equi-join on the
    shingle, count per pair, fetch set sizes. The pair count is bounded by
    co-occurrence, not |docs|^2. ``max_shingle_freq`` drops shingles
    shared by more than that many docs (stopword-gram protection — the
    standard trick to keep the hot-key join from exploding at scale).
    """
    sh = shingle_table(docs, k=k, id_col=id_col, text_col=text_col)
    pairs = _pair_counts(sh, "shingle", max_key_freq=max_shingle_freq)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        F.round(jac, 4).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def jaccard_pairs_prefix(
    docs: DataFrame,
    *,
    k: int,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Prefix-filtered exact Jaccard join — IDENTICAL output to
    :func:`jaccard_pairs` (equality-tested), with the candidate volume
    of a position-aware set-similarity join (PPJoin's prefix filter, a
    public-literature standard for set joins at scale).

    Prefix-filter theorem: order every doc's shingles by one GLOBAL
    total order; if ``J(A, B) >= t`` then A and B must share at least
    one shingle among each doc's first ``|d| - ceil(t * |d|) + 1``
    shingles under that order. So the inverted index holds only PREFIX
    shingles — with rarest-first ordering (ascending document
    frequency, shingle string as the deterministic tiebreak) the prefix
    entries are the rare shingles, so index postings shrink on BOTH
    axes: fewer entries per doc AND fewer docs per entry. Candidates
    surviving the prefix join are verified with the exact intersection
    count over the FULL (capped) shingle sets, making the filter
    lossless by construction.

    The ceil is computed with a 1e-9 slack so float rounding can only
    ENLARGE the prefix (keeping completeness), never shrink it.
    ``max_shingle_freq`` capping, sizes, and the jaccard formula are
    byte-identical to :func:`jaccard_pairs` (cap first, sizes from the
    capped table), so the two plans return the same rows and values.

    MEASURED VERDICT at validation scale (kept for the record, and why
    this is an unregistered alternative rather than the default): at
    sf0.1 AND at the 10x sf1-equivalent corpus, this plan runs ~2.5x
    SLOWER than :func:`jaccard_pairs` (2.0s vs 5.6s; 7.6s vs 16.5s) —
    with short docs and the 256 hot-shingle cap already bounding
    postings, the extra machinery (global-df window, per-doc rank,
    candidate distinct, array-verify joins) costs more than the
    candidate reduction saves. The prefix filter earns its keep when
    posting lists are long and UNCAPPED — e.g. web-scale corpora where
    dropping hot shingles (the cap's recall trade) is unacceptable and
    the full inverted index would explode; there its rarest-first
    prefix index bounds the join without discarding any shingle."""
    sh = shingle_table(docs, k=k, id_col=id_col, text_col=text_col)
    df_w = Window.partitionBy("shingle")
    ex = sh.withColumn("__df", F.count(F.lit(1)).over(df_w))
    if max_shingle_freq is not None:
        ex = ex.where(F.col("__df") <= max_shingle_freq)
    # materialize once: feeds sizes, the prefix index, and BOTH
    # verification sides (same single-compute story as allpairs_within)
    ex = ex.localCheckpoint(eager=True)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n"))
    ranked = ex.join(sizes, "doc_id").withColumn(
        "__r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("__df", "shingle")
        ),
    )
    prefix_len = (
        F.col("__n")
        - F.ceil(F.lit(float(threshold)) * F.col("__n") - F.lit(1e-9))
        + 1
    )
    pref = ranked.where(F.col("__r") <= prefix_len).select("doc_id", "shingle")
    cand = (
        pref.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(pref.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verification WITHOUT re-exploding the candidates: each doc's
    # (capped) shingle set rides as ONE array column through two
    # candidate-sized joins, and n_common is a per-pair
    # array_intersect — the explode-join verify variant multiplied the
    # candidate relation by shingles-per-doc before re-aggregating
    groups = ex.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("__set"),
        F.count(F.lit(1)).alias("__n"),
    )
    ga = groups.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__set").alias("__sa"),
        F.col("__n").alias("n_a"),
    )
    gb = groups.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__set").alias("__sb"),
        F.col("__n").alias("n_b"),
    )
    pairs = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn(
            "n_common",
            F.size(F.array_intersect(F.col("__sa"), F.col("__sb"))).cast(
                "long"
            ),
        )
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        F.round(jac, 4).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def containment_pairs(
    docs: DataFrame,
    *,
    k: int,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric containment join: doc pairs where the SMALLER shingle
    set is mostly inside the larger one — ``max(|A∩B|/|A|, |A∩B|/|B|)
    >= threshold`` -> ``(doc_a, doc_b, n_common, n_a, n_b, cont_a,
    cont_b)``.

    Catches quote/excerpt/superset duplicates that Jaccard misses: a
    200-token doc fully embedded in a 5000-token doc has Jaccard ~0.04
    but containment 1.0. Same inverted-index plan (and hot-shingle cap)
    as :func:`jaccard_pairs` — cost bounded by shingle co-occurrence,
    never |docs|^2.
    """
    sh = shingle_table(docs, k=k, id_col=id_col, text_col=text_col)
    pairs = _pair_counts(sh, "shingle", max_key_freq=max_shingle_freq)
    cont_a = F.round(F.col("n_common") / F.col("n_a"), 4)
    cont_b = F.round(F.col("n_common") / F.col("n_b"), 4)
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        cont_a.alias("cont_a"),
        cont_b.alias("cont_b"),
    ).where(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)


def winnow_table(
    docs: DataFrame,
    *,
    k: int,
    w: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exploded winnowing fingerprints: ``(doc_id, fp)`` — the inverted
    index over :func:`functions.text.winnow_fingerprints` selections."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(winnow_fingerprints(F.col(text_col), k, w)).alias("fp"),
    )


def winnow_pairs(
    docs: DataFrame,
    *,
    k: int,
    w: int,
    min_shared: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_fp_freq: int | None = None,
) -> DataFrame:
    """Substring-level duplicate pairs via shared winnowing fingerprints
    -> ``(doc_a, doc_b, n_shared, n_a, n_b, overlap)`` where ``overlap =
    n_shared / min(n_a, n_b)`` (rounded 4).

    Each shared fingerprint witnesses a common token run of length >=
    ``k`` (and any common run >= ``k + w - 1`` is guaranteed to be
    witnessed), so ``n_shared >= min_shared`` flags documents sharing
    substantial verbatim passages — the dup class (boilerplate headers,
    quoted blocks, near-identical reposts) that whole-document hashing
    misses. Plan shape == the LSH band join: explode (density ~2/(w+1)
    of k-grams, so the index is a FRACTION of the shingle table), hot-key
    cap, equi-join, pair count — scales with fingerprint collisions, not
    |docs|^2.
    """
    fp = winnow_table(docs, k=k, w=w, id_col=id_col, text_col=text_col)
    # persist=False (r13, measured): the winnowing index is SPARSE —
    # selection density ~2/(w+1) of k-gram positions — so re-running
    # its explode + cap for the three consumers is cheaper than the
    # cache round-trip (A/B at sf0.1, both arm orders: winnow_pairs
    # 2.0-2.2s -> 1.4-1.7s, docs_corpus_filter2 4.1-4.6s -> 3.2-4.0s).
    # The dense shingle callers (jaccard/containment) keep the persist:
    # their index is the corpus's full token mass, where the three-way
    # recompute costs two extra corpus-scale shuffles at 100 TB.
    pairs = _pair_counts(
        fp, "fp", max_key_freq=max_fp_freq, min_common=min_shared,
        persist=False,
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("n_common").alias("n_shared"),
        "n_a",
        "n_b",
        F.round(
            F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")), 4
        ).alias("overlap"),
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    k: int,
    num_hashes: int,
    seed: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signatures: ``(doc_id, m0 .. m{num_hashes-1})``.

    Relational form: explode shingles -> hash once -> ONE groupBy with
    ``num_hashes`` ``min()`` aggregates (all map-side combinable; a single
    shuffle of num_hashes longs per doc regardless of document size).
    Docs with no shingles (fewer than k tokens) are absent.
    """
    coeffs = minhash_coefficients(num_hashes, seed)
    sh = shingle_table(docs, k=k, id_col=id_col, text_col=text_col).select(
        "doc_id", hash_mod_prime(F.col("shingle")).alias("h")
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % HASH_PRIME).alias(f"m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    seed: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup pairs: band the signature into ``bands``
    groups of ``num_hashes // bands`` rows, bucket-join docs sharing any
    band, then estimate Jaccard as the fraction of equal signature
    components -> ``(doc_a, doc_b, est_jaccard)`` filtered at threshold.

    The bucket join is an equi-join on (band_id, band_key), and the full
    signature rides along as ONE array column, so the whole query is a
    single pass over the corpus: one shingle-explode aggregation, one
    band explode (``posexplode`` of an ``array<struct>`` built in the
    same projection — NOT a per-band union, which would re-run the
    signature aggregation once per band), one bucket-join shuffle, one
    distinct. Candidate generation cost follows bucket sizes (the LSH
    guarantee), not |docs|^2; the similarity estimate is computed inline
    from the carried signature arrays, so no join-back to the signature
    table is needed at all.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    sigs = minhash_signatures(
        docs, k=k, num_hashes=num_hashes, seed=seed,
        id_col=id_col, text_col=text_col,
    )
    sig_arr = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b_ix).alias("band_id"),
                F.concat_ws(
                    "_", *[F.col(f"m{b_ix * r + j}") for j in range(r)]
                ).alias("band_key"),
            )
            for b_ix in range(bands)
        ]
    )
    bands_df = sigs.select(
        "doc_id", sig_arr.alias("sig"), F.explode(band_structs).alias("bk")
    ).select(
        "doc_id",
        "sig",
        F.col("bk.band_id").alias("band_id"),
        F.col("bk.band_key").alias("band_key"),
    )

    if max_bucket is not None:
        # Window count instead of groupBy+join-back: the shuffle on
        # (band_id, band_key) is reused by the bucket join below, and the
        # signature aggregation upstream still runs exactly once.
        bucket = Window.partitionBy("band_id", "band_key")
        bands_df = (
            bands_df.withColumn("__n", F.count(F.lit(1)).over(bucket))
            .where(F.col("__n") <= max_bucket)
            .drop("__n")
        )

    # persist (r12): the two self-join sides differ only in aliases,
    # which defeats exchange reuse — unpersisted, the shingle explode +
    # num_hashes-min signature aggregation (and the hot-bucket window)
    # evaluated once PER SIDE. One (doc, band) row carrying the
    # signature array — bands x docs rows, the banded representation
    # the join shuffles anyway.
    from symtseries_spark.cache import persist_tracked

    bands_df = persist_tracked(bands_df)

    la = bands_df.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
        "band_id", "band_key",
    )
    lb = bands_df.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
        "band_id", "band_key",
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    eq_frac = matches / F.lit(float(num_hashes))
    return (
        la.join(lb, ["band_id", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(eq_frac, 4).alias("est_jaccard"))
        .distinct()
        .where(F.col("est_jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame,
    *,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash fingerprints -> ``(doc_id, simhash)`` (``bits`` <= 60).

    Token multiset weighting: each occurrence votes +1/-1 per bit of its
    60-bit hash; bit j of the fingerprint is 1 iff the vote sum is
    positive. Explode + one groupBy with ``bits`` conditional sums —
    map-side combinable, one shuffle of ``bits`` ints per doc.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select("doc_id", doc_hash60(F.col("tok")).alias("h"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sim = sum(
        [
            F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(bits)
        ],
        F.lit(0).cast("long"),
    )
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    *,
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bit flips ->
    ``(doc_a, doc_b, hamming)``.

    Pigeonhole banding: split the fingerprint into ``chunks`` equal bit
    ranges; any pair within ``max_hamming < chunks`` flips shares at
    least one identical chunk, so candidates come from an equi-join on
    (chunk_id, chunk_value) and are verified with ``bit_count(xor)`` —
    no cross join, same scaling argument as MinHash-LSH. The chunk
    fan-out is a single ``explode`` of an ``array<struct>`` built in one
    projection (NOT a per-chunk union, which would re-run the simhash
    aggregation once per chunk), so the token explode + vote aggregation
    runs exactly once for the whole query.
    """
    if bits % chunks:
        raise ValueError("chunks must divide bits")
    if max_hamming >= chunks:
        raise ValueError("pigeonhole needs max_hamming < chunks")
    from symtseries_spark.cache import persist_tracked

    width = bits // chunks
    mask = (1 << width) - 1
    # persist (r12): both self-join sides re-derived the fingerprint
    # aggregation (token explode + `bits` conditional sums — the
    # expensive pass) because the sides differ only in aliases, which
    # defeats exchange reuse. One (doc_id, simhash) row per doc — the
    # compressed representation.
    sims = persist_tracked(
        simhash(docs, bits=bits, id_col=id_col, text_col=text_col)
    )

    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(mask)
                .alias("chunk_val"),
            )
            for i in range(chunks)
        ]
    )
    chunked = sims.select(
        "doc_id", "simhash", F.explode(chunk_structs).alias("ck")
    ).select(
        "doc_id",
        "simhash",
        F.col("ck.chunk_id").alias("chunk_id"),
        F.col("ck.chunk_val").alias("chunk_val"),
    )

    la = chunked.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
        "chunk_id", "chunk_val",
    )
    lb = chunked.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
        "chunk_id", "chunk_val",
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        la.join(lb, ["chunk_id", "chunk_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def jaccard_refine(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    k: int,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """EXACT-Jaccard verification of a CANDIDATE pair set (e.g. the
    banded output of :func:`minhash_lsh_pairs` at threshold 0) — the
    dedup analogue of the SAX prune-then-refine contract: LSH recalls
    candidates cheaply, this refine step restores exact precision.

    Cost is proportional to the CANDIDATE count, not |docs|^2 and not
    shingle co-occurrence: each pair joins to the per-doc distinct
    shingle arrays (computed scan-stage, once per doc) and intersects
    them JVM-side. Output matches :func:`jaccard_pairs` column-for-column
    and, at matching thresholds > 0, row-for-row (at threshold <= 0 the
    refine also passes zero-overlap candidates, which the inverted-index
    join structurally never generates). Pairs where both docs have empty
    shingle sets (fewer than k tokens) are dropped.
    """
    sets = docs.select(
        F.col(id_col).alias("__id"),
        shingles(F.col(text_col), k).alias("__sh"),
    )
    sa = sets.select(F.col("__id").alias(pair_a), F.col("__sh").alias("__sha"))
    sb = sets.select(F.col("__id").alias(pair_b), F.col("__sh").alias("__shb"))
    j = pairs.select(pair_a, pair_b).join(sa, pair_a).join(sb, pair_b)
    n_common = F.size(F.array_intersect("__sha", "__shb"))
    n_a, n_b = F.size("__sha"), F.size("__shb")
    jac = n_common / (n_a + n_b - n_common)
    return (
        j.where(n_a + n_b - n_common > 0).select(
            pair_a,
            pair_b,
            n_common.alias("n_common"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def incremental_dedup(
    incoming: DataFrame,
    existing: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time dedup: admit only the incoming documents whose
    normalized content appears neither in the ``existing`` corpus nor
    earlier (by id) within the incoming batch itself ->
    ``(doc_id, content_hash)`` of the admitted rows.

    This is the daily-crawl shape: the historical corpus is consulted as
    a HASH SET, never rescanned as text. Two pieces, both bounded by the
    incoming batch size on the probe side:

    - existing-corpus check: LEFT ANTI join of incoming hashes against
      the existing distinct-hash table. At 100 TB the hash table is the
      thing a production pipeline keeps materialized (60-bit hashes,
      ~1/1000th the corpus bytes); with it stored bucketed by hash the
      anti-join is co-located, and a Bloom prefilter
      (``operators.sketches``) can cut the probe further.
    - within-batch check: min-id-wins groupBy on the incoming hashes
      (map-side combined), identical to :func:`exact_dedup_map`.
    """
    inc = incoming.select(
        F.col(id_col).alias("doc_id"),
        doc_hash60(normalized_text(F.col(text_col))).alias("content_hash"),
    )
    seen = existing.select(
        doc_hash60(normalized_text(F.col(text_col))).alias("content_hash")
    ).distinct()
    fresh = inc.join(seen, "content_hash", "left_anti")
    first = fresh.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id")
    )
    return first.select("doc_id", "content_hash")


def hot_ngram_coverage(
    docs: DataFrame,
    *,
    k: int,
    min_df: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_hot: bool = True,
) -> DataFrame:
    """Corpus-hot n-gram coverage per document -> ``(doc_id, n_grams,
    n_hot, hot_cov)``: the fraction of a document's distinct word
    ``k``-grams whose corpus DOCUMENT frequency is >= ``min_df`` — the
    boilerplate/template detector of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): a doc largely built
    of grams that recur across many other docs is navigation chrome,
    license headers, or generated template, and its coverage is the
    cleaning pipeline's suppression score. Docs with fewer than ``k``
    tokens report ``(0, 0, 0.0)``.

    Scale shape: one explode of distinct-per-doc shingles feeds BOTH
    aggregations (per-gram df and per-doc totals — map-side
    combinable); the hot-gram table is the heavy-hitter set, bounded
    above by ``total_grams / min_df`` (each hot gram needs ``min_df``
    distinct docs), so it is broadcast to the membership join — at
    corpus scale raise ``min_df`` with volume to hold the broadcast
    side flat, the same knob rule as the max_freq caps above. The
    corpus-sized shingle relation shuffles once (on the gram key) for
    the df count and never again.

    The bound is REAL only when the corpus repeats itself (df
    saturates): under fresh-content growth at a FIXED ``min_df`` the
    hot set grows linearly with volume (measured in BASELINE.md,
    "Round 10 (cont.): hot n-gram coverage probe", leg A) and a forced
    broadcast would OOM the executors. ``broadcast_hot=False`` switches the
    membership join to a plain shuffle join on the gram key — one
    extra exchange of the shingle relation, which AQE skew-splits if
    a mega-hot gram concentrates — for deployments that cannot hold
    ``min_df`` proportional to volume."""
    if k < 1 or min_df < 1:
        raise ValueError("hot_ngram_coverage needs k >= 1 and min_df >= 1")
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), k)).alias("shingle"),
    )
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("shingle")
    )
    tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__tot"))
    hcnt = (
        sh.join(F.broadcast(hot) if broadcast_hot else hot, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__hot"))
    )
    n_grams = F.coalesce("__tot", F.lit(0))
    n_hot = F.coalesce("__hot", F.lit(0))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(tot, "doc_id", "left")
        .join(hcnt, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_hot.alias("n_hot"),
            F.when(
                n_grams > 0,
                F.round(n_hot.cast("double") / n_grams.cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("hot_cov"),
        )
    )


def exact_substring_stats(
    docs: DataFrame,
    *,
    window_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
    hash_windows: bool = False,
) -> DataFrame:
    """Lee et al. 2022 ExactSubstr-style duplication measurement on
    OVERLAPPING token windows: per document, how many of its
    ``window_tokens``-token windows (every start position, stride 1)
    occur more than once in the corpus ->
    ``(doc_id, n_windows, n_dup_windows, dup_frac)``. The stride-1
    windows catch verbatim passages at ANY alignment — the case
    :func:`span_dedup`'s aligned non-overlapping cuts miss — which is
    exactly why the suffix-array method exists; the window grain makes
    it relational.

    Skew-immune plan (no join-back, the span_dedup r11 hardening
    applied from birth): a window is duplicated iff it is NOT unique
    corpus-wide, so per doc ``n_dup = n_windows - n_unique_owned``
    where unique windows are claimed by their single owner through ONE
    map-side-combinable ``groupBy(window).agg(count,
    min(struct(doc_id)))`` — a boilerplate window occurring 10^8 times
    partially reduces in every map task and its text never fans back
    out. Windows repeated WITHIN one document count as duplicated
    (their corpus count is > 1), matching the suffix-array semantics.

    Cost: explode is ~tokens-per-doc rows per document (stride 1),
    k x the span_dedup explode — the price of alignment-free
    coverage; both shuffles are combinable. The window text is ONLY a
    grouping key here (never output), so ``hash_windows=True``
    replaces it with its 128-bit md5 at the scan stage — the ~5x-
    token-count STRING shuffle becomes fixed 16-byte keys with zero
    text on the wire (the hash_spans convention); results identical
    up to md5 collisions."""
    if window_tokens < 1:
        raise ValueError("exact_substring_stats needs window_tokens >= 1")
    toks = tokens(F.col(text_col))
    n_w = F.greatest(
        F.lit(0), F.size(toks) - F.lit(window_tokens - 1)
    ).cast("int")
    wins = F.when(
        n_w > 0,
        F.transform(
            F.sequence(F.lit(1), n_w),
            lambda i: F.array_join(
                F.slice(toks, i, window_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(wins).alias("w")
    )
    if hash_windows:
        ex = ex.select("doc_id", F.md5("w").alias("w"))
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"), n_w.cast("long").alias("n_windows")
    )
    owners = (
        ex.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("doc_id")).alias("__o"),
        )
        .where(F.col("c") == 1)
        .select(F.col("__o.doc_id").alias("doc_id"))
    )
    uniq = owners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n_uniq")
    )
    n_dup = F.col("n_windows") - F.coalesce("__n_uniq", F.lit(0))
    return (
        per_doc.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            n_dup.cast("long").alias("n_dup_windows"),
            F.when(
                F.col("n_windows") > 0,
                F.round(
                    n_dup.cast("double") / F.col("n_windows"), round_to
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def span_dedup(
    docs: DataFrame,
    *,
    span_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_spans: bool = False,
) -> DataFrame:
    """C4-style exact SPAN dedup (Raffel et al. 2020 deduplicated
    three-sentence spans; here the span is a fixed run of
    ``span_tokens`` consecutive tokens, since granularity must be a
    pure function of the data): any span whose exact text occurs
    elsewhere in the corpus is dropped from all but its FIRST
    occurrence (ordered by (doc_id, position)) ->
    ``(doc_id, n_spans, n_dropped, clean_text)`` with ``clean_text``
    the kept spans re-joined in position order — the materialized
    transform, not just a report.

    Scale shape: one explode of non-overlapping spans (corpus token
    count / span_tokens rows), then first-occurrence as ONE
    map-side-combinable ``groupBy(key).agg(min(struct(doc_id, pos,
    span)))`` — no window sort and no join-back, so a corpus-hot
    boilerplate span partially reduces inside every map task and
    reaches the shuffle as one row per upstream partition instead of
    every occurrence landing in a single sorting task. One combinable
    groupBy(doc) rebuilds the cleaned text.

    ``hash_spans=True`` shuffles the 128-bit md5 of the span instead
    of the text (a 60-bit key collides near 2^30 distinct spans;
    128-bit collision odds are ~2^-64 there) — the span text still
    rides inside the min-struct, but the combiner keeps one struct
    per key per partition, so long boilerplate text is not
    replicated across the wire per occurrence. Semantics are
    identical up to md5 collisions; the default keys the exact text."""
    if span_tokens < 1:
        raise ValueError("span_dedup needs span_tokens >= 1")
    toks = tokens(F.col(text_col))
    n_sp = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_sp - 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(
                F.slice(toks, i * span_tokens + 1, span_tokens), " "
            ).alias("span"),
        ),
    )
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.when(n_sp > 0, spans).otherwise(
            F.array().cast("array<struct<pos:int,span:string>>")
        )).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.span").alias("span"))
    key = F.md5(F.col("span")) if hash_spans else F.col("span")
    kept = (
        ex.groupBy(key.alias("__k"))
        .agg(F.min(F.struct("doc_id", "pos", "span")).alias("__w"))
        .select(
            F.col("__w.doc_id").alias("doc_id"),
            F.col("__w.pos").alias("pos"),
            F.col("__w.span").alias("span"),
        )
    )
    agg_all = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    agg_kept = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("span")))
                ),
                lambda x: x["span"],
            ),
            " ",
        ).alias("clean_text"),
    )
    n_spans = F.coalesce("n_spans", F.lit(0))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(agg_all, "doc_id", "left")
        .join(agg_kept, "doc_id", "left")
        .select(
            "doc_id",
            n_spans.cast("long").alias("n_spans"),
            (n_spans - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def exact_substring_dedup(
    docs: DataFrame,
    *,
    window_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_windows: bool = False,
) -> DataFrame:
    """The REMOVAL half of ExactSubstr (Lee et al. 2022 §4 removes the
    duplicated spans; :func:`exact_substring_stats` only measures
    them): every stride-1 ``window_tokens``-token window whose exact
    text occurs more than once corpus-wide keeps its FIRST occurrence
    (min (doc_id, pos)) and is cut everywhere else ->
    ``(doc_id, n_tokens, n_removed, clean_text)`` with ``clean_text``
    the surviving tokens re-joined in position order. A token is
    removed iff it is covered by at least one non-canonical duplicated
    window occurrence — the window grain's rendering of "remove all
    but one copy of the duplicated passage" (tokens under the
    canonical occurrence survive unless another cut window overlaps
    them).

    Scale shape: the canonical pick is ONE map-side-combinable
    ``groupBy(window).agg(count, min(struct(doc_id, pos)))`` (no
    window sort); unlike the stats operator, removal genuinely needs
    the join-back (each occurrence must learn whether it is the
    canonical one), so the dup-window table — bounded by windows with
    count > 1, one row each — joins back on the window key, where a
    corpus-hot boilerplate window is a single build-side row that AQE
    skew-splits against. Token cutting is relational, never per-row
    Python: cut occurrences explode to covered ``(doc_id, tpos)``
    positions (<= window_tokens x cuts rows), one combinable
    ``distinct``, then one ``left_anti`` join against the exploded
    tokens, both partitioned by doc. ``hash_windows=True`` keys the
    shuffle and join-back by the 128-bit md5 of the window instead of
    its text (the ``hash_spans`` convention: ~5x-token-count STRING
    keys are bandwidth, not information)."""
    if window_tokens < 1:
        raise ValueError("exact_substring_dedup needs window_tokens >= 1")
    k = window_tokens
    toks = tokens(F.col(text_col))
    n_w = F.greatest(F.lit(0), F.size(toks) - F.lit(k - 1)).cast("int")
    wins = F.when(
        n_w > 0,
        F.transform(
            F.sequence(F.lit(1), n_w),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.array_join(F.slice(toks, i, k), " ").alias("w"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,w:string>>"))
    # NOT persisted (r12, measured): the window explode feeds both the
    # canonical-pick aggregate and the join-back, but caching the
    # ~window-count x md5-string table costs MORE than re-running the
    # tokenize + k-gram scan (16.3-18.3s persisted vs 14.7-15.3s
    # recomputed at sf0.1, 2 reps each — the explode output is ~50x the
    # source bytes, so the cache write + memory pressure dominate the
    # cheap columnar re-scan; guide §5 "persist only when recomputing
    # is more expensive than the memory pressure").
    ex = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(wins).alias("s")
    ).select(
        "doc_id",
        F.col("s.pos").alias("pos"),
        (F.md5(F.col("s.w")) if hash_windows else F.col("s.w")).alias(
            "__k"
        ),
    )
    dup = (
        ex.groupBy("__k")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct("doc_id", "pos")).alias("__canon"),
        )
        .where(F.col("__c") > 1)
        .select("__k", "__canon")
    )
    cut = (
        ex.join(dup, "__k")
        .where(
            ~(
                (F.col("doc_id") == F.col("__canon.doc_id"))
                & (F.col("pos") == F.col("__canon.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    # Token cutting (r13 rewrite): the covered positions collapse to
    # ONE per-doc set (a single doc-keyed exchange with map-side
    # partial collect_set) and the surviving tokens are selected with
    # a scan-stage array filter over the doc's own token array — the
    # previous shape exploded EVERY corpus token a second time,
    # left-anti-joined it against the covered positions, and rebuilt
    # each document with a groupBy collect_list + array_sort: three
    # corpus-token-scale exchanges where one cut-bounded one suffices
    # (guide §2.3/§2.4). array_contains is a native (non-HOF-lambda)
    # probe; the cut-position set is bounded by the doc's own length,
    # the same per-doc bound the window explode already carries.
    # Order/semantics unchanged: filter preserves token order (the old
    # array_sort re-established it), n_removed = n_tokens - kept.
    cov = cut.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("tpos"),
    ).groupBy("doc_id").agg(F.collect_set("tpos").alias("__cov"))
    kept_arr = F.when(
        F.col("__cov").isNull(), F.col("__t")
    ).otherwise(
        F.filter(
            F.col("__t"),
            lambda t, i: ~F.array_contains(
                F.col("__cov"), (i + 1).cast("int")
            ),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("__t"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("__t").cast("long").alias("n_tokens"),
            (F.size("__t") - F.size(kept_arr)).cast("long").alias(
                "n_removed"
            ),
            F.array_join(kept_arr, " ").alias("clean_text"),
        )
    )


def line_dedup(
    docs: DataFrame,
    *,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_lines: bool = False,
) -> DataFrame:
    """C4-style LINE-level dedup (Raffel et al. 2020 §2.2 keep-one
    semantics — the grain between exact-doc dedup and the token-window
    operators): split each document into lines on the literal ``sep``,
    drop every line whose exact text occurs elsewhere in the corpus
    except its FIRST (doc_id, line_no) occurrence, and rebuild ->
    ``(doc_id, n_lines, n_dropped, clean_text)`` with ``clean_text``
    the kept lines re-joined by ``sep`` in position order. Empty
    segments (consecutive separators, leading/trailing) are not lines
    and are dropped before counting.

    Scale shape — the span_dedup unique-owner plan verbatim: ONE
    map-side-combinable ``groupBy(line).agg(min(struct(doc_id,
    line_no, line)))`` picks the canonical copy (a boilerplate line
    occurring 10^8 times partially reduces in every map task — no
    window sort, no join-back), then one combinable groupBy(doc)
    rebuilds the text. ``hash_lines=True`` shuffles the 128-bit md5
    of the line instead of its text (the hash_spans convention)."""
    if not sep:
        raise ValueError("line_dedup needs a non-empty separator")
    import re as _re

    parts = F.split(F.col(text_col), _re.escape(sep))
    ex = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(parts).alias("__p0", "line"),
        )
        .where(F.col("line") != "")
        .select(
            "doc_id",
            (F.col("__p0") + 1).cast("int").alias("line_no"),
            "line",
        )
    )
    key = F.md5(F.col("line")) if hash_lines else F.col("line")
    kept = (
        ex.groupBy(key.alias("__k"))
        .agg(F.min(F.struct("doc_id", "line_no", "line")).alias("__w"))
        .select(
            F.col("__w.doc_id").alias("doc_id"),
            F.col("__w.line_no").alias("line_no"),
            F.col("__w.line").alias("line"),
        )
    )
    agg_all = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    keptagg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("line_no"), F.col("line")))
                ),
                lambda x: x["line"],
            ),
            sep,
        ).alias("clean_text"),
    )
    n_lines = F.coalesce("n_lines", F.lit(0))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(agg_all, "doc_id", "left")
        .join(keptagg, "doc_id", "left")
        .select(
            "doc_id",
            n_lines.cast("long").alias("n_lines"),
            (n_lines - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def dup_source_matrix(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """WHERE does the duplication come from — exact-duplicate pair
    counts per (source_a, source_b) with ``source_a <= source_b`` ->
    ``(source_a, source_b, dup_pairs)``, zero-pair combinations
    dropped. Within-source cells count C(c, 2) pairs, cross-source
    cells c_a x c_b — the curation diagnostic that tells you whether
    to dedup a feed against itself or against another feed before
    paying the corpus-wide pass.

    Never expands pairs (the split-leakage identity applied to the
    source dimension): per content hash the per-source counts combine
    map-side (one row per (hash, source)); the per-hash self-join
    fans out at most (sources sharing the hash)^2 — bounded by the
    SOURCE cardinality, not by group size — so a 10^6-copy duplicate
    group costs its source count, not 10^12 pairs."""
    from ..functions.text import doc_hash60, normalized_text

    per = (
        docs.select(
            doc_hash60(normalized_text(F.col(text_col))).alias("h"),
            F.col(group_col).alias("src"),
        )
        .groupBy("h", "src")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = per.select("h", F.col("src").alias("source_a"), F.col("c").alias("ca"))
    b = per.select("h", F.col("src").alias("source_b"), F.col("c").alias("cb"))
    pairs = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("ca") * (F.col("ca") - 1) / 2,
    ).otherwise(F.col("ca") * F.col("cb"))
    return (
        a.join(b, "h")
        .where(F.col("source_a") <= F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(pairs).cast("long").alias("dup_pairs"))
        .where(F.col("dup_pairs") > 0)
    )
