"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query (correctness gate).

Column names are aliased identically on both sides; float outputs are
either derived with decimal-exact arithmetic (TPC-H aggregates) or
rounded to 4 decimals (SAX distances, tolerance per the reference's own
goldens, lua/test.lua:18) so the driver's value hash is stable across
engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from symtseries_spark import oracle as oc
from symtseries_spark import oracle_media as om
from symtseries_spark import oracle_text as ot
from symtseries_spark import oracle_vec as ov
from symtseries_spark.functions.text import bpe_token_count, text_profile
from symtseries_spark import pykernel as pk
from symtseries_spark.operators import (
    allpairs_refined,
    allpairs_within,
    ann_lsh_topk,
    tumbling_values,
    cosine_topk,
    embedding_near_dup,
    exact_dedup_map,
    jaccard_pairs,
    knn_join,
    match_pattern,
    mindist_to_pattern,
    minhash_lsh_pairs,
    motif_counts,
    simhash,
    simhash_pairs,
    sliding_sax,
    topk_nearest,
    tumbling_sax,
    whole_series_sax,
)
from symtseries_spark.operators.joins import asof_join, interval_join, sessionize
from symtseries_spark.operators.multimodal import (
    byte_histogram,
    decode_media,
    frame_sample,
    media_from_documents,
)
from symtseries_spark.sources import load

# ---------------------------------------------------------------------------
# flagship / SAX parameters (fixed plan-time constants)

SLIDE = dict(n=8, w=4, c=8)
TUMBLE_MOTIF = dict(n=16, w=4, c=4)
TUMBLE_DIST = dict(n=16, w=4, c=8)
TUMBLE_FINE = dict(n=16, w=8, c=8)
TUMBLE_C16 = dict(n=32, w=8, c=16)
WHOLE = dict(w=4, c=8)

MOTIF_PATTERN = "CBCB"       # top motif in the seed-42 events stream
DIST_PATTERN = "AEHD"        # sharp rise-fall query shape, c=8
FINE_PATTERN = "ABCDEFGH"    # monotone ramp, w=8 c=8
ALLPAIRS_DELTA = 0.5
REFINE_DELTA = 2.5   # exact-distance threshold where refine is non-trivial:
                     # the mindist prune keeps ~38% of all pairs and the
                     # exact check keeps ~0.1% of those (see BASELINE.md)
TOPK = 20

# training-data pipeline parameters
# max_shingle_freq: hot-shingle cap (stopword-gram protection). 256
# never binds at test SFs (observed max shingle frequency: 7 at sf0.01,
# 25 at sf0.1) but bounds the inverted-index self-join's per-key fanout
# to 256^2 pairs at corpus scale; mirrored in the DuckDB oracle.
JACCARD = dict(k=3, threshold=0.35, max_shingle_freq=256)
# Winnowing (Schleimer et al. 2003): k=4-gram noise threshold, w=8
# window => any shared token run >= k + w - 1 = 11 is guaranteed to
# leave an identical fingerprint in both docs; density ~2/(w+1) keeps
# the inverted index ~4.5x smaller than the full shingle table.
# max_fp_freq mirrors the Jaccard hot-shingle cap (never binds at test
# SFs; bounds per-key join fanout at corpus scale).
WINNOW = dict(k=4, w=8)
WINNOW_PAIRS = dict(min_shared=8, max_fp_freq=256)
# Asymmetric containment |A∩B|/min-side: catches excerpt/superset dups
# whose Jaccard is diluted by the larger doc. Same shingle table and
# hot-key cap as JACCARD.
CONTAINMENT = dict(k=3, threshold=0.5, max_shingle_freq=256)
# Boilerplate: fraction of a doc's positional 3-gram instances whose
# gram occurs in >= min_df distinct docs (C4/Gopher repeated-passage
# cleanup signal).
BOILER = dict(k=3, min_df=5)
# Holt double-exponential smoothing. 0.25/0.125 are binary-exact
# literals (same rationale as EWMA_P's 0.25).
HOLT_P = dict(alpha=0.25, beta=0.125, window=16)
# One-sided CUSUM drift monitor. target ~ the events value mean (49.6),
# slack and threshold sized so alarms are non-trivial but sparse; all
# three are binary-exact double literals.
CUSUM_P = dict(target=50.0, slack=8.0, threshold=256.0)
PH_P = dict(delta=5.0, lam=256.0)


def _key_skew_sql(table: str, key: str, top_n: int = 10) -> str:
    """Twin of operators.pipeline.key_skew: exact integer rank sums
    over the per-key count table, quantized ratios."""
    return f"""
WITH c AS (
  SELECT {key} AS k, count(*) AS n FROM {table} GROUP BY {key}
), r AS (
  SELECT n,
         row_number() OVER (ORDER BY n, k) AS ra,
         row_number() OVER (ORDER BY n DESC, k) AS rd
  FROM c
), a AS (
  SELECT count(*) AS n_keys, sum(n) AS total_rows, max(n) AS mx,
         sum(ra * n) AS si,
         sum(CASE WHEN rd <= {top_n} THEN n ELSE 0 END) AS topn
  FROM r
)
SELECT n_keys, CAST(total_rows AS BIGINT) AS total_rows,
       floor(CAST(mx AS DOUBLE) / total_rows * 1000000.0 + 0.5)
         / 1000000.0 AS max_share,
       floor(CAST(topn AS DOUBLE) / total_rows * 1000000.0 + 0.5)
         / 1000000.0 AS top{top_n}_share,
       floor((2.0 * si / (CAST(n_keys AS DOUBLE) * total_rows)
              - (n_keys + 1.0) / n_keys) * 1000000.0 + 0.5)
         / 1000000.0 AS gini
FROM a
"""

# Twin of operators.timeseries.page_hinkley (and its streaming replay):
# value + running mean floor-quantized ONCE to BIGINT micro counts,
# then pure integer term sum / running min / alarm compare — zero
# float accumulation, so both engines are bit-identical by
# construction (see the operator docstring for why a float running
# sum re-quantized at 1e-6 is boundary-unstable here).
_PH_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(value AS DOUBLE) AS v
  FROM events
), vi AS (
  SELECT user_id, ts_us, event_id,
         CASE WHEN v IS NOT NULL
              THEN CAST(floor(v * 1000000.0 + 0.5) AS BIGINT) END AS v_int
  FROM e
), a AS (
  SELECT user_id, ts_us, event_id,
         CASE WHEN v_int IS NOT NULL
              THEN v_int
                   - (2 * sum(v_int) OVER w + count(v_int) OVER w)
                       // (2 * count(v_int) OVER w)
                   - {int(round(PH_P["delta"] * 1e6))}
         END AS term
  FROM vi
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), m AS (
  SELECT user_id, ts_us, event_id,
         sum(term) OVER w AS mm
  FROM a
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), r AS (
  SELECT user_id, event_id,
         mm - min(mm) OVER w AS ph_int
  FROM m
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       ph_int / 1000000.0 AS ph,
       ph_int > {int(round(PH_P["lam"] * 1e6))} AS alarm
FROM r
"""
# Robust (median/MAD) anomaly scoring: same frame as ANOM_WINDOW, the
# classic 3.5 robust-z cutoff (Iglewicz-Hoaglin), threshold applied to
# the QUANTIZED score.
MAD_P = dict(window=32, threshold=3.5)
# decontamination / chunking / scrubbing / LM-scoring parameters.
# bench_mod carves ~1% of the corpus out as the "benchmark" set; k=3
# word-shingles give real overlap signal on the synthetic corpus (171
# contaminated docs at sf0.01 — dup pairs share full token runs).
DECONTAM = dict(k=3, bench_mod=97)
CHUNK = dict(chunk_tokens=16, stride=12)
# corpus vocabulary is 31 terms (synthetic word list) — a 16-term vocab
# produces real OOV rates; at real scale vocab_size is the tokenizer
# budget (32k/64k/...).
VOCAB = dict(vocab_size=16)
# domain reweighting: explicit up/down-weights for four sources, 0.75
# for the long tail. All rate literals are binary-exact doubles.
MIX_RATES = {"src1": 1.0, "src2": 0.5, "src3": 0.25, "src4": 0.0}
MIX_DEFAULT = 0.75
# Java-regex/RE2 common subset only (no backreferences/lookaround) —
# the email/url patterns document the PII path (zero hits on the
# all-lowercase-words synthetic corpus); customer_ref fires for real.
SCRUB_PATTERNS = {
    "email": "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "url": "https?://[^ ]+",
    "customer_ref": "customer [a-z]+",
}
MINHASH = dict(k=3, num_hashes=32, bands=8, threshold=0.35, seed=7)
PAGERANK = dict(damping=0.85, n_iter=5)
ZIPF_TOP_V = 100
TRUNC_DIM = 16  # Matryoshka recall probe: prefix dims scored vs full 64
JL_DIM = 16  # JL random-sign projection width (same budget as TRUNC_DIM)
HYBRID = dict(terms=["hash", "join", "spark"], query_vec_id=0, n_leg=50, k=20)
HOT_NGRAM = dict(k=3, min_df=3)
BPE_MERGES = 10
SPAN_TOKENS = 10  # C4-style exact span dedup granularity
KCENTER_K = 8  # farthest-point coreset size
HIST_BINS = 256
KNN_ACC = dict(max_query_id=32, k=10)
SIMHASH_BITS = 32
SIMHASH_PAIRS = dict(bits=32, max_hamming=3, chunks=4)
EMB_DIM = 64
EMB_NEAR_DUP = 0.4
EMB_NEAR_DUP_LSH = 0.3
NEAR_DUP_PLANES = 3
ANN = dict(query_id=0, k=10, num_planes=4, seed=13)
# MMR rerank: n_candidates is the PLAN-TIME bound on the collected
# candidate set (the distributed leg is the top-N retrieval); lam=0.5
# is a binary-exact literal.
MMR = dict(query_id=0, n_candidates=32, k=10, lam=0.5)
KNN = dict(max_query_id=5, k=10)
IVF = dict(query_id=3, k=20, num_lists=8)
# Recall@k reporting panel for the approximate ANN legs (r3 verdict
# item #8): 8 queries, recall of each approximate top-10 vs the exact
# top-10, as a driver-gated query result. nprobe=2 of 8 lists is the
# partial-probe point the property tests exercise.
RECALL = dict(max_query_id=8, k=10, ivf_nprobe=2)
PQ = dict(query_id=3, k=20, m=4, ks=16, dim=EMB_DIM)
# K-means / SemDeDup (round 4): k=8 semantic regions, 2 quantized Lloyd
# refinements; the 0.35 cosine threshold sits just above the corpus's
# within-cluster p99 (0.334 at sf0.01), so the drop set is meaningful at
# every SF (500->407 kept at sf0.01, 5000->1191 at sf0.1) without
# degenerating to drop-everything.
KMEANS = dict(k=8, iters=2)
SEMDEDUP_THRESHOLD = 0.35
# HOT-SAX discords over the motif word space (c=4 keeps the histogram
# dense enough that "rare" is meaningful: 73 distinct words / 554
# windows at sf0.01, 15 singletons).
DISCORD = dict(rare_words=10, top=5)
# DSIR importance resampling: 1024 hashed-unigram buckets, target =
# English rows (the corpus plurality, 218/500 at sf0.01).
DSIR = dict(n_buckets=1024, target_col="lang", target_value="en")
SOURCE_CAP = 10
NOVELTY_K = 3
# SAX-VSM: n=8/w=4/c=4 gives dense-enough bags that series share words;
# df_cap=200 bounds the word-keyed pair fanout (hot-key insurance).
VSM = dict(n=8, w=4, c=4, df_cap=200, top=20)
PCA_ITERS = 3
CORPUS_FILTER3 = dict(min_novelty=0.2)
STL = dict(trend_window=12)
ACF_MAX_LAG = 5
SAX_MOTIF_K = 20
DOM_PERIOD_MAX_LAG = 12
# Benford expected leading-digit fractions log10(1 + 1/d), shared as
# EXACT double literals by both engines (never computed engine-side)
BENFORD_EXPECTED = {
    d: float(__import__("math").log10(1.0 + 1.0 / d)) for d in range(1, 10)
}
SEASONAL_ANOM = dict(threshold=3.5)
HW_P = dict(alpha=0.5, beta=0.3, gamma=0.2, season=8, window=32)


def _events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return sliding_sax(
        ev, key="user_id", order=["ts", "event_id"], value="value", **SLIDE
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-event sliding SAX words over the events stream,
    ranked by mindist to a literal query shape — scan -> window ->
    encode -> distance -> top-k, end to end."""
    words = _events_sliding(spark, "/root/testdata/sf0.001")
    return topk_nearest(
        words.select("user_id", "event_id", "sax_word"),
        DIST_PATTERN,
        c=SLIDE["c"],
        k=TOPK,
        n=SLIDE["n"],
        tiebreakers=["user_id", "event_id"],
    ).select(
        "user_id",
        "event_id",
        "sax_word",
        F.round("mindist", 4).alias("dist"),
    )


# ---------------------------------------------------------------------------
# queries (Spark side)


def q_sax_sliding_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events_sliding(spark, sf_dir).select("user_id", "event_id", "sax_word")


def q_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX motif discovery (Lin/Keogh's original application): the
    top-20 most recurring COMPLETE sliding words corpus-wide, with how
    many distinct series exhibit each -> (sax_word, occurrences,
    n_series). The frequency dual of sax_discords' rarity probe;
    '#'-words (unfilled history) are excluded. One combinable groupBy
    over the sliding relation, top-k as TakeOrderedAndProject."""
    words = _events_sliding(spark, sf_dir).select("user_id", "sax_word")
    return (
        words.where(~F.col("sax_word").contains("#"))
        .groupBy("sax_word")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("user_id").alias("n_series"),
        )
        .orderBy(F.desc("occurrences"), "sax_word")
        .limit(SAX_MOTIF_K)
    )


def q_sax_word_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX shape grammar: the top-20 (word -> next word) transitions
    across consecutive complete sliding words within each series ->
    (word_from, word_to, n_transitions, n_series). The sequence-level
    structure the per-word motif/discord probes can't see (which
    shapes FOLLOW which); rare transitions between common words are
    grammar violations worth an anomaly look. One lag window on the
    sliding relation + a combinable pair count."""
    from pyspark.sql import Window

    words = _events_sliding(spark, sf_dir).select(
        "user_id", "event_id", "ts", "sax_word"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = (
        words.withColumn("__next", F.lead("sax_word").over(w))
        .where(
            (~F.col("sax_word").contains("#"))
            & F.col("__next").isNotNull()
            & (~F.col("__next").contains("#"))
        )
        .select(
            F.col("sax_word").alias("word_from"),
            F.col("__next").alias("word_to"),
            "user_id",
        )
    )
    return (
        hops.groupBy("word_from", "word_to")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("user_id").alias("n_series"),
        )
        .orderBy(F.desc("n_transitions"), "word_from", "word_to")
        .limit(20)
    )


def q_sax_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series SAX symbol entropy: Shannon entropy of the letter
    distribution across the series' complete sliding words ->
    (user_id, n_symbols, symbol_entropy). The series-complexity
    measure the SAX alphabet enables for free: near 0 bits = flat or
    single-regime series, near log2(c) = the series exercises the
    full quantile range. Explode word chars -> alphabet-bounded
    (series, letter) groupBy -> quantized entropy sum."""
    from symtseries_spark.operators.timeseries import quantize

    words = _events_sliding(spark, sf_dir).select("user_id", "sax_word")
    letters = words.where(~F.col("sax_word").contains("#")).select(
        "user_id",
        F.explode(F.split(F.col("sax_word"), "(?!^)")).alias("sym"),
    ).where(F.col("sym") != "")
    counts = letters.groupBy("user_id", "sym").agg(
        F.count(F.lit(1)).alias("__c")
    )
    tot = counts.groupBy("user_id").agg(F.sum("__c").alias("__t"))
    p = F.col("__c").cast("double") / F.col("__t").cast("double")
    ent = counts.join(tot, "user_id").groupBy("user_id").agg(
        F.first("__t").alias("n_symbols"),
        quantize(
            -F.sum(p * F.log2(p)), 6
        ).alias("symbol_entropy"),
    )
    return ent.select(
        "user_id", F.col("n_symbols").cast("long").alias("n_symbols"),
        "symbol_entropy",
    )


def q_sax_tumbling_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = tumbling_sax(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value", **TUMBLE_MOTIF,
    )
    return motif_counts(words)


def q_sax_whole_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return whole_series_sax(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value", **WHOLE,
    )


def q_sax_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = tumbling_sax(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value", **TUMBLE_MOTIF,
    )
    return match_pattern(words, MOTIF_PATTERN, c=TUMBLE_MOTIF["c"]).select(
        "series_key", "window_id"
    )


def q_sax_mindist_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = tumbling_sax(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value", **TUMBLE_FINE,
    )
    scored = mindist_to_pattern(
        words, FINE_PATTERN, c=TUMBLE_FINE["c"], n=TUMBLE_FINE["n"]
    ).select(
        "series_key",
        "window_id",
        "sax_word",
        F.round("mindist", 4).alias("dist"),
    )
    return scored.orderBy("dist", "series_key", "window_id").limit(TOPK)


def q_sax_mindist_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = tumbling_sax(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value", **TUMBLE_DIST,
    )
    return mindist_to_pattern(
        words, DIST_PATTERN, c=TUMBLE_DIST["c"], n=TUMBLE_DIST["n"]
    ).select(
        "series_key",
        "window_id",
        "sax_word",
        F.round("mindist", 4).alias("dist"),
        F.round("mindist_above", 4).alias("dist_above"),
        F.round("mindist_below", 4).alias("dist_below"),
    )


def q_sax_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = tumbling_sax(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value", **TUMBLE_DIST,
    ).select(
        (F.col("series_key") * 10000 + F.col("window_id")).alias("wkey"),
        "sax_word",
    )
    pairs = allpairs_within(
        words,
        w=TUMBLE_DIST["w"],
        c=TUMBLE_DIST["c"],
        delta=ALLPAIRS_DELTA,
        key_col="wkey",
        word_col="sax_word",
        n_col=None,
    )
    # parsed words carry n=0 wildcard on both sides -> compression n=w;
    # rescale to the true n once (sqrt(n/w) factor)
    scale = (TUMBLE_DIST["n"] / TUMBLE_DIST["w"]) ** 0.5
    return pairs.select(
        "key_a",
        "key_b",
        F.round(F.col("mindist") * scale, 4).alias("dist"),
    ).where(F.col("dist") <= ALLPAIRS_DELTA)


def q_sax_allpairs_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prune-then-refine, end to end (the reference's whole point —
    README.md:29-34): :func:`allpairs_refined` prunes on mindist, computes
    the true z-normalized Euclidean distance JVM-side and drops false
    positives. Output is the EXACT all-pairs-within-REFINE_DELTA answer.
    At this delta the w=4 prune keeps ~38% of all pairs and the exact
    check keeps ~0.1% of the candidates: both halves of the pipeline do
    real work. (Measured dead end, kept for the record: pruning at w=8
    keeps only 19%, but fine words are nearly UNIQUE per window, which
    degenerates allpairs_within's distinct-word broadcast into a
    multi-million-row build side — 5x slower end-to-end. The symbolic
    prune wants LOW resolution; the exact check supplies the
    precision.)"""
    ev = load(spark, sf_dir, "events")
    wkey = (F.col("series_key") * 10000 + F.col("window_id")).alias("wkey")
    words = tumbling_sax(
        ev, key="user_id", order=["ts", "event_id"], value="value", **TUMBLE_DIST
    ).select(wkey, "sax_word")
    vals = tumbling_values(
        ev, key="user_id", order=["ts", "event_id"], value="value",
        n=TUMBLE_DIST["n"],
    ).select(wkey, "vals")
    # the unrounded threshold is loosened by 1e-3 so it can never
    # disagree with the rounded oracle filters below
    pairs = allpairs_refined(
        words, vals, key="wkey", delta=REFINE_DELTA + 1e-3, **TUMBLE_DIST
    )
    return pairs.select(
        "key_a",
        "key_b",
        F.round("mindist", 4).alias("dist"),
        F.round("exact_dist", 4).alias("exact_dist"),
    ).where((F.col("dist") <= REFINE_DELTA) & (F.col("exact_dist") <= REFINE_DELTA))


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # tight decimal precisions keep the triple product under precision 38
    # in BOTH engines -> bit-exact doubles after the final cast
    d = lambda col, p=12, s=2: F.col(col).cast(f"decimal({p},{s})")
    disc_price = d("l_extendedprice") * (F.lit(1).cast("decimal(6,4)") - d("l_discount", 6, 4))
    charge = disc_price * (F.lit(1).cast("decimal(6,4)") + d("l_tax", 6, 4))
    g = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal-exact sums; the final round() pins the double bits
            # across engines (decimal->double conversion differs in ulps)
            F.round(F.sum(d("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(d("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            F.round(F.sum(d("l_quantity")).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(F.sum(d("l_extendedprice")).cast("double") / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(F.sum(d("l_discount", 6, 4)).cast("double") / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return g


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("date")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


ISAX_ML_LEVELS = (2, 4)
# patterns chosen so their finest-level bucket is populated at every SF
ISAX_ML_PATTERN1 = "CDEF"
ISAX_ML_PATTERN2 = "FCDE"
_ISAX_ML_CACHE: dict[str, str] = {}


def _isax_ml_index(spark: SparkSession, sf_dir: str) -> str:
    """One-time ETL: materialize the multi-resolution iSAX index (words
    partitioned by nested c=2 / c=4 coarse buckets). Memoized per
    sf_dir — the reference's persistent-index story: build once, then
    every similarity query is a partition-pruned scan."""
    if sf_dir not in _ISAX_ML_CACHE:
        import tempfile

        from symtseries_spark.sources import write_words_multilevel

        path = tempfile.mkdtemp(prefix="isax_ml_") + "/words"
        words = tumbling_sax(
            load(spark, sf_dir, "events"),
            key="user_id", order=["ts", "event_id"], value="value",
            **TUMBLE_DIST,
        )
        write_words_multilevel(
            words, path, c=TUMBLE_DIST["c"], levels=ISAX_ML_LEVELS
        )
        _ISAX_ML_CACHE[sf_dir] = path
    return _ISAX_ML_CACHE[sf_dir]


def _isax_ml_topk(spark: SparkSession, sf_dir: str, pattern: str) -> DataFrame:
    from symtseries_spark.sources import read_words_multilevel

    pruned = read_words_multilevel(
        spark, _isax_ml_index(spark, sf_dir), pattern,
        c=TUMBLE_DIST["c"], levels=ISAX_ML_LEVELS,
    )
    return (
        mindist_to_pattern(
            pruned, pattern, c=TUMBLE_DIST["c"], n=TUMBLE_DIST["n"]
        )
        .select(
            "series_key",
            "window_id",
            "sax_word",
            F.round("mindist", 4).alias("dist"),
        )
        .orderBy("dist", "series_key", "window_id")
        .limit(TOPK)
    )


def q_sax_isax_ml_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First query against the multi-resolution iSAX index: pays the
    one-time index build (encode + nested-bucket parquet write), then
    probes. Compare with sax_isax_ml_probe, which hits the same index
    at rest — the delta IS the build cost."""
    return _isax_ml_topk(spark, sf_dir, ISAX_ML_PATTERN1)


def q_sax_isax_ml_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest path: a different pattern against the already-built
    index — a two-level PartitionFilters pruned scan + exact rerank,
    no window computation at all. This is the time a standing
    similarity workload pays per query."""
    return _isax_ml_topk(spark, sf_dir, ISAX_ML_PATTERN2)


def q_sax_c16_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-cardinality path (c=16, letters A..P): encode + mindist
    decomposition against a 16-level pattern — exercises the largest
    breakpoint/LUT tables end to end."""
    words = tumbling_sax(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value", **TUMBLE_C16,
    )
    return mindist_to_pattern(
        words, "AEIMPLHD", c=TUMBLE_C16["c"], n=TUMBLE_C16["n"]
    ).select(
        "series_key",
        "window_id",
        "sax_word",
        F.round("mindist", 4).alias("dist"),
        F.round("mindist_above", 4).alias("dist_above"),
        F.round("mindist_below", 4).alias("dist_below"),
    )


def q_sax_tumbling_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing partial windows kept, NaN back-padded -> trailing '#'
    frames (the reference's partially-filled buffer, src/symtseries.c:313)."""
    return tumbling_sax(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value",
        keep_partial=True, **TUMBLE_MOTIF,
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = load(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)")
    )
    # dims broadcast; the only shuffle joins/aggregates are on lineitem keys
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").cast("decimal(6,4)") >= F.lit(0.05).cast("decimal(6,4)"))
            & (F.col("l_discount").cast("decimal(6,4)") <= F.lit(0.07).cast("decimal(6,4)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * F.col("l_discount").cast("decimal(6,4)")
                ).cast("double"),
                2,
            ).alias("revenue")
        )
    )


EVENT_WINDOW_DAYS = 7
EVENT_WINDOW = dict(w=4, c=8)
EVENT_STREAM_SPAN_WINDOWS = 5  # windows per replay file == watermark span


def q_sax_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling SAX words (7-day epoch-aligned windows)."""
    from symtseries_spark.streaming import tumbling_sax_event_time

    ev = load(spark, sf_dir, "events").withColumn(
        # ts is read as raw nanoseconds; truncate to micros exactly like
        # DuckDB's ns->us timestamp conversion
        "ts_t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    return tumbling_sax_event_time(
        ev, key="user_id", ts="ts_t", value="value",
        duration=f"{EVENT_WINDOW_DAYS} days", **EVENT_WINDOW,
    ).select("series_key", "window_start", "n", "sax_word")


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer: lineitem shuffle join + a
    groupBy whose dims (customer, nation) broadcast."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority counts: join + conditional aggregation."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_returnflag").isin("A", "N")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q_events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/offset window functions (absent in the reference): per
    series, lag-based step deltas, then per-type stats of the deltas."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf_dir, "events").withColumn(
        "delta", F.col("value") - F.lag("value").over(w)
    )
    return (
        ev.where(F.col("delta").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.round(F.avg("delta"), 6).alias("avg_delta"),
            F.round(F.stddev_pop("delta"), 6).alias("std_delta"),
        )
        .orderBy("event_type")
    )


def q_docs_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent in the reference): English docs EXCEPT
    short docs, INTERSECT with the high-quality half — pure id sets."""
    docs = load(spark, sf_dir, "documents")
    en = docs.where(F.col("lang") == "en").select("doc_id")
    short = docs.where(F.col("n_chars") < 150).select("doc_id")
    first_half = docs.where(F.col("doc_id") % 2 == 0).select("doc_id")
    return en.exceptAll(short).intersect(first_half)


def q_docs_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregation: ROLLUP(lang, source) subtotals over the
    corpus — grouping machinery the reference lacks entirely (SURVEY
    §2.3), supplied by the engine's built-ins."""
    return (
        load(spark, sf_dir, "documents")
        .rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy(
            F.col("lang").asc_nulls_first(), F.col("source").asc_nulls_first()
        )
    )


def q_events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing: extract a JSON field from the events
    props column and aggregate per event type (the get_json_object path
    stays JVM-side and is pushed into the scan stage)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.round(F.sum(k) / F.count(k), 6).alias("avg_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo-style revenue share: part join + conditional/total ratio."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)")
    )
    econ = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.round(
            F.lit(100.0)
            * F.sum(econ).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("economy_revenue_pct")
    )


def q_sax_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming parity as a checkable query: run the stateful
    sliding-SAX stream over the events file (one micro-batch -> arrival
    order == sort order), drain to a memory sink, return the sink table.
    Streaming == batch by construction, so the ORACLE is the batch
    sliding-window SQL."""
    import tempfile
    import uuid

    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming import sliding_sax_stream

    stream = load_events_stream(spark, sf_dir)
    words = sliding_sax_stream(
        stream, key="user_id", order=["ts", "event_id"], value="value", **SLIDE
    )
    name = f"sax_stream_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state
    # store to the key cardinality, not the batch default
    with _state_partitions(spark):
        q = (
            words.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="sax_stream_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select("user_id", "event_id", "sax_word")


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 (small-quantity orders): a genuinely CORRELATED scalar
    subquery, handed to Catalyst as SQL so its decorrelation rewrites it
    into the per-partkey aggregate + join plan — proving the planner
    surface beyond star joins. The avg threshold is engine-deterministic
    because l_quantity is integral (exact sums; division/multiplication
    are single correctly-rounded IEEE ops)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__q17_li")
    load(spark, sf_dir, "part").createOrReplaceTempView("__q17_part")
    return spark.sql("""
      SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2)
             AS avg_yearly
      FROM __q17_li l JOIN __q17_part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#4'
        AND l.l_quantity < 0.2 * (
          SELECT avg(l2.l_quantity) FROM __q17_li l2
          WHERE l2.l_partkey = l.l_partkey
        )
    """)


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q22-style anti-join: customers with NO urgent orders, per nation —
    a correlated NOT EXISTS that Catalyst plans as a left-anti hash join
    (broadcast when the filtered orders side is small)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("__q22_cust")
    load(spark, sf_dir, "orders").createOrReplaceTempView("__q22_ord")
    return spark.sql("""
      SELECT c.c_nationkey,
             count(*) AS n_custs,
             round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS total_bal
      FROM __q22_cust c
      WHERE NOT EXISTS (
        SELECT 1 FROM __q22_ord o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
      GROUP BY c.c_nationkey
      ORDER BY c.c_nationkey
    """)


def _write_sentinel_parquet(path: str, ts, user_id: int = -1) -> None:
    """Write a one-row (user_id, event_id, ts_t, value) sentinel parquet
    directly with pyarrow — a 1-row Spark job costs 5-9 s of scheduling
    per file (measured), pure file IO costs ~1 ms. The sentinel only
    advances the watermark; its exact value never reaches the output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "user_id": pa.array([user_id], pa.int64()),
            "event_id": pa.array([-1], pa.int64()),
            "ts_t": pa.array([ts], pa.timestamp("us")),
            "value": pa.array([0.0], pa.float64()),
        }
    )
    pq.write_table(table, path)


def q_sax_event_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windows through a REAL stream with controlled lateness:
    events are replayed as one file per 5-window span of event time
    (maxFilesPerTrigger=1 -> one micro-batch each; spans rather than
    single windows keep the trigger count — pure fixed-cost micro-batch
    machinery — bounded), with a deterministic 25% of rows delayed by
    one whole file — genuinely late data, up to 5 windows behind the
    stream head, admitted because the watermark lags 5 windows. Two
    far-future sentinel rows advance the watermark so every real window
    finalizes into the append-mode sink; the sentinels' own windows
    never finalize, so they self-exclude. The finalized output must
    hash-match the batch event-time oracle exactly (late rows included
    in their correct windows)."""
    import glob as globmod
    import os
    import tempfile
    import uuid
    from datetime import timedelta

    from symtseries_spark.streaming import tumbling_sax_event_time

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts_t", F.timestamp_micros(F.expr("ts div 1000")))
        .select("user_id", "event_id", "ts_t", "value")
    )
    span_sec = EVENT_STREAM_SPAN_WINDOWS * EVENT_WINDOW_DAYS * 86400
    late = (F.abs(F.hash("event_id")) % 4 == 0).cast("long")
    bid = (F.floor(F.unix_timestamp("ts_t") / span_sec) + late).alias("__bid")

    tmp = tempfile.mkdtemp(prefix="sax_evstream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    ev.withColumn("__bid", bid).coalesce(1).write.partitionBy("__bid").parquet(staged)
    batch_dirs = sorted(
        globmod.glob(f"{staged}/__bid=*"),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    t0 = 1_000_000_000
    for i, d in enumerate(batch_dirs):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (t0 + i, t0 + i))  # deterministic arrival order

    # sentinels: (watermark span + 3) windows past the real maximum — far
    # enough that the watermark they push passes every real window end
    sentinel_days = (EVENT_STREAM_SPAN_WINDOWS + 3) * EVENT_WINDOW_DAYS
    mx = ev.agg(F.max("ts_t")).first()[0]
    for j in range(2):
        dst = f"{indir}/b{len(batch_dirs) + j:04d}.parquet"
        _write_sentinel_parquet(dst, mx + timedelta(days=sentinel_days + j))
        os.utime(dst, (t0 + len(batch_dirs) + j, t0 + len(batch_dirs) + j))

    stream = (
        spark.readStream.schema(ev.schema)
        # 2 files/trigger: halves micro-batch fixed costs; the finalized
        # window set is batching-invariant (the watermark admits every
        # late row either way) — same argument as the sessions replay
        .option("maxFilesPerTrigger", "2")
        .parquet(indir)
    )
    words = tumbling_sax_event_time(
        stream,
        key="user_id",
        ts="ts_t",
        value="value",
        duration=f"{EVENT_WINDOW_DAYS} days",
        watermark=f"{EVENT_STREAM_SPAN_WINDOWS * EVENT_WINDOW_DAYS} days",
        **EVENT_WINDOW,
    )
    name = f"sax_evw_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            words.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="sax_evw_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select("series_key", "window_start", "n", "sax_word")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # explode(array(...)) is a Generate barrier: CollapseProject cannot
    # re-inline the profile expression into the 9 field extractions, so
    # the (token-bound) profile is evaluated exactly once per row
    return docs.select(
        "doc_id",
        F.explode(F.array(text_profile(F.col("text")))).alias("__p"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    ).select(
        "doc_id",
        "__p.quality.*",
        "bpe_tokens",
        F.col("__p.lang_pred").alias("lang_pred"),
        F.col("__p.fingerprint").alias("fingerprint"),
    )


def q_docs_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup FUNNEL capstone: survivors after each chained stage —
    (1) all docs, (2) exact dedup (min-id per content hash), (3)
    MinHash-LSH near-dup clustering of the exact survivors (components,
    min-id keep), (4) winnowing substring dedup of those (drop the
    larger doc_id of every >=0.5-overlap pair) -> 4 rows
    (stage_idx, stage, survivors). Each stage runs on the PREVIOUS
    stage's survivor set, which is what a production pipeline actually
    does (cheap exact first, each pricier stage sees a smaller corpus);
    the oracle chains the same stage CTEs through the table parameter
    of each stage's own SQL generator. On this corpus the substring
    stage drops ZERO docs at both SFs — measured, not assumed: the
    MinHash stage at threshold 0.35 subsumes every >=0.5-overlap
    winnow pair here, so stage 4 is the leakage CHECK a pipeline keeps
    precisely because it should usually come back empty."""
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.functions.text import doc_hash60, normalized_text
    from symtseries_spark.operators import minhash_lsh_pairs, winnow_pairs
    from symtseries_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    # Each stage's SURVIVOR-ID set (doc_id only — bytes per doc,
    # negligible next to the corpus at any scale) is persisted, so the
    # expensive stage machinery (exact-hash groupBy, MinHash banding +
    # iterative components, winnowing index) runs exactly once even
    # though every id set feeds both its own count and the next
    # stage's semi-join; only the cheap pruned corpus scan repeats.
    s1_ids = persist_tracked(
        exact_dedup_map(docs)
        .where(~F.col("is_duplicate"))
        .select("doc_id")
    )
    s1 = docs.join(s1_ids, "doc_id", "left_semi")
    pairs = minhash_lsh_pairs(s1, **MINHASH).select("doc_a", "doc_b")
    cc = connected_components(
        pairs, s1_ids.select(F.col("doc_id").alias("v")),
        src="doc_a", dst="doc_b",
    )
    s2_ids = persist_tracked(
        cc.where(F.col("v") == F.col("canonical_id"))
        .select(F.col("v").alias("doc_id"))
    )
    s2 = docs.join(s2_ids, "doc_id", "left_semi")
    losers = (
        winnow_pairs(s2, **WINNOW, **WINNOW_PAIRS)
        .where(F.col("overlap") >= CORPUS_FILTER2["winnow_overlap"])
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3_ids = s2_ids.join(losers, "doc_id", "left_anti")
    arms = []
    for idx, stage, df in (
        (1, "all", docs),
        (2, "exact", s1_ids),
        (3, "near_dup", s2_ids),
        (4, "substring", s3_ids),
    ):
        arms.append(
            df.agg(F.count(F.lit(1)).alias("survivors")).select(
                F.lit(idx).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                "survivors",
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("stage_idx")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_map(load(spark, sf_dir, "documents"))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(load(spark, sf_dir, "documents"), **JACCARD)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load(spark, sf_dir, "documents"), **MINHASH)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load(spark, sf_dir, "documents"), bits=SIMHASH_BITS)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load(spark, sf_dir, "documents"), **SIMHASH_PAIRS)


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(load(spark, sf_dir, "embeddings"), query_id=0, k=TOPK)


def q_emb_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return knn_join(
        emb, emb.where(F.col("vec_id") < KNN["max_query_id"]), k=KNN["k"]
    )


def q_emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh_topk(load(spark, sf_dir, "embeddings"), dim=EMB_DIM, **ANN)


def q_emb_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from symtseries_spark.operators.simsearch import ann_lsh_multiprobe_topk

    return ann_lsh_multiprobe_topk(
        load(spark, sf_dir, "embeddings"),
        dim=EMB_DIM, probe_hamming=1, **ANN,
    )


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index + probed top-k at FULL probe: every centroid list is
    scanned, so the result is provably the exact brute-force top-k — the
    driver's DuckDB twin recomputes it as such. Partial-probe recall is
    property-tested (tests/test_pipeline_operators.py::TestIVF)."""
    from symtseries_spark.operators import ivf_topk

    return ivf_topk(
        load(spark, sf_dir, "embeddings"),
        query_id=IVF["query_id"],
        k=IVF["k"],
        num_lists=IVF["num_lists"],
        nprobe=IVF["num_lists"],
        dim=EMB_DIM,
    )


def q_emb_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall@k of single-bucket LSH vs exact top-k
    (operators/simsearch.py:ann_lsh_recall) — approximation quality as
    an oracle-gated query result, not just a property test."""
    from symtseries_spark.operators.simsearch import ann_lsh_recall

    return ann_lsh_recall(
        load(spark, sf_dir, "embeddings"),
        max_query_id=RECALL["max_query_id"], k=RECALL["k"],
        num_planes=ANN["num_planes"], seed=ANN["seed"], dim=EMB_DIM,
        probe_hamming=0,
    )


def q_emb_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of hamming-1 multiprobe LSH vs exact top-k — shows the
    multiprobe recall lift over q_emb_lsh_recall at ~num_planes+1 times
    the scanned buckets."""
    from symtseries_spark.operators.simsearch import ann_lsh_recall

    return ann_lsh_recall(
        load(spark, sf_dir, "embeddings"),
        max_query_id=RECALL["max_query_id"], k=RECALL["k"],
        num_planes=ANN["num_planes"], seed=ANN["seed"], dim=EMB_DIM,
        probe_hamming=1,
    )


def q_emb_trunc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of 16-of-64-dim truncated cosine search vs the full-dim
    exact top-k (operators/simsearch.py:truncated_dim_recall) — the
    Matryoshka dimension/quality trade as a driver-visible report: how
    much ranking survives reading a quarter of the vector bytes."""
    from symtseries_spark.operators.simsearch import truncated_dim_recall

    return truncated_dim_recall(
        load(spark, sf_dir, "embeddings"),
        max_query_id=RECALL["max_query_id"], k=RECALL["k"],
        trunc_dim=TRUNC_DIM, dim=EMB_DIM,
    )


def q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction: the first 10 BPE merges learned
    from the corpus word-frequency table
    (operators/pipeline.py:bpe_merges) — the actual Sennrich et al.
    training step, distributed: pair counts are vocab-sized combinable
    aggregates, each merge decision is a 1-row TakeOrderedAndProject,
    and merge application is one literal string replace."""
    from symtseries_spark.operators.pipeline import bpe_merges

    return bpe_merges(load(spark, sf_dir, "documents"), n_merges=BPE_MERGES)


def q_docs_span_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span dedup through a REAL stream: docs arrive in id order across
    2 micro-batches; state is one (first_doc, first_pos) pair keyed by
    the 128-bit md5 of the span (hash_spans=True — the at-scale layout:
    32 state-key bytes per distinct span instead of its full text;
    streaming/dedup.py:streaming_span_dedup). With id-ordered arrival
    + within-batch (doc_id, pos) sort, first-seen == the batch rule,
    so the ORACLE is the batch span_dedup SQL — the per-doc rebuild
    (counts + position-ordered clean_text) runs on the sink output and
    must reproduce it exactly."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.streaming import streaming_span_dedup

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="span_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    half = (F.col("doc_id") > mid).cast("int").alias("__bid")
    docs.withColumn("__bid", half).coalesce(1).write.partitionBy(
        "__bid"
    ).parquet(staged)
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    # hash-sharded state (r13): identical output (shard maps keep the
    # exact md5 span keys, same (doc_id, pos)-sorted batch order); the
    # per-span handler round-trips were the addBatch floor (~4s/batch
    # at 14k distinct spans in the r13 stream profile)
    marked = streaming_span_dedup(
        stream, span_tokens=SPAN_TOKENS, hash_spans=True, shard_state=64
    )
    name = f"span_stream_{uuid.uuid4().hex[:8]}"
    # md5-keyed state: thousands of keys, same parallelism
    # reasoning as dedup_exact_stream
    with _state_partitions(spark, n=16):
        q = (
            marked.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="span_chk_")
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
    out = spark.table(name)
    agg_all = out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    kept = out.where(~F.col("is_dropped"))
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
        docs.select("doc_id")
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


def q_docs_line_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line dedup through a REAL stream: docs arrive in id order
    across 2 micro-batches; state is one (first_doc, first_line) pair
    keyed by the 128-bit md5 of the line (hash_lines=True;
    streaming/dedup.py:streaming_line_dedup). With id-ordered arrival
    + within-batch (doc_id, line_no) sort, first-seen == the batch
    min-(doc_id, line_no) rule, so the ORACLE is the batch
    line_dedup SQL — the per-doc rebuild on the sink output must
    reproduce it exactly."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.streaming import streaming_line_dedup

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="line_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    half = (F.col("doc_id") > mid).cast("int").alias("__bid")
    docs.withColumn("__bid", half).coalesce(1).write.partitionBy(
        "__bid"
    ).parquet(staged)
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    # hash-sharded state (r13): same shard rule + output-identity
    # argument as the span stream above
    marked = streaming_line_dedup(
        stream, sep=LINE_SEP, hash_lines=True, shard_state=64
    )
    name = f"line_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark, n=16):
        q = (
            marked.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="line_chk_")
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
    out = spark.table(name)
    agg_all = out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    kept = out.where(~F.col("is_dropped"))
    agg_kept = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("line_no"), F.col("line")))
                ),
                lambda x: x["line"],
            ),
            LINE_SEP,
        ).alias("clean_text"),
    )
    n_lines = F.coalesce("n_lines", F.lit(0))
    return (
        docs.select("doc_id")
        .join(agg_all, "doc_id", "left")
        .join(agg_kept, "doc_id", "left")
        .select(
            "doc_id",
            n_lines.cast("long").alias("n_lines"),
            (n_lines - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def q_emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric data pruning: the 8-point farthest-point-traversal
    coreset over the embedding corpus
    (operators/cluster.py:kcenter_coreset) — Gonzalez's k-center
    2-approximation, the deterministic diversity picker a curation
    pipeline uses to seed balanced eval panels. Selected set = driver
    state; each round is one incremental least() scan + a 1-row
    TakeOrderedAndProject; the corpus never shuffles."""
    from symtseries_spark.operators.cluster import kcenter_coreset

    return kcenter_coreset(load(spark, sf_dir, "embeddings"), k=KCENTER_K)


def q_emb_kcenter_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voronoi coverage of the k-center coreset: assign every vector
    to its nearest of the 8 picks and report per-cell count / mean /
    max squared distance (operators/cluster.py:kcenter_assign) — the
    balance check that tells a curation pipeline whether the coreset
    actually covers the corpus. Nearest-pick selection is ONE integer
    least() over packed micro-quantized keys; no corpus shuffle."""
    from symtseries_spark.operators.cluster import (
        kcenter_assign,
        kcenter_coreset,
    )

    emb = load(spark, sf_dir, "embeddings")
    pick_rows = sorted(
        kcenter_coreset(emb, k=KCENTER_K).collect(),
        key=lambda r: r["pick_rank"],
    )
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in emb.where(
            F.col("vec_id").isin([p["vec_id"] for p in pick_rows])
        ).collect()
    }
    picks = [
        (p["pick_rank"], p["vec_id"], [float(x) for x in vecs[p["vec_id"]]])
        for p in pick_rows
    ]
    return kcenter_assign(emb, picks=picks)


def q_docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style exact span dedup, materialized: drop every 10-token
    span whose exact text occurs earlier in the corpus (first
    occurrence by (doc_id, position) survives) and rebuild the cleaned
    text (operators/dedup.py:span_dedup) — the verbatim-passage
    cleaner between exact-doc dedup and near-dup MinHash. One shuffle
    on the span text; the rebuild is a combinable groupBy(doc)."""
    from symtseries_spark.operators.dedup import span_dedup

    return span_dedup(
        load(spark, sf_dir, "documents"), span_tokens=SPAN_TOKENS
    )


def q_docs_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit with the LEARNED vocabulary: apply the
    10 induced BPE merges (q_docs_bpe_merges) back to the corpus and
    report per-doc symbol counts and compression
    (operators/pipeline.py:bpe_apply_stats) — the end-to-end check a
    pipeline runs before committing a tokenizer. The merge list is
    driver state (10 rows), so application is a pure scan: 10 literal
    replaces plus one combinable groupBy(doc)."""
    from symtseries_spark.operators.pipeline import bpe_apply_stats, bpe_merges

    docs = load(spark, sf_dir, "documents")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_merges(docs, n_merges=BPE_MERGES).collect()
    ]
    return bpe_apply_stats(docs, merges=merges)


def q_dedup_keep_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted dedup keep: per near-dup cluster, keep the
    HIGHEST-quality member (4-decimal quality_metrics composite,
    doc_id tiebreak) instead of dedup_keep's min-id — what a training
    pipeline actually wants when duplicates differ in cleanliness ->
    (cluster_id, doc_id, q_score, lang, source). Same pointer-doubled
    components as dedup_keep; the pick is one map-side-combinable
    min(struct(-q, id)) per cluster."""
    from symtseries_spark.functions.text import quality_metrics
    from symtseries_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, **MINHASH).select("doc_a", "doc_b")
    verts = docs.select(F.col("doc_id").alias("v"))
    cc = connected_components(pairs, verts, src="doc_a", dst="doc_b")
    q = docs.select(
        F.col("doc_id").alias("v"),
        F.round(
            F.element_at(
                F.transform(
                    F.array(quality_metrics(F.col("text"))),
                    lambda s: s["quality_score"],
                ),
                1,
            ),
            4,
        ).alias("q_score"),
    )
    memb = cc.join(q, "v")
    pick = memb.groupBy("canonical_id").agg(
        F.min(
            # 0.0 - q, not -q: unary minus on a 0.0 score would emit
            # -0.0, which %.17g prints as "-0" and the oracle as "0"
            F.struct(
                (F.lit(0.0) - F.col("q_score")).alias("__n"),
                F.col("v").alias("__id"),
            )
        ).alias("__p")
    )
    keep = pick.select(
        F.col("canonical_id").alias("cluster_id"),
        F.col("__p.__id").alias("doc_id"),
        (F.lit(0.0) - F.col("__p.__n")).alias("q_score"),
    )
    return keep.join(
        load(spark, sf_dir, "documents").select("doc_id", "lang", "source"),
        "doc_id",
    ).select("cluster_id", "doc_id", "q_score", "lang", "source")


def q_docs_hot_ngram_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate suppression score: per doc, the fraction of its
    distinct word 3-grams whose corpus document-frequency is >= 3
    (operators/dedup.py:hot_ngram_coverage) — the Lee et al. 2022
    hot-n-gram template detector. One shingle explode feeds both the
    df count and the per-doc totals; the hot set is the heavy-hitter
    table (bounded by total_grams/min_df) and broadcasts."""
    from symtseries_spark.operators.dedup import hot_ngram_coverage

    return hot_ngram_coverage(load(spark, sf_dir, "documents"), **HOT_NGRAM)


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    top-50 and the cosine semantic top-50 into one top-20
    (operators/retrieval.py:hybrid_rrf_topk) — the training-free
    two-tower fusion a RAG stack runs between its inverted index and
    its vector index. Both legs end in TakeOrderedAndProject; the fuse
    tail touches at most 2 * n_leg rows."""
    from symtseries_spark.operators.retrieval import hybrid_rrf_topk

    return hybrid_rrf_topk(
        load(spark, sf_dir, "documents"),
        load(spark, sf_dir, "embeddings"),
        **HYBRID,
    )


def q_emb_jl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of cosine search in a 16-of-64-dim Johnson-Lindenstrauss
    random-sign projection vs the full-dim exact top-k
    (operators/simsearch.py:jl_recall) — the DATA-INDEPENDENT sibling of
    emb_trunc_recall: same 4x byte budget, but the projection mixes all
    64 input dims instead of trusting a Matryoshka-trained prefix, so it
    works on embeddings with no trained dimension ordering."""
    from symtseries_spark.operators.simsearch import jl_recall

    return jl_recall(
        load(spark, sf_dir, "embeddings"),
        max_query_id=RECALL["max_query_id"], k=RECALL["k"],
        out_dim=JL_DIM, dim=EMB_DIM,
    )


def q_emb_knn_label_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote label recovery on the embedding panel
    (operators/simsearch.py:knn_label_accuracy) — the labeled-probe
    eval of embedding quality: per panel point, do its 10 nearest
    neighbors vote its own label back? Deterministic vote tiebreak,
    so the eval is oracle-exact."""
    from symtseries_spark.operators.simsearch import knn_label_accuracy

    return knn_label_accuracy(
        load(spark, sf_dir, "embeddings"), **KNN_ACC
    )


def q_emb_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of asymmetric int8 search (corpus stored as int8
    codes, scored dequantized against full-precision queries) vs the
    exact cosine top-k (operators/pq.py:int8_recall) — the
    compression-eval family's 4x-at-rest entry beside PQ and
    truncated-dim."""
    from symtseries_spark.operators.pq import int8_recall

    return int8_recall(
        load(spark, sf_dir, "embeddings"),
        max_query_id=RECALL["max_query_id"], k=RECALL["k"],
    )


def q_emb_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of compressed-domain PQ/ADC search vs the exact
    full-dim L2 top-k (operators/pq.py:pq_recall) — completes the
    recall family (LSH / multiprobe / IVF / truncated-dim / PQ):
    pure quantization loss, m one-byte codes vs dim floats."""
    from symtseries_spark.operators.pq import pq_recall

    return pq_recall(
        load(spark, sf_dir, "embeddings"),
        max_query_id=RECALL["max_query_id"], k=RECALL["k"],
        m=PQ["m"], ks=PQ["ks"], dim=EMB_DIM,
    )


def q_emb_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the COMPOSED IVF+PQ index vs exact full-dim L2
    top-k (operators/pq.py:ivfpq_recall) — the truth-vs-approx audit
    row for emb_ivfpq_topk, compounding coarse-probe misses with ADC
    quantization loss (the same audit every other ANN leg has)."""
    from symtseries_spark.operators.pq import ivfpq_recall

    return ivfpq_recall(
        load(spark, sf_dir, "embeddings"),
        max_query_id=RECALL["max_query_id"], k=RECALL["k"],
        m=PQ["m"], ks=PQ["ks"],
        num_lists=IVF["num_lists"], nprobe=2, dim=EMB_DIM,
    )


def q_emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PARTIAL-probe IVF (nprobe=2 of 8 lists, seed-only
    quantizer for cross-engine parity) vs exact top-k
    (operators/simsearch.py:ivf_recall)."""
    from symtseries_spark.operators.simsearch import ivf_recall

    return ivf_recall(
        load(spark, sf_dir, "embeddings"),
        max_query_id=RECALL["max_query_id"], k=RECALL["k"],
        num_lists=IVF["num_lists"], nprobe=RECALL["ivf_nprobe"],
        dim=EMB_DIM,
    )


def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means partition of the embedding corpus
    (operators/cluster.py:kmeans_assign): seed = k lowest-id vectors,
    2 quantized Lloyd refinements, broadcast centroids everywhere ->
    (vec_id, cluster, d2). The clustering leg of the SemDeDup pipeline,
    driver-checked bit-exact against an unrolled-CTE DuckDB twin."""
    from symtseries_spark.operators.cluster import kmeans_assign

    return kmeans_assign(
        load(spark, sf_dir, "embeddings"), dim=EMB_DIM, **KMEANS
    ).select("vec_id", "cluster", "d2")


def q_emb_compression_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compression decision table: mean recall@k of the three
    at-rest compression schemes over the shared query panel ->
    (method, compression_x, mean_recall). One row each for int8 (4x,
    no dimension loss), truncated-dim (4x, first 16 of 64), and
    PQ/ADC (16x, m one-byte codes) — the single table an infra owner
    reads to pick the embedding storage format. Each leg is the
    registered recall query's own plan collapsed to its mean — except
    the TRUTH legs (r12): int8 and trunc16 rank vs the same exact
    cosine top-k and pq vs the exact L2 top-k, so the two
    corpus×panel truth folds run ONCE each, persisted (≤ panel*k
    rows), and feed the legs via ``exact=`` — three exact passes
    collapse to two with bit-identical values (the shared relation IS
    each leg's own former expression tree)."""
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.operators.pq import (
        exact_l2_topk,
        int8_recall,
        pq_recall,
    )
    from symtseries_spark.operators.simsearch import (
        knn_join,
        truncated_dim_recall,
    )
    from symtseries_spark.operators.timeseries import quantize

    emb = load(spark, sf_dir, "embeddings")
    kw = dict(max_query_id=RECALL["max_query_id"], k=RECALL["k"])
    exact_cos = persist_tracked(
        knn_join(
            emb,
            emb.where(F.col("vec_id") < RECALL["max_query_id"]),
            k=RECALL["k"],
        ).select("query_id", "neighbor_id")
    )
    exact_l2 = persist_tracked(exact_l2_topk(emb, **kw))

    def leg(df: DataFrame, method: str, factor: float) -> DataFrame:
        return df.agg(
            F.lit(method).alias("method"),
            F.lit(factor).alias("compression_x"),
            quantize(F.avg("recall"), 6).alias("mean_recall"),
        )

    return (
        leg(int8_recall(emb, exact=exact_cos, **kw), "int8", 4.0)
        .unionByName(
            leg(
                truncated_dim_recall(
                    emb, trunc_dim=TRUNC_DIM, dim=EMB_DIM,
                    exact=exact_cos, **kw
                ),
                "trunc16",
                4.0,
            )
        )
        .unionByName(
            leg(
                pq_recall(
                    emb, m=PQ["m"], ks=PQ["ks"], dim=EMB_DIM,
                    exact=exact_l2, **kw
                ),
                "pq",
                float(EMB_DIM * 4 / PQ["m"]),
            )
        )
    )


def q_emb_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norm sanity profile: one row (n_vectors, mean_norm,
    std_norm, min_norm, max_norm, n_outliers) with outliers = vectors
    whose norm sits >= 3 quantized-sigma from the quantized mean. The
    first gate on a new embedding batch — collapsed/exploded vectors
    show up here before any search metric does. Norms are the shared
    sequential fold; two scan passes (stats, then the broadcast-stats
    outlier count), no shuffle beyond two 1-row aggregates."""
    from symtseries_spark.operators.simsearch import norm
    from symtseries_spark.operators.timeseries import quantize

    emb = load(spark, sf_dir, "embeddings")
    nv = emb.select(
        norm(F.col("embedding").cast("array<double>")).alias("__nm")
    )
    stats = nv.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        quantize(F.avg("__nm"), 6).alias("mean_norm"),
        quantize(
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.avg(F.col("__nm") * F.col("__nm"))
                    - F.avg("__nm") * F.avg("__nm"),
                )
            ),
            6,
        ).alias("std_norm"),
        quantize(F.min("__nm"), 6).alias("min_norm"),
        quantize(F.max("__nm"), 6).alias("max_norm"),
    )
    out = (
        nv.crossJoin(F.broadcast(stats))
        .where(
            (F.col("std_norm") > 0)
            & (
                F.abs(F.col("__nm") - F.col("mean_norm"))
                >= 3.0 * F.col("std_norm")
            )
        )
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return stats.crossJoin(out)


def q_emb_fisher_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension Fisher ratio (between-class / within-class
    variance over the label column), top-10 dims -> (dim, fisher,
    between_var, within_var). The linear-separability complement of
    emb_knn_label_acc: which coordinates actually carry the labels
    (feature selection / probe design). One posexplode bounded by
    dim, two combinable groupBys, a 10-row result."""
    from symtseries_spark.operators.timeseries import quantize

    emb = load(spark, sf_dir, "embeddings")
    d = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "__x"
        ),
    )
    cls = d.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("__nc"),
        quantize(F.avg("__x"), 6).alias("__muc"),
        quantize(F.avg(F.col("__x") * F.col("__x")), 6).alias("__m2c"),
    )
    glob = d.groupBy("dim").agg(
        quantize(F.avg("__x"), 6).alias("__mu"),
        F.count(F.lit(1)).alias("__n"),
    )
    j = cls.join(glob, "dim")
    dm = F.col("__muc") - F.col("__mu")
    per_dim = j.groupBy("dim").agg(
        quantize(
            F.sum(F.col("__nc") * dm * dm) / F.first("__n"), 6
        ).alias("between_var"),
        quantize(
            F.sum(
                F.col("__nc")
                * (F.col("__m2c") - F.col("__muc") * F.col("__muc"))
            )
            / F.first("__n"),
            6,
        ).alias("within_var"),
    )
    fisher = F.when(
        F.col("within_var") > 0,
        quantize(F.col("between_var") / F.col("within_var"), 6),
    )
    return (
        per_dim.select("dim", fisher.alias("fisher"), "between_var",
                       "within_var")
        .orderBy(F.desc("fisher"), "dim")
        .limit(10)
    )


def q_emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette over the k-means partition
    (operators/cluster.py:kmeans_silhouette): the O(n*k)
    broadcast-centroid form — the k-knob diagnostic for the SemDeDup
    pipeline (clusters near 0 overlap their neighbor; near 1 are well
    separated)."""
    from symtseries_spark.operators.cluster import kmeans_silhouette

    return kmeans_silhouette(
        load(spark, sf_dir, "embeddings"), dim=EMB_DIM, **KMEANS
    )


def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023): k-means partition,
    then drop vectors with a lower-id within-cluster quantized-cosine
    twin >= 0.35 -> kept (vec_id, cluster). The quadratic pair search is
    bounded by cluster size — the k knob is the 100 TB lever
    (operators/cluster.py:semdedup_keep)."""
    from symtseries_spark.operators.cluster import semdedup_keep

    return semdedup_keep(
        load(spark, sf_dir, "embeddings"),
        dim=EMB_DIM, threshold=SEMDEDUP_THRESHOLD, **KMEANS,
    )


def q_sax_numerosity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerosity reduction of the sliding word stream (Lin/Keogh):
    one row per RUN of consecutive identical words per series
    (operators/windows.py:numerosity_reduce) — the preprocessing step
    word-based SAX algorithms assume; same single-shuffle shape as
    sliding_sax itself."""
    from symtseries_spark.operators.windows import numerosity_reduce

    return numerosity_reduce(
        _events_sliding(spark, sf_dir),
        key="user_id", order=["ts", "event_id"], id_col="event_id",
    )


def q_sax_discords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOT-SAX discord discovery (Keogh/Lin/Fu 2005) over the motif
    word space: the 10 rarest tumbling words flag candidate windows,
    exact same-series NN distance ranks them, top-5 reported
    (operators/search.py:discords). The anomaly-detection twin of
    sax_tumbling_motifs — rare words instead of frequent ones."""
    from symtseries_spark.operators.search import discords

    return discords(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value",
        **TUMBLE_MOTIF, **DISCORD,
    )


def q_docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed-unigram bucket
    models for the lang='en' target vs the raw corpus, per-doc
    sum ln(p_target/p_raw) (operators/pipeline.py:dsir_logweights).
    The 1024-bucket feature table is broadcast; the corpus is never
    shuffled on the token key."""
    from symtseries_spark.operators.pipeline import dsir_logweights

    return dsir_logweights(load(spark, sf_dir, "documents"), **DSIR)


def q_docs_dsir_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR scoring as a STREAM: the bucket model is fitted OFFLINE on
    the static corpus (operators/pipeline.py:dsir_bucket_table, 1024
    rows, broadcast per micro-batch), then the documents replay as a
    4-batch file stream and each arriving doc is scored by the
    stream-static join + running per-doc aggregate — the production
    fit-offline/score-online split. Complete-mode memory sink;
    quantization applied in the final select so the oracle is exactly
    the batch docs_dsir_weights SQL."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.functions.text import doc_hash60, tokens
    from symtseries_spark.operators.pipeline import dsir_bucket_table

    docs = load(spark, sf_dir, "documents")
    model = dsir_bucket_table(docs, **DSIR)

    tmp = tempfile.mkdtemp(prefix="dsir_stream_")
    indir = f"{tmp}/in"
    os.makedirs(indir)
    quarter = (F.abs(F.hash("doc_id")) % 4).alias("__bid")
    src = docs.select("doc_id", "text")
    src.withColumn("__bid", quarter).coalesce(1).write.partitionBy(
        "__bid"
    ).parquet(f"{tmp}/staged")
    for i, d in enumerate(sorted(globmod.glob(f"{tmp}/staged/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    tok = stream.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).select(
        "doc_id",
        (doc_hash60(F.col("term")) % DSIR["n_buckets"]).alias("bucket"),
    )
    scored = (
        tok.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__lr").alias("__sum_lr"),
        )
    )
    name = f"dsir_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            scored.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="dsir_chk_")
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("__sum_lr") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "dsir_logweight"
        ),
    )


def q_docs_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality quota (domain cap): keep the top-10 docs per
    source by (quality_score DESC, doc_id), via the lossless salted
    two-stage top-k (operators/pipeline.py:source_cap) so no single
    mega-domain serializes through one task at 100 TB."""
    from symtseries_spark.operators.pipeline import source_cap

    return source_cap(load(spark, sf_dir, "documents"), per_source=SOURCE_CAP)


def q_docs_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: chars-per-BPE-token (and
    whitespace-words-per-BPE-token) aggregated per lang — the
    diagnostic that tells you which languages a byte/BPE tokenizer
    taxes hardest (high chars/token = cheap; low = fragmenting).
    Pure scan-stage expressions + one lang-keyed combinable groupBy."""
    from symtseries_spark.functions.text import bpe_token_count, token_count

    docs = load(spark, sf_dir, "documents").select(
        "lang",
        F.length("text").cast("double").alias("__chars"),
        bpe_token_count(F.col("text")).cast("double").alias("__bpe"),
        token_count(F.col("text")).cast("double").alias("__words"),
    )
    q6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6
    return (
        docs.where(F.col("__bpe") > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            q6(F.sum("__chars") / F.sum("__bpe")).alias("chars_per_token"),
            q6(F.sum("__bpe") / F.sum("__words")).alias("tokens_per_word"),
        )
        .orderBy("lang")
    )


def q_docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per doc
    (operators/retrieval.py:char_entropy): the gibberish /
    compressibility gate beside the token-level quality signals. One
    scan, alphabet-bounded groupBy keys."""
    from symtseries_spark.operators.retrieval import char_entropy

    return char_entropy(load(spark, sf_dir, "documents"))


def q_docs_source_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level template detection: per source, the share of docs
    OPENING with the same 3-token prefix -> (source, n_docs,
    top_prefix, top_prefix_share). A high share means the source
    wraps every page in the same header — the cross-doc complement of
    docs_boilerplate's within-doc metric, and the trigger for
    source-targeted scrubbing. One scan-stage prefix expression + two
    combinable groupBys."""
    from symtseries_spark.functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 3))
    counts = (
        docs.select("source", prefix.alias("__p"))
        .groupBy("source", "__p")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    pick = counts.groupBy("source").agg(
        F.sum("__c").alias("n_docs"),
        F.min(
            F.struct(
                (-F.col("__c")).alias("__neg"), F.col("__p").alias("__pp")
            )
        ).alias("__b"),
    )
    return pick.select(
        "source",
        "n_docs",
        F.col("__b.__pp").alias("top_prefix"),
        F.round(
            (-F.col("__b.__neg")).cast("double") / F.col("n_docs"), 6
        ).alias("top_prefix_share"),
    ).orderBy("source")


def q_docs_quality_length_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between document length (chars) and the
    quality score -> (n_docs, r, mean_len, mean_quality). THE audit
    every heuristic quality gate needs: r near 1 means the "quality"
    signal is just length in disguise and the gate will silently
    strip short-form content. Quantized raw moments feed the
    closed-form r (clamped variances), identical arithmetic both
    engines — never an engine-internal corr() aggregate."""
    from symtseries_spark.operators.timeseries import quantize

    prof = q_text_quality(spark, sf_dir).select(
        F.col("n_chars").cast("double").alias("__x"),
        F.col("quality_score").alias("__y"),
    )
    agg = prof.agg(
        F.count(F.lit(1)).alias("n_docs"),
        quantize(F.avg("__x"), 6).alias("__mx"),
        quantize(F.avg("__y"), 6).alias("__my"),
        quantize(F.avg(F.col("__x") * F.col("__x")), 6).alias("__mxx"),
        quantize(F.avg(F.col("__y") * F.col("__y")), 6).alias("__myy"),
        quantize(F.avg(F.col("__x") * F.col("__y")), 6).alias("__mxy"),
    )
    vx = F.greatest(F.lit(0.0), F.col("__mxx") - F.col("__mx") * F.col("__mx"))
    vy = F.greatest(F.lit(0.0), F.col("__myy") - F.col("__my") * F.col("__my"))
    cov = F.col("__mxy") - F.col("__mx") * F.col("__my")
    r = F.when(
        (vx > 0) & (vy > 0),
        quantize(cov / (F.sqrt(vx) * F.sqrt(vy)), 6),
    )
    return agg.select(
        "n_docs",
        r.alias("r"),
        F.col("__mx").alias("mean_len"),
        F.col("__my").alias("mean_quality"),
    )


def q_docs_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination rate per source -> (source, n_docs,
    n_contaminated, rate). The triage view on top of
    docs_contamination's per-doc flags: a source with a high rate is
    scraping the benchmark's origin and needs a feed-level block, not
    per-doc filtering. One broadcast join of the flagged ids back to
    the scanned corpus slice."""
    from symtseries_spark.operators.timeseries import quantize

    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % DECONTAM["bench_mod"] != 0)
    flagged = q_docs_contamination(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("__c")
    )
    j = corpus.select("doc_id", "source").join(
        F.broadcast(flagged), "doc_id", "left"
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("__c"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            quantize(
                F.col("n_contaminated") / F.col("n_docs"), 6
            ).alias("rate"),
        )
        .orderBy("source")
    )


def q_docs_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram -> (df_bucket, n_shingles,
    n_postings) with explicit integer buckets (1, 2, 3-4, 5-8, ...,
    >256). THE tuning evidence for the dedup legs' max_shingle_freq
    cap: the postings column shows how much inverted-index fanout
    each df band contributes, i.e. exactly what the 256 cap cuts.
    One distinct-shingle explode + two bounded groupBys."""
    from symtseries_spark.functions.text import shingles

    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        F.explode(shingles(F.col("text"), JACCARD["k"])).alias("sh"),
        "doc_id",
    )
    df_tbl = sh.groupBy("sh").agg(F.countDistinct("doc_id").alias("__df"))
    d = F.col("__df")
    bucket = (
        F.when(d <= 2, F.lpad(d.cast("string"), 3, "0"))
        .when(d <= 4, F.lit("003-4"))
        .when(d <= 8, F.lit("005-8"))
        .when(d <= 16, F.lit("009-16"))
        .when(d <= 32, F.lit("017-32"))
        .when(d <= 64, F.lit("033-64"))
        .when(d <= 128, F.lit("065-128"))
        .when(d <= 256, F.lit("129-256"))
        .otherwise(F.lit(">256"))
    )
    return (
        df_tbl.groupBy(bucket.alias("df_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("__df").alias("n_postings"),
        )
        .orderBy("df_bucket")
    )


def q_docs_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per language: vocabulary size, hapax legomena
    (terms occurring exactly once), and the hapax ratio ->
    (lang, vocab, hapax, hapax_ratio). The companion statistic to
    docs_zipf_slope: natural corpora run ~40-60% hapax; a collapsing
    ratio means templated text, an inflating one means tokenizer
    noise. Same (lang, term) count shuffle as the Zipf fit."""
    from symtseries_spark.functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    freqs = (
        docs.select(
            F.col("lang"), F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    return (
        freqs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum(F.when(F.col("__f") == 1, 1).otherwise(0)).alias("hapax"),
        )
        .select(
            "lang",
            "vocab",
            "hapax",
            F.round(F.col("hapax") / F.col("vocab"), 6).alias("hapax_ratio"),
        )
        .orderBy("lang")
    )


def q_docs_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty decay across ingestion order: bucket the corpus into
    10 arrival deciles (doc_id order = train order, the docs_train_order
    convention) and report the fraction of each decile's docs whose
    normalized content appears for the FIRST time in that decile ->
    (decile, n_docs, n_novel, novel_frac). A healthy feed stays near
    1.0; a collapsing curve means the source re-sends old content and
    incremental dedup will carry the load. First-occurrence as a
    min() window over the hash partitioning (r12, guide §2.4 — the
    former min-by-hash groupBy + join-back shuffled the per-doc hash
    table twice for the same values), so one exchange carries the
    whole first-seen computation — the exact-dedup shuffle, no pair
    work."""
    from pyspark.sql import Window

    from symtseries_spark.functions.text import doc_hash60, normalized_text

    docs = load(spark, sf_dir, "documents")
    n_tbl = docs.agg(F.count(F.lit(1)).alias("__n"))
    h = docs.select(
        "doc_id", doc_hash60(normalized_text(F.col("text"))).alias("__h")
    )
    j = h.withColumn(
        "__first", F.min("doc_id").over(Window.partitionBy("__h"))
    ).crossJoin(F.broadcast(n_tbl))
    decile = F.least(
        F.floor(F.col("doc_id") * 10 / F.col("__n")).cast("int"), F.lit(9)
    )
    return (
        j.select(
            decile.alias("decile"),
            (F.col("doc_id") == F.col("__first")).cast("int").alias("__nov"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nov").alias("n_novel"),
            F.round(F.sum("__nov") / F.count(F.lit(1)), 6)
            .alias("novel_frac"),
        )
        .orderBy("decile")
    )


def q_docs_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus curation scorecard — the number a pipeline
    owner reads first: (n_docs, n_exact_dups, n_near_pairs,
    n_dup_docs, mean_quality, n_contaminated). Every column is an
    aggregate of an already-registered leg (exact dedup map, MinHash
    pairs, text-quality profile, benchmark contamination), cross-
    joined as 1-row relations — the composition costs one extra
    reduce per leg, nothing else. The near-dup pair set feeds TWO
    legs (pair count + distinct dup docs), so it is persisted (r12) —
    bounded by the near-pair count, and the banded join above it runs
    once instead of once per leg."""
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.operators.timeseries import quantize

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    exact = exact_dedup_map(docs).where(F.col("is_duplicate")).agg(
        F.count(F.lit(1)).alias("n_exact_dups")
    )
    pairs = persist_tracked(
        minhash_lsh_pairs(docs, **MINHASH).select("doc_a", "doc_b")
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_near_pairs"))
    dup_docs = (
        pairs.select(F.col("doc_a").alias("d"))
        .unionByName(pairs.select(F.col("doc_b").alias("d")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_dup_docs"))
    )
    qual = q_text_quality(spark, sf_dir).agg(
        quantize(F.avg("quality_score"), 6).alias("mean_quality")
    )
    cont = q_docs_contamination(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        n.crossJoin(exact)
        .crossJoin(n_pairs)
        .crossJoin(dup_docs)
        .crossJoin(qual)
        .crossJoin(cont)
    )


def q_docs_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law OLS fit (ln freq vs ln rank, top-100 terms) per lang
    slice (operators/retrieval.py:zipf_fit): the distribution-level
    corpus health check — natural text sits near slope -1, boilerplate
    drifts toward 0, collapsed vocab goes steep. docs_top_terms'
    shuffle + a |lang|*100-row OLS."""
    from symtseries_spark.operators.retrieval import zipf_fit

    return zipf_fit(load(spark, sf_dir, "documents"), top_v=ZIPF_TOP_V)


def q_docs_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence n-gram novelty in train order: fraction of each
    doc's shingles whose earliest corpus appearance is that doc
    (operators/decontam.py:novelty_scores) — the repetition diagnostic
    that complements whole-doc dedup. Same shuffle profile as
    docs_tfidf; no pair expansion, so no caps needed."""
    from symtseries_spark.operators.decontam import novelty_scores

    return novelty_scores(load(spark, sf_dir, "documents"), k=NOVELTY_K)


def q_sax_vsm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-VSM series similarity (Senin/Malinchik 2013): tumbling word
    bags, tf*ln(N/df) weights on the df-capped word space, top-20
    series pairs by tf-idf cosine (operators/search.py:vsm_series_pairs).
    The df cap bounds the word-keyed pair fanout — the max_shingle_freq
    rule applied to the SAX word space."""
    from symtseries_spark.operators.search import vsm_series_pairs

    return vsm_series_pairs(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value",
        **VSM,
    )


def q_emb_abtt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top whitened cosine top-k (Mu/Viswanath 2018):
    remove the corpus mean and the top principal direction (the
    emb_pca_power anisotropy probe's fix), then exact cosine — the
    query the PCA probe exists to enable
    (operators/cluster.py:abtt_topk)."""
    from symtseries_spark.operators.cluster import abtt_topk

    return abtt_topk(
        load(spark, sf_dir, "embeddings"),
        query_id=ANN["query_id"], k=ANN["k"], dim=EMB_DIM,
        iters=PCA_ITERS,
    )


def q_docs_corpus_filter3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus filter upgraded with THIS round's curation signals,
    composed: survive the per-source quality quota (docs_source_cap),
    carry >= 0.2 first-occurrence n-gram novelty (docs_novelty), and
    rank in the top half of the corpus by per-token DSIR target
    likeness (docs_dsir_weights) — an absolute DSIR threshold does not
    travel across corpus scales (the bucket models renormalize), so
    the gate is rank-based. The global rank is exact here
    (driver-gate scale); a 100 TB run would replace it with an
    approximate-quantile threshold (one pass, no global sort) — same
    kept semantics up to quantile error. Survivors with all three
    signals attached."""
    from symtseries_spark.operators.decontam import novelty_scores
    from symtseries_spark.operators.pipeline import dsir_logweights, source_cap

    docs = load(spark, sf_dir, "documents")
    cap = source_cap(docs, per_source=SOURCE_CAP)
    nov = novelty_scores(docs, k=NOVELTY_K).select("doc_id", "novelty_ratio")
    pt = dsir_logweights(docs, **DSIR).select(
        "doc_id",
        (
            F.floor(
                F.col("dsir_logweight") / F.col("n_tokens") * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("dsir_pt"),
    )
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.operators.rank import ranked_with_total

    # Distributed exact global rank (operators/rank.py) — the median
    # cut needs the true rank, but never a single-partition sort; the
    # total enters the plan as a literal from the rank's count pass.
    # The narrow per-doc score table is persisted (tracked — bench /
    # oracle harnesses unpersist after the query drains) across the
    # rank's count-pass actions and the final job so the DSIR
    # explode+join fit runs once. Rank-key precondition: dsir_pt is
    # floor-quantized from a COALESCE-free ratio over n_tokens >= 1
    # docs, non-null by construction.
    rk, n_total = ranked_with_total(
        persist_tracked(pt.select("doc_id", "dsir_pt")),
        "dsir_pt",
        tiebreak="doc_id",
        out="dsir_rank",
        descending=True,
    )
    return (
        cap.join(nov, "doc_id")
        .join(rk, "doc_id")
        .where(
            (F.col("novelty_ratio") >= CORPUS_FILTER3["min_novelty"])
            & (F.col("dsir_rank") <= F.lit(n_total // 2))
        )
        .select(
            "doc_id", "source", "src_rank", "novelty_ratio",
            "dsir_pt", "dsir_rank",
        )
    )


def q_emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-PC projection scores via covariance-free deterministic
    power iteration (operators/cluster.py:pca_power_scores): the
    anisotropy probe run before trusting cosine geometry. mu and v are
    1-row broadcasts; each step is one fused corpus scan; every
    iterate quantized 1e-6 for cross-engine parity."""
    from symtseries_spark.operators.cluster import pca_power_scores

    return pca_power_scores(
        load(spark, sf_dir, "embeddings"), dim=EMB_DIM, iters=PCA_ITERS
    )


def q_emb_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactness audit of the LSH near-dup path — the r01 brute-force
    baseline's role FOLDED into a recall query (the
    dedup_minhash_accuracy pattern), retiring bench.py's SKIP_TIMING
    carve-out: the O(n²) exact pair set (still max_rows-gated at 50k,
    fine at validation SF; operators/simsearch.py embedding_near_dup)
    is the truth, the LSH pairs the approximation, one output row
    (n_exact, n_lsh, n_hit, recall). Precision is 1 by construction
    (LSH verifies exact cosine), so n_hit == n_lsh is itself an
    audited invariant rather than an assumption."""
    from symtseries_spark.operators import embedding_near_dup_lsh

    vecs = load(spark, sf_dir, "embeddings")
    exact = embedding_near_dup(vecs, threshold=EMB_NEAR_DUP_LSH).select(
        "vec_a", "vec_b", F.lit(1).alias("__e")
    )
    lsh = embedding_near_dup_lsh(
        vecs,
        threshold=EMB_NEAR_DUP_LSH,
        num_planes=NEAR_DUP_PLANES,
        seed=13,
        dim=EMB_DIM,
    ).select("vec_a", "vec_b", F.lit(1).alias("__l"))
    j = exact.join(lsh, ["vec_a", "vec_b"], "full_outer")
    n_exact = F.coalesce(F.sum("__e"), F.lit(0)).cast("long")
    n_hit = F.coalesce(
        F.sum(F.when(F.col("__e").isNotNull() & F.col("__l").isNotNull(), 1)),
        F.lit(0),
    ).cast("long")
    return j.agg(
        n_exact.alias("n_exact"),
        F.coalesce(F.sum("__l"), F.lit(0)).cast("long").alias("n_lsh"),
        n_hit.alias("n_hit"),
        F.when(
            n_exact > 0,
            F.round(n_hit.cast("double") / n_exact, 6),
        )
        .otherwise(F.lit(1.0))
        .alias("recall"),
    )


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path: hyperplane-bucket equi-join candidates, exact
    cosine verify — deterministic, so fully oracle-checked."""
    from symtseries_spark.operators import embedding_near_dup_lsh

    return embedding_near_dup_lsh(
        load(spark, sf_dir, "embeddings"),
        threshold=EMB_NEAR_DUP_LSH,
        num_planes=NEAR_DUP_PLANES,
        seed=13,
        dim=EMB_DIM,
    )


def q_emb_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup endgame: LSH near-dup pairs -> connected
    components -> kept vector set (min-id member per cluster). The same
    pairs->clusters->materialize pipeline as the text dedup_keep, over
    the embedding modality — proving the clustering machinery composes
    across pair sources."""
    from symtseries_spark.operators import embedding_near_dup_lsh
    from symtseries_spark.operators.graph import connected_components

    vecs = load(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_lsh(
        vecs, threshold=EMB_NEAR_DUP_LSH, num_planes=NEAR_DUP_PLANES,
        seed=13, dim=EMB_DIM,
    ).select("vec_a", "vec_b")
    verts = vecs.select(F.col("vec_id").alias("v"))
    cc = connected_components(pairs, verts, src="vec_a", dst="vec_b")
    return (
        cc.where(F.col("v") == F.col("canonical_id"))
        .select(F.col("v").alias("vec_id"))
        .join(vecs.select("vec_id", "label"), "vec_id", "inner")
    )


SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
BUCKET_TOKENS = 16


def q_text_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from symtseries_spark.operators.pipeline import deterministic_split

    return deterministic_split(
        load(spark, sf_dir, "documents").select("doc_id"), SPLITS
    )


def q_text_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from symtseries_spark.operators.pipeline import length_buckets

    return length_buckets(
        load(spark, sf_dir, "documents"), bucket_tokens=BUCKET_TOKENS
    )


HIST_BINS = 16
FRAME = dict(frame_size=64, every_n=2)


def q_media_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(load(spark, sf_dir, "documents"))
    return byte_histogram(media, bins=HIST_BINS)


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(load(spark, sf_dir, "documents"))
    return frame_sample(media, **FRAME).select(
        "media_id", "frame_no", F.decode("frame", "UTF-8").alias("frame_text")
    )


RESIZE_FACTOR = 4


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize plumbing (Arrow-batched mapInPandas over binary
    payloads): deterministic byte-stride downsample standing in for
    PIL resize — same schema/batching/partitioning as the real thing,
    so the plan and the bytes are both oracle-checked."""
    from symtseries_spark.operators.multimodal import resize_media

    media = media_from_documents(load(spark, sf_dir, "documents"))
    return resize_media(media, factor=RESIZE_FACTOR).select(
        "media_id", "orig_len", "new_len",
        F.decode("thumb", "UTF-8").alias("thumb_text"),
    )


def q_media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(load(spark, sf_dir, "documents"))
    decoded = decode_media(media, allow_fake=True)
    return decoded.select(
        "media_id", "kind", F.posexplode("features").alias("fi", "feature")
    )


# Temporal-join surface. All three queries work in integer MICROseconds
# on both engines (Spark: `ts div 1000` on the raw nano longs; DuckDB:
# epoch_us(ts)) because the parquet timestamps carry sub-microsecond
# digits that DuckDB truncates — comparing in a common unit is the only
# way the engines can agree on boundary rows.
INTERVAL_SPAN_US = 24 * 3600 * 10**6  # clicks within 1 day after a purchase
SESSION_GAP_US = 45 * 60 * 10**6  # 45-minute inactivity closes a session


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed as-of join (union + running last_value, one shuffle):
    each click is paired with the user's latest purchase at-or-before it.
    The reference has no join surface at all; stock Spark SQL would plan
    the `p.ts <= c.ts` predicate as a BroadcastNestedLoop."""
    from symtseries_spark.operators import quantize

    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), "ts_us"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts_us").alias("p_ts_us"),
        F.col("value").alias("p_value"),
    )
    j = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts_us",
        right_ts="p_ts_us",
        right_cols=["purchase_event_id", "p_value"],
    )
    return j.select(
        "user_id",
        "click_event_id",
        "purchase_event_id",
        F.round("p_value", 6).alias("purchase_value"),
        quantize(
            (F.col("ts_us") - F.col("p_ts_us")) / F.lit(1e6), 3
        ).alias("gap_sec"),
    )


ASOF_TOL_US = 3 * 86400 * 10**6  # 3-day as-of match horizon


def q_events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match horizon: purchases older than 3 days are
    NULLed (same plan as the unbounded as-of — the tolerance is a
    post-window predicate, not a different join)."""
    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), "ts_us"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts_us").alias("p_ts_us"),
    )
    j = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts_us",
        right_ts="p_ts_us",
        right_cols=["purchase_event_id"],
        tolerance=ASOF_TOL_US,
    )
    return j.select(
        "user_id", "click_event_id", "purchase_event_id"
    )


def q_events_interval_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded interval join (time-bucketed equi-join, no nested loop):
    per purchase, count/sum the same user's clicks in the following day.
    Unmatched purchases are kept via a left join against the pair agg."""
    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event_id"),
        F.col("ts_us").alias("p_us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("c_us"), F.col("value").alias("c_value")
    )
    pairs = interval_join(
        purchases, clicks,
        on="user_id", left_ts="p_us", right_ts="c_us",
        lower=1, upper=INTERVAL_SPAN_US,
    )
    agg = pairs.groupBy("user_id", "purchase_event_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c_value").alias("s")
    )
    return (
        purchases.join(agg, ["user_id", "purchase_event_id"], "left")
        .select(
            "user_id",
            "purchase_event_id",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_clicks"),
            F.round(F.coalesce(F.col("s"), F.lit(0.0)), 6).alias("sum_click_value"),
        )
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag -> boundary flag -> running sum,
    single window partitioning) + per-session rollup."""
    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    s = sessionize(ev, key="user_id", ts="ts_us", gap=SESSION_GAP_US)
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round((F.max("ts_us") - F.min("ts_us")) / F.lit(1e6), 3).alias("dur_sec"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


from contextlib import contextmanager


@contextmanager
def _state_partitions(spark: SparkSession, n: int = 4):
    """Temporarily size ``spark.sql.shuffle.partitions`` for a stateful
    stream. The state-store partition count is frozen at the first
    micro-batch, and every micro-batch then pays per-partition state
    commit/maintenance — so it should track key cardinality (15 users
    here; a production job would size it to its key count), not the
    batch-analytics default. Measured at sf0.1: 32 -> 8 halves the two
    window-state streams (28.5s -> 15.1s sessions, 37.7s -> 17.6s event
    windows); 8 -> 4 shaves another ~15% (sessions 6.8 -> 5.9s,
    stream-stream join 6.6 -> 5.1s)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: per-user wide table of event-type counts + value
    sums. Explicit pivot values keep it one pass (no distinct-scan);
    the oracle is the equivalent conditional-aggregation CASE form."""
    ev = load(spark, sf_dir, "events")
    counts = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    sums = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 6).alias("total_value")
    )
    named = counts.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )
    return named.join(sums, "user_id")


def q_events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (the remaining Structured Streaming join
    class): an event stream enriched per micro-batch against the static
    customer dimension (broadcast each batch), then a running count/sum
    per market segment in complete mode. Unmatched users are kept with
    a NULL segment (left join) — enrichment must never drop events."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "value")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    tmp = tempfile.mkdtemp(prefix="enrich_stream_")
    indir = f"{tmp}/in"
    os.makedirs(indir)
    half = (F.abs(F.hash("event_id")) % 2).alias("__bid")
    ev.withColumn("__bid", half).coalesce(1).write.partitionBy("__bid").parquet(
        f"{tmp}/staged"
    )
    for i, d in enumerate(sorted(globmod.glob(f"{tmp}/staged/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    enriched = (
        stream.join(F.broadcast(cust), "user_id", "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state
    # store to the key cardinality, not the batch default
    with _state_partitions(spark):
        q = (
            enriched.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="enrich_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return (
        spark.table(name)
        .select(
            "c_mktsegment",
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


def q_events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (the third Structured Streaming join
    class): purchases and clicks arrive as two independent file streams
    (two micro-batch sequences over the same replay dir), joined per
    user within (purchase, purchase + 1 day]. Both sides carry
    watermarks so the join state is evictable; inner-join matches emit
    in append mode as they are found, so no sentinel flush is needed.
    Oracle = the batch interval-join SQL in integer microseconds."""
    from symtseries_spark.operators import quantize

    import glob as globmod
    import os
    import tempfile
    import uuid

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts_t", F.timestamp_micros(F.expr("ts div 1000")))
        .select("user_id", "event_id", "event_type", "ts_t", "value")
    )
    tmp = tempfile.mkdtemp(prefix="ssj_stream_")
    indir = f"{tmp}/in"
    os.makedirs(indir)
    # 15-day spans -> 2 replay files over the 30-day corpus: still a
    # genuine cross-batch stream-stream join (matches spanning the file
    # seam need retained state from batch 0), at half the micro-batch
    # overhead of 10-day spans. Match set is batching-invariant: inner
    # join with 10-day watermarks never evicts a joinable row here.
    span_sec = 15 * 86400
    bid = F.floor(F.unix_timestamp("ts_t") / span_sec).alias("__bid")
    ev.withColumn("__bid", bid).coalesce(1).write.partitionBy("__bid").parquet(
        f"{tmp}/staged"
    )
    for i, d in enumerate(
        sorted(globmod.glob(f"{tmp}/staged/__bid=*"),
               key=lambda p: int(p.rsplit("=", 1)[1]))
    ):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    def side(tp: str, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir)
            .where(F.col("event_type") == tp)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("ts_t").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "10 days")
        )

    purchases, clicks = side("purchase", "p"), side("click", "c")
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts > p_ts AND c_ts <= p_ts + INTERVAL 24 HOURS"
        ),
        "inner",
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ssj_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return (
        spark.table(name)
        .select(
            F.col("p_user").alias("user_id"),
            "p_event_id",
            "c_event_id",
            quantize(
                (F.unix_micros("c_ts") - F.unix_micros("p_ts")) / F.lit(1e6), 3
            ).alias("gap_sec"),
        )
    )


BM25 = dict(terms=["hash", "join", "spark"], topk=25)
TFIDF_TOPK = 3


def q_docs_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF via the
    inverted-index plan (explode -> two reused-partitioning aggregates
    -> broadcast scalar -> one window pass)."""
    from symtseries_spark.operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(
        load(spark, sf_dir, "documents"), topk=TFIDF_TOPK
    )


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: BM25 top-k for a bag-of-words query. Term
    frequencies are scan-stage array expressions, corpus stats reduce
    to one broadcast row, ranking is TakeOrderedAndProject — two pruned
    scans, zero Python, no inverted-index shuffle for a bounded query."""
    from symtseries_spark.operators.retrieval import bm25_topk

    return bm25_topk(load(spark, sf_dir, "documents"), **BM25)


def q_emb_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA profile: per-(label, dimension) mean/std over the
    vector corpus — the drift/collapse check a training pipeline runs
    before trusting an embedding table. posexplode + one map-side-
    combinable groupBy; output is labels x dims, independent of corpus
    size."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.round(F.avg("x"), 6).alias("mean_x"),
            F.round(F.stddev_pop("x"), 6).alias("std_x"),
        )
        .orderBy("label", "dim")
    )


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-family size distribution: how many connected components
    have 1, 2, 3, ... members -> (cluster_size, n_clusters,
    n_docs). The shape that tells you whether near-dup mass sits in a
    few mega-families (template farms — investigate) or many pairs
    (organic reposts — dedup and move on). One groupBy over the
    already-computed component labels."""
    from symtseries_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, **MINHASH).select("doc_a", "doc_b")
    verts = docs.select(F.col("doc_id").alias("v"))
    cc = connected_components(pairs, verts, src="doc_a", dst="doc_b")
    sizes = cc.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-graph centrality: MinHash-LSH near-dup pairs -> 5 rounds of
    degree-normalized PageRank (operators/graph.py:pagerank). Ranks
    each pair-incident doc by how central it is in its dup
    neighborhood — the canonical-pick / boilerplate-hub signal beside
    dedup_clusters' membership. Fixed-round iteration with per-round
    quantization makes even this iterative query oracle-exact (the
    DuckDB twin unrolls the same 5 rounds as chained CTEs)."""
    from symtseries_spark.operators.graph import pagerank

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, **MINHASH).select("doc_a", "doc_b")
    pr = pagerank(pairs, src="doc_a", dst="doc_b", **PAGERANK)
    return pr.select(
        F.col("v").alias("doc_id"), "degree", "pagerank"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup endgame: near-dup PAIRS (MinHash-LSH) -> connected
    components -> per-doc canonical id + cluster size. An ITERATIVE
    algorithm (min-label propagation to fixpoint, lineage-truncated per
    round) whose converged result is iteration-order independent — so
    even this is oracle-checked exactly, via a DuckDB recursive CTE."""
    from symtseries_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, **MINHASH).select("doc_a", "doc_b")
    verts = docs.select(F.col("doc_id").alias("v"))
    cc = connected_components(pairs, verts, src="doc_a", dst="doc_b")
    sizes = cc.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "canonical_id")
        .select(
            F.col("v").alias("doc_id"),
            "canonical_id",
            "cluster_size",
            (F.col("v") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def q_dedup_lsh_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup prune-then-refine: banded MinHash-LSH candidates (threshold
    0 — recall set) verified by EXACT Jaccard over the candidates only —
    refine cost follows candidate count, never |docs|^2. The exact twin
    of the SAX allpairs_refined contract, on text."""
    from symtseries_spark.operators import jaccard_refine

    docs = load(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(docs, **{**MINHASH, "threshold": 0.0}).select(
        "doc_a", "doc_b"
    )
    return jaccard_refine(
        cand, docs, k=JACCARD["k"], threshold=JACCARD["threshold"]
    )


def q_dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator quality, driver-visible (the dedup analogue of
    the emb_*_recall reports): for every banded candidate pair, the
    32-hash est_jaccard vs the EXACT shingle Jaccard, binned by exact
    decile -> (bucket, n_pairs, mean_err, mean_abs_err, max_abs_err).
    Shows the estimator's bias/spread exactly where the 0.35 dedup
    threshold cuts. Cost = candidate count (prune-then-refine), never
    |docs|^2. The candidate set feeds BOTH the exact refine and the
    est-vs-exact join, so it is persisted (r12) — bounded by the
    banded candidate count, and the band self-join runs once."""
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.operators import jaccard_refine
    from symtseries_spark.operators.timeseries import quantize

    docs = load(spark, sf_dir, "documents")
    cand = persist_tracked(
        minhash_lsh_pairs(docs, **{**MINHASH, "threshold": 0.0})
    )
    exact = jaccard_refine(
        cand.select("doc_a", "doc_b"), docs, k=MINHASH["k"], threshold=0.0
    )
    j = cand.join(
        exact.select("doc_a", "doc_b", "jaccard"), ["doc_a", "doc_b"]
    )
    err = F.col("est_jaccard") - F.col("jaccard")
    return (
        j.groupBy(
            F.floor(F.col("jaccard") * 10).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            quantize(F.avg(err), 6).alias("mean_err"),
            quantize(F.avg(F.abs(err)), 6).alias("mean_abs_err"),
            F.max(F.abs(err)).alias("max_abs_err"),
        )
        .orderBy("bucket")
    )


def q_dedup_simhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash calibration table: for each Hamming distance level in
    the banded candidate set, the exact-Jaccard stats of its pairs ->
    (hamming, n_pairs, mean_jaccard, min_jaccard). Answers "how many
    bit flips can I allow before false positives creep in" — the
    simhash analogue of dedup_minhash_accuracy, prune-then-refine
    priced by candidate count.

    Plan shape: the banded candidate set is PERSISTED (bounded by the
    candidate count, the quantity the whole design already caps) so
    the expensive simhash+band join runs once, not once per consumer;
    the exact-Jaccard refine builds its per-doc shingle table only for
    docs that appear in a candidate pair (semi-join pushdown — at
    corpus scale the candidate docs are a tiny fraction, so the second
    text scan tokenizes almost nothing instead of re-shingling the
    whole corpus)."""
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.operators import jaccard_refine
    from symtseries_spark.operators.timeseries import quantize

    docs = load(spark, sf_dir, "documents")
    pairs = persist_tracked(simhash_pairs(docs, **SIMHASH_PAIRS))
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cand_docs = docs.join(cand_ids, "doc_id", "left_semi")
    exact = jaccard_refine(
        pairs.select("doc_a", "doc_b"), cand_docs, k=JACCARD["k"],
        threshold=0.0,
    )
    j = pairs.join(
        exact.select("doc_a", "doc_b", "jaccard"), ["doc_a", "doc_b"]
    )
    return (
        j.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            quantize(F.avg("jaccard"), 6).alias("mean_jaccard"),
            F.min("jaccard").alias("min_jaccard"),
        )
        .orderBy("hamming")
    )


def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the MinHash dup graph
    (operators/graph.py:triangle_stats): global clustering coefficient
    as the threshold-health diagnostic — near-dup components should be
    cliques (coeff -> 1); a low coefficient means borderline matches
    are chaining dissimilar docs, exactly when connected-components
    over-merges."""
    from symtseries_spark.operators.graph import triangle_stats

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, **MINHASH).select("doc_a", "doc_b")
    return triangle_stats(pairs, src="doc_a", dst="doc_b")


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame's MATERIALIZATION: the surviving corpus after
    near-dup clustering (keep the min-id member of every cluster,
    singletons included) — the query a training-data pipeline actually
    ships downstream. Same components as dedup_clusters + one left-semi
    join back to the corpus."""
    from symtseries_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, **MINHASH).select("doc_a", "doc_b")
    verts = docs.select(F.col("doc_id").alias("v"))
    cc = connected_components(pairs, verts, src="doc_a", dst="doc_b")
    keep = cc.where(F.col("v") == F.col("canonical_id")).select(
        F.col("v").alias("doc_id")
    )
    return (
        docs.join(keep, "doc_id", "left_semi")
        .select("doc_id", "lang", "source")
    )


def q_docs_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus cleaning transform materialized: canonical
    whitespace/lowercase normalization plus before/after length stats —
    a pure scan-stage projection (the shape that matters at 100 TB:
    cleaning must never shuffle)."""
    from symtseries_spark.functions.text import normalized_text

    docs = load(spark, sf_dir, "documents")
    clean = normalized_text(F.col("text"))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length("text").alias("n_chars_raw"),
        F.length(clean).alias("n_chars_clean"),
    )


def q_dedup_exact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch streaming exact dedup as an oracle-gated query: two
    id-ordered replay files, first-seen-wins state keyed on the content
    hash (one long per distinct content, checkpoint-durable). With
    id-ordered arrival, first-seen == min doc_id, so the ORACLE is the
    batch exact-dedup SQL — streaming state must reproduce it exactly."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.streaming import streaming_exact_dedup

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="dedup_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    half = (F.col("doc_id") > mid).cast("int").alias("__bid")
    docs.withColumn("__bid", half).coalesce(1).write.partitionBy("__bid").parquet(
        staged
    )
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    # hash-sharded state (r13): identical output (shard maps keep exact
    # content-hash keys, same doc_id-sorted batch order), but the Python
    # state handler runs 64x/batch instead of once per distinct content
    # — the r13 stream profile measured per-key handler round-trips as
    # the addBatch floor (the minhash-stream shard rule applied here)
    deduped = streaming_exact_dedup(stream, shard_state=64)
    name = f"dedup_stream_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state store
    # to the key cardinality: dedup state is CONTENT-HASH-keyed
    # (thousands of keys, unlike the 15-user event streams), so it
    # wants real parallelism — A/B at sf0.1/10x: n=4 3.6s/21.8s,
    # n=16 2.7s/7.5s, n=32 2.8s/6.0s
    with _state_partitions(spark, n=16):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="dedup_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        "doc_id", "content_hash", "canonical_id", "is_duplicate"
    )


MINHASH_STREAM_FILES = 2  # id-ordered replay files (arrival order == id order);
# the handler is first-seen-wins over id-sorted rows WITHIN a batch too, so
# the dup set is replay-granularity-invariant (tests pin 2-batch == 4-batch)


def q_dedup_minhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup dedup through a REAL stream: documents
    arrive in id order across 2 micro-batches; per-band bucket state
    (one long per occupied bucket, checkpointed) tracks the claimant,
    and a doc is a near-duplicate iff ANY of its bands hit an earlier
    claimant — first-seen-wins across AND within batches. Signatures
    are computed per-row (scan-stage HOFs, no streaming aggregation),
    value-identical to the batch signature groupBy."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.streaming.minhash import streaming_minhash_dedup

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).first()[0]
    bid = F.floor(
        F.col("doc_id") * MINHASH_STREAM_FILES / (mx + 1)
    ).cast("long").alias("__bid")

    tmp = tempfile.mkdtemp(prefix="mh_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    docs.withColumn("__bid", bid).coalesce(1).write.partitionBy("__bid").parquet(staged)
    batch_dirs = sorted(
        globmod.glob(f"{staged}/__bid=*"),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    t0 = 1_000_000_000
    for i, d in enumerate(batch_dirs):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    per_band = streaming_minhash_dedup(
        stream,
        k=MINHASH["k"],
        num_hashes=MINHASH["num_hashes"],
        bands=MINHASH["bands"],
        seed=MINHASH["seed"],
        # hash-sharded state: identical output (A/B'd vs per-bucket at
        # sf0.1, 40k rows frozenset-equal); 64 shards = fewer Arrow
        # handler round-trips per batch than 256 while still spreading
        # state across executors
        shard_state=64,
    )
    name = f"mh_stream_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state
    # store to the key cardinality, not the batch default
    # hash-shard-keyed state (64 shards): same sizing rule as
    # dedup_exact_stream — give the shards real parallelism
    with _state_partitions(spark, n=16):
        q = (
            per_band.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="mh_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return (
        spark.table(name)
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
        .select("doc_id", "dup_of", F.col("dup_of").isNotNull().alias("is_duplicate"))
    )


HIST_BUCKETS = 20


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSDB gap filling: daily per-user averages densified over the
    global day range with last-observation-carried-forward (the
    time_bucket_gapfill + locf shape). Dense axis generated per key
    (explode(sequence)), fill is one running window on the same key
    partitioning."""
    from symtseries_spark.operators.joins import gapfill_locf

    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.expr("(ts div 1000) div 86400000000")
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.round(F.avg("value"), 6).alias("avg_value")
    )
    lo, hi = daily.agg(F.min("day"), F.max("day")).first()
    return gapfill_locf(
        daily, key="user_id", bucket="day", value="avg_value", lo=lo, hi=hi
    )


def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: time-bucketed rollup at
    two granularities in one pass (ROLLUP over day -> hour), the
    materialized-view shape a TSDB keeps per hypertable. Buckets are
    integer day/hour indexes from the raw nano timestamps, so both
    engines bucket identically."""
    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    day = F.expr("ts_us div 86400000000").alias("day")
    hour = F.expr("ts_us div 3600000000").alias("hour")
    return (
        ev.select(day, hour, "value")
        .rollup("day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("day", "hour")
    )


def q_events_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile statistics via ntile (SQL-standard distribution: the first
    n mod k buckets take the extra row) — rank-based profiling over the
    same single window shuffle as the other ranking ops."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("value", "event_id")
    d = load(spark, sf_dir, "events").withColumn("decile", F.ntile(10).over(w))
    return (
        d.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .orderBy("decile")
    )


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type: bucket edges from the
    global min/max (two-pass, both aggregations map-side combinable).
    The per-type bucket counts are what a monitoring/profiling layer
    reads; no sort anywhere."""
    ev = load(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    width = (hi - lo) / HIST_BUCKETS
    bucket = F.least(
        F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("long"),
        F.lit(HIST_BUCKETS - 1),
    )
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


def q_events_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram quantile sketch + accuracy report
    (operators/sketches.py:histogram_quantiles): p50/p90/p99 estimated
    from a 256-bucket mergeable histogram beside the exact
    interpolated percentile — the sketch-vs-exact entry of the
    sketch family (HLL/KMV/CMS/Bloom), same contract as the recall
    probes: the scalable plan IS the query, the exact leg is the
    reference."""
    from symtseries_spark.operators.sketches import histogram_quantiles

    return histogram_quantiles(
        load(spark, sf_dir, "events"), value="value", bins=HIST_BINS
    )


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per event type (p50/p90/p99):
    Spark's percentile == DuckDB's quantile_cont (linear interpolation
    on the sorted set). The exact form is the oracle-able twin of the
    approx_percentile sketch a 100 TB profile would use."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape (volume shipping): a 6-table join with a
    cross-pair disjunction over two nation dimensions. Both nation
    joins broadcast; the pair condition is a post-join filter Catalyst
    keeps above the broadcasts; revenue aggregated per (supp_nation,
    cust_nation, year)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (
                        F.lit(1).cast("decimal(6,4)")
                        - F.col("l_discount").cast("decimal(6,4)")
                    )
                ).cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 (customer order-count distribution): LEFT OUTER join
    with a join-side predicate (not a WHERE — zero-order customers must
    survive), per-customer count including zeros, then a second
    aggregation into the histogram."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 (large-volume orders): HAVING-filtered aggregate as the
    driving relation — the big-order set is tiny after the filter, so
    AQE broadcasts it against orders; quantities are integral doubles
    (exact sums on both engines)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.desc("total_price"), "o_orderkey")
    )


SESSION_STREAM_SPAN_DAYS = 5  # replay-file span == watermark horizon


def q_events_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization through a REAL stream (native session_window,
    append mode): events replay as one file per 5-day span with a
    deterministic 25% of rows delayed by one whole file; the 5-day
    watermark admits them, so late rows must land in (and extend) their
    correct sessions. Two far-future sentinels flush every real session;
    their own sessions never finalize, so they self-exclude. Must
    hash-match the batch gap-session oracle (same > gap split rule:
    session_window merges touching windows, tie-tested in
    tests/test_joins.py)."""
    import glob as globmod
    import os
    import tempfile
    import uuid
    from datetime import timedelta

    from symtseries_spark.streaming.sessions import session_rollup_stream

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts_t", F.timestamp_micros(F.expr("ts div 1000")))
        .select("user_id", "event_id", "ts_t", "value")
    )
    span_sec = SESSION_STREAM_SPAN_DAYS * 86400
    late = (F.abs(F.hash("event_id")) % 4 == 0).cast("long")
    bid = (F.floor(F.unix_timestamp("ts_t") / span_sec) + late).alias("__bid")

    tmp = tempfile.mkdtemp(prefix="sess_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    ev.withColumn("__bid", bid).coalesce(1).write.partitionBy("__bid").parquet(staged)
    batch_dirs = sorted(
        globmod.glob(f"{staged}/__bid=*"),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    t0 = 1_000_000_000
    for i, d in enumerate(batch_dirs):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (t0 + i, t0 + i))

    sentinel_days = SESSION_STREAM_SPAN_DAYS + 3
    mx = ev.agg(F.max("ts_t")).first()[0]
    for j in range(2):
        dst = f"{indir}/b{len(batch_dirs) + j:04d}.parquet"
        _write_sentinel_parquet(dst, mx + timedelta(days=sentinel_days + j))
        os.utime(dst, (t0 + len(batch_dirs) + j, t0 + len(batch_dirs) + j))

    stream = (
        spark.readStream.schema(ev.schema)
        # 4 files/trigger: the ~8 data files replay as 2 data batches +
        # a sentinel batch, so late rows (delayed one file) still cross
        # a genuine mid-data batch seam — 8/trigger would swallow all
        # data in ONE batch and gut the late-admission scenario, while
        # the original 2/trigger paid 2.5x the planning + state-commit
        # rounds for no extra semantics (the emitted session set is
        # batching-invariant either way; r3 verdict item #5)
        .option("maxFilesPerTrigger", "4")
        .parquet(indir)
    )
    sessions = session_rollup_stream(
        stream,
        key="user_id",
        ts="ts_t",
        value="value",
        gap="45 minutes",
        watermark=f"{SESSION_STREAM_SPAN_DAYS} days",
    )
    name = f"sess_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="sess_chk_"))
            # AvailableNow: drain every staged file (honoring
            # maxFilesPerTrigger) plus the trailing state-flush batches,
            # then self-terminate — replaces the processAllAvailable
            # poll + explicit stop with engine-managed shutdown
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .where(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
    )


SAMPLE_FRACTION = 0.2
SHARD_TOKENS = 2000


def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size deterministic stratified sample (eval-set carving):
    floor(20% of each language) chosen by salted hash rank — unlike
    df.sample, reproducible across engines/cluster sizes with exact
    per-stratum counts."""
    from symtseries_spark.operators.pipeline import stratified_sample

    return (
        stratified_sample(
            load(spark, sf_dir, "documents"),
            stratum="lang",
            fraction=SAMPLE_FRACTION,
        )
        .select("doc_id", "lang")
    )


def q_docs_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard planning (sequence-packing prelude): lay docs
    out in id order per language and cut shards every ~2000 BPE tokens
    by token offset; per-shard rollup of the id span a packing job
    would read."""
    from symtseries_spark.operators.pipeline import pack_shards

    return pack_shards(
        load(spark, sf_dir, "documents"),
        shard_tokens=SHARD_TOKENS,
        group="lang",
    )


KMV_K = 32


def q_docs_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per language — a deterministic stand-in
    for HLL whose estimate a second engine can reproduce bit-for-bit
    (HLL registers are implementation-defined; k-minimum md5 values are
    not). Groups smaller than k take the exact-count fallback, so both
    code paths are oracle-covered across scale factors."""
    from symtseries_spark.operators.pipeline import kmv_distinct

    return kmv_distinct(
        load(spark, sf_dir, "documents"), key="lang", col="text", k=KMV_K
    ).orderBy("lang")


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape (adapted to this testdata's part columns): an
    OR-of-ANDs predicate spanning both join sides. Catalyst extracts the
    common `p_partkey = l_partkey` conjunct so the join stays a
    broadcast hash join with the disjunction as a post-join filter."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
    disj = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_type").like("PROMO%")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_type").like("ECONOMY%")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(disj).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (
                    F.lit(1).cast("decimal(6,4)")
                    - F.col("l_discount").cast("decimal(6,4)")
                )
            ).cast("double"),
            2,
        ).alias("revenue")
    )


def _rev_decimal() -> Column:
    """Decimal-exact extended revenue: identical digit-for-digit on Spark
    and DuckDB (both use exact decimal multiply/sum), so hashes match."""
    return F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)")
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape (order-priority checking, adapted: this testdata has
    no commit/receipt dates, so the EXISTS predicate is 'has a returned
    lineitem'). Catalyst plans the EXISTS as a LEFT SEMI join — lineitem
    is pre-filtered and only l_orderkey survives the scan."""
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    returned = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 (national market share): ECONOMY-part revenue in the ASIA
    customer region, per order year, with the share attributed to
    NATION_7 suppliers. Two independent nation dims (supplier-side and
    customer-side) both broadcast; region restriction prunes via the
    broadcast nation->region join before the fact shuffle."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    cn = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    rev = _rev_decimal()
    target = F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(target).cast("double") / F.sum(rev).cast("double"), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape (product-type profit, adapted: no partsupp table, so
    profit is discounted revenue rather than revenue minus supply cost).
    Per supplier-nation per ship year over widget parts; part dim
    broadcast, nation broadcast, one fact shuffle for the groupBy."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(_rev_decimal()).cast("double"), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 (top supplier): per-supplier revenue over one quarter,
    then the supplier(s) hitting the global max. The max runs over the
    already-aggregated |suppliers|-row relation (an unpartitioned window
    on a reduced input — a single-partition reduce of tiny data, not a
    full-data serialization). Revenue is decimal-exact so the equality
    against max is well-defined on both engines."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = load(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev_decimal()).alias("total_rev"))
    )
    w = Window.partitionBy()
    top = rev.withColumn("mx", F.max("total_rev").over(w)).where(
        F.col("total_rev") == F.col("mx")
    )
    return (
        top.join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape (suppliers who kept orders waiting, adapted: the
    'late' signal is l_returnflag = 'R' instead of receipt-past-commit).
    A supplier qualifies per order when the order spans >= 2 distinct
    suppliers and they are the ONLY supplier with a returned line —
    the standard EXISTS / NOT EXISTS pair collapsed into one per-order
    aggregate (one fact shuffle instead of two self-joins)."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    r_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(r_supp).alias("n_r_supp"),
        F.max(r_supp).alias("r_suppkey"),
    )
    qual = per_order.where((F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
    return (
        qual.join(F.broadcast(supp), F.col("r_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape (adapted: no partsupp, so the correlated MIN over
    supply cost becomes a correlated MAX over the per-(part, supplier)
    shipped quantity derived from lineitem). Written as SQL so Catalyst
    decorrelates a subquery OVER A DERIVED AGGREGATE — one step beyond
    q17's raw-table correlation. Quantities are integral doubles: exact
    sums, exact equality."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__q2_li")
    load(spark, sf_dir, "part").createOrReplaceTempView("__q2_part")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("__q2_supp")
    return spark.sql("""
      WITH ps AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS total_qty
        FROM __q2_li GROUP BY l_partkey, l_suppkey
      )
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, ps.total_qty
      FROM ps
      JOIN __q2_part p ON p.p_partkey = ps.l_partkey
      JOIN __q2_supp s ON s.s_suppkey = ps.l_suppkey
      WHERE p.p_size <= 15 AND p.p_type = 'ECONOMY'
        AND ps.total_qty = (
          SELECT max(ps2.total_qty) FROM ps ps2
          WHERE ps2.l_partkey = ps.l_partkey
        )
      ORDER BY p.p_partkey, s.s_suppkey
      LIMIT 50
    """)


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape (important stock, adapted: partsupp value becomes
    lineitem revenue for region-1 suppliers). The defining feature — a
    HAVING filter against a GLOBAL scalar subquery over the same
    aggregate — survives: Catalyst evaluates the scalar once and
    broadcasts it into the group filter. Decimal-exact sums."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__q11_li")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("__q11_supp")
    load(spark, sf_dir, "nation").createOrReplaceTempView("__q11_nat")
    return spark.sql("""
      WITH nval AS (
        SELECT l.l_partkey,
               sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4))))
                 AS value
        FROM __q11_li l
        JOIN __q11_supp s ON s.s_suppkey = l.l_suppkey
        JOIN __q11_nat n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_regionkey = 1
        GROUP BY l.l_partkey
      )
      SELECT l_partkey, round(CAST(value AS DOUBLE), 2) AS part_value
      FROM nval
      WHERE value > (SELECT sum(value) * 0.001 FROM nval)
      ORDER BY part_value DESC, l_partkey
    """)


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape (suppliers with excess stock, adapted: 'availqty
    above half of shipped quantity' becomes 'supplier ships more than
    half of a widget part's total') — a correlated aggregate threshold
    inside EXISTS, planned as a decorrelated join. Quantities integral."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__q20_li")
    load(spark, sf_dir, "part").createOrReplaceTempView("__q20_part")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("__q20_supp")
    return spark.sql("""
      SELECT s.s_suppkey, s.s_name
      FROM __q20_supp s
      WHERE EXISTS (
        SELECT 1
        FROM __q20_li l JOIN __q20_part p ON p.p_partkey = l.l_partkey
        WHERE l.l_suppkey = s.s_suppkey AND p.p_name LIKE '%widget%'
        GROUP BY l.l_partkey
        HAVING sum(l.l_quantity) > 0.2 * (
          SELECT sum(l2.l_quantity) FROM __q20_li l2
          WHERE l2.l_partkey = l.l_partkey
        )
      )
      ORDER BY s.s_suppkey
    """)


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape (parts/supplier relationship, adapted: supplier
    counts come from lineitem since this testdata has no partsupp).
    count(DISTINCT) per part attributes — Spark plans the distinct as a
    two-phase expand over one shuffle; part dim broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").like("MEDIUM%"))
        & F.col("p_size").isin(1, 4, 7, 10, 15, 22, 25)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


ROLLING_RANGE_US = 3_600_000_000  # trailing 1 hour, inclusive bound


def q_events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range rolling window: per event, the count and value-sum of
    the user's events in the trailing hour (RANGE frame on the
    microsecond axis — bounded by time, not row count, so skewed-rate
    series cost memory proportional to their rate cap, and the plan is
    still one shuffle + one WindowExec)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-ROLLING_RANGE_US, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 3).alias("sum_1h"),
    )


ANOM_WINDOW = 32     # trailing rows per z-score frame
ANOM_THRESHOLD = 3.0  # |z| >= threshold -> anomaly (on the rounded z)
EWMA_P = dict(alpha=0.25, window=16)  # 0.25/0.75 are binary-exact literals
TOP_TERMS_K = 30
TOP_TERMS_MIN_LEN = 3


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per user series: one shuffle on
    user_id, one WindowExec pass with a bounded 32-row frame, filter on
    the ROUNDED z so the anomaly row-set is engine-reproducible."""
    from symtseries_spark.operators import rolling_zscore

    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    z = rolling_zscore(
        ev, key="user_id", order=["ts_us", "event_id"], value="value",
        window=ANOM_WINDOW,
    )
    return z.where(F.abs(F.col("zscore")) >= ANOM_THRESHOLD).select(
        "user_id", "event_id", "n_window", "zscore"
    )


def q_events_hw_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded recursive Holt-Winters through a REAL stream:
    2 + season doubles of keyed state per series, O(1) per event — the
    oracle replays the recursion as an O(prefix) list fold per row
    (streaming/timeseries.py:holt_winters_stream)."""
    import tempfile
    import uuid

    from symtseries_spark.operators import quantize
    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming.timeseries import holt_winters_stream

    stream = load_events_stream(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    hs = holt_winters_stream(
        stream, key="user_id", order=["ts_us", "event_id"], value="value",
        alpha=HW_P["alpha"], beta=HW_P["beta"], gamma=HW_P["gamma"],
        season=HW_P["season"],
    )
    name = f"hw_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            hs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="hw_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        "user_id",
        "event_id",
        quantize(F.col("level"), 6).alias("level"),
        quantize(F.col("trend"), 6).alias("trend"),
        quantize(F.col("season_adj"), 6).alias("season_adj"),
        quantize(F.col("forecast"), 6).alias("forecast"),
    )


def q_events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin one-step forecast backtest — the model-selection
    capstone over the exponential family: each method's quantized
    one-step forecast (EWMA = its smoothed value; Holt = level+trend;
    Holt-Winters = level+trend+next-season) scored against the next
    actual value of its series, MAE per method -> 3 rows
    (method, n_evals, mae). All three method folds plus the
    next-actual lead run as stacked window expressions over ONE
    (user_id, ts_us, event_id) shuffle+sort
    (operators/timeseries.py:forecast_backtest — shared fold builders
    give expression trees identical to the standalone operators), then
    one aggregate; the oracle embeds each method's own SQL twin as a
    CTE, so this row is green only if the family AND the composition
    are."""
    from symtseries_spark.operators.timeseries import forecast_backtest

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    return forecast_backtest(
        ev,
        key="user_id",
        order=["ts_us", "event_id"],
        value="value",
        ewma_p=EWMA_P,
        holt_p=HOLT_P,
        hw_p=HW_P,
    )


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window EWMA per user series: collect_list over a bounded
    frame + a JVM higher-order fold — bit-identical on any engine that
    folds left with the same multiply-add lambda."""
    from symtseries_spark.operators import ewma

    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    e = ewma(
        ev, key="user_id", order=["ts_us", "event_id"], value="value", **EWMA_P
    )
    return e.select("user_id", "event_id", "ewma")


def q_events_ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive (unbounded) EWMA through a REAL stream: one double of
    keyed state per series, O(1) work per event — the op a batch engine
    can only express as an O(series) prefix fold per row (the oracle
    does exactly that, so stream state ≡ batch recursion is the check).
    One micro-batch replay: arrival order == sort order."""
    import tempfile
    import uuid

    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming import ewma_stream

    stream = load_events_stream(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    ew = ewma_stream(
        stream, key="user_id", order=["ts_us", "event_id"], value="value",
        alpha=EWMA_P["alpha"],
    )
    name = f"ewma_stream_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state
    # store to the key cardinality, not the batch default
    with _state_partitions(spark):
        q = (
            ew.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ewma_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    from symtseries_spark.operators import quantize

    return spark.table(name).select(
        "user_id", "event_id", quantize(F.col("ewma"), 6).alias("ewma")
    )


def q_events_twap_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running TWAP through a REAL stream
    (streaming/timeseries.py:twap_stream): four doubles of keyed state
    per series, O(1)/event — each arriving event closes its
    predecessor's interval and emits the time-weighted mean over all
    closed intervals. The oracle replays the identical prefix with
    lag + running window sums. One micro-batch replay: arrival order
    == sort order."""
    import tempfile
    import uuid

    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming import twap_stream

    stream = load_events_stream(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    tw = twap_stream(
        stream, key="user_id", order=["ts_us", "event_id"],
        ts="ts_us", value="value",
    )
    name = f"twap_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            tw.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="twap_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    from symtseries_spark.operators import quantize

    return spark.table(name).select(
        "user_id", "event_id", "n_intervals",
        quantize(F.col("twap"), 6).alias("twap"),
    )


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search: codes table + broadcast LUT —
    the compressed-domain ANN leg (see operators/pq.py docstring for the
    100 TB scan-size argument). Deterministic codebooks/assignments, so
    the oracle replays the identical ADC scores."""
    from symtseries_spark.operators.pq import pq_topk

    return pq_topk(load(spark, sf_dir, "embeddings"), **PQ)


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all 4 grouping sets over type x day) with
    grouping_id — one Expand + one hash aggregate, the standard
    multi-rollup shape; NULL group keys are disambiguated from real
    NULLs by the grouping id on both engines."""
    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.expr("(ts div 1000) div 86400000000")
    )
    return (
        ev.cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("gid"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select("event_type", "day", "gid", "n", "sum_value")
    )


def q_events_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel: per-user stage-chain state (one timestamp per
    stage — bounded by the funnel, not history) over a 2-file time-span
    replay, emitting one append-safe row per stage transition. Arrival
    in time order makes the sequential greedy equal the batch min-chain
    exactly, so the ORACLE is the batch funnel's chain timestamps."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.streaming import funnel_stream

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts_us", F.expr("ts div 1000"))
        .select("user_id", "event_id", "ts_us", "event_type")
    )
    mid = ev.agg(F.expr("percentile(ts_us, 0.5)")).first()[0]
    half = (F.col("ts_us") > mid).cast("int").alias("__bid")
    tmp = tempfile.mkdtemp(prefix="funnel_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    ev.withColumn("__bid", half).coalesce(1).write.partitionBy("__bid").parquet(
        staged
    )
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    trans = funnel_stream(
        stream, key="user_id", ts="ts_us", type_col="event_type",
        stages=list(FUNNEL_STAGES), order=["ts_us", "event_id"],
    )
    name = f"funnel_stream_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state
    # store to the key cardinality, not the batch default
    with _state_partitions(spark):
        q = (
            trans.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="fun_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select("user_id", "stage_idx", "stage", "ts_us")


CORPUS_FILTER = dict(min_quality=0.6, max_top_share=0.2)


def q_docs_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone corpus filter a training pipeline actually ships:
    quality score, language agreement, and repetition gates composed in
    one pass — the quality/lang profile is a scan-stage struct (one
    tokenization per row), the repetition profile joins back on doc_id,
    and the verdict is a plain conjunction. Survivors only."""
    from symtseries_spark.operators.retrieval import repetition_metrics

    docs = load(spark, sf_dir, "documents")
    prof = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array(text_profile(F.col("text")))).alias("__p"),
    ).select(
        "doc_id",
        "lang",
        F.col("__p.quality.quality_score").alias("quality_score"),
        F.col("__p.lang_pred").alias("lang_pred"),
    )
    rep = repetition_metrics(docs).select("doc_id", "top_share")
    return (
        prof.join(rep, "doc_id")
        .where(
            (F.col("quality_score") >= CORPUS_FILTER["min_quality"])
            & (F.col("lang_pred") == F.col("lang"))
            & (F.col("top_share") <= CORPUS_FILTER["max_top_share"])
        )
        .select("doc_id", "lang", "quality_score", "top_share")
    )


# v2 gates: the round's new signals composed on top of v1's. Threshold
# choices sit inside the observed sf0.01 distributions (bigram lp in
# [-3.61, -3.26], boiler p90 0.064) so every gate actually cuts.
CORPUS_FILTER2 = dict(
    min_quality=0.6, max_top_share=0.2, max_boiler=0.1, min_bigram_lp=-3.45,
    winnow_overlap=0.5,
)


def q_docs_corpus_filter2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus filter upgraded with this round's signals: v1's
    quality/lang/repetition gates PLUS boilerplate share, bigram-LM
    score, and substring-level (winnowing) dup removal — the loser of
    every qualifying winnow pair (larger doc_id) is dropped. Each
    signal is a linear scan or a bounded inverted-index join; the
    verdict is one conjunction + one left-anti join. Survivors only."""
    from symtseries_spark.operators import winnow_pairs
    from symtseries_spark.operators.retrieval import (
        bigram_logprob,
        boilerplate_metrics,
        repetition_metrics,
    )

    p = CORPUS_FILTER2
    docs = load(spark, sf_dir, "documents")
    prof = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array(text_profile(F.col("text")))).alias("__p"),
    ).select(
        "doc_id",
        "lang",
        F.col("__p.quality.quality_score").alias("quality_score"),
        F.col("__p.lang_pred").alias("lang_pred"),
    )
    rep = repetition_metrics(docs).select("doc_id", "top_share")
    boiler = boilerplate_metrics(docs, **BOILER).select("doc_id", "boiler_ratio")
    lm = bigram_logprob(docs).select("doc_id", "avg_logprob")
    losers = (
        winnow_pairs(docs, **WINNOW, **WINNOW_PAIRS)
        .where(F.col("overlap") >= p["winnow_overlap"])
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        prof.join(rep, "doc_id")
        .join(boiler, "doc_id")
        .join(lm, "doc_id")
        .join(losers, "doc_id", "left_anti")
        .where(
            (F.col("quality_score") >= p["min_quality"])
            & (F.col("lang_pred") == F.col("lang"))
            & (F.col("top_share") <= p["max_top_share"])
            & (F.col("boiler_ratio") <= p["max_boiler"])
            & (F.col("avg_logprob") >= p["min_bigram_lp"])
        )
        .select(
            "doc_id", "lang", "quality_score", "top_share", "boiler_ratio",
            "avg_logprob",
        )
    )


def q_events_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition (operators/timeseries.py:stl_decompose):
    centered-moving-average trend, hour-of-day cycle-subseries
    seasonal, residual. The hour bucket comes from pure epoch
    arithmetic (the events_dow_hour rule) so no engine calendar
    conventions leak into the seasonal key."""
    from symtseries_spark.operators.timeseries import stl_decompose

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts_us", F.expr("ts div 1000"))
        .withColumn("hh", F.expr("((ts div 1000) div 3600000000) % 24"))
    )
    return stl_decompose(
        ev, key="user_id", order=["ts_us", "event_id"], value="value",
        season="hh", **STL,
    ).select("user_id", "event_id", "trend", "seasonal", "resid")


def q_events_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman-Wang STL features per series: trend strength
    F_T = max(0, 1 - Var(R)/Var(T+R)) and seasonal strength
    F_S = max(0, 1 - Var(R)/Var(S+R)) over the events_stl
    decomposition — the one-row-per-series summary that makes the STL
    output actionable (which series are trend-driven vs cycle-driven
    vs noise). Variances via quantized avg/avg-of-squares on the
    already-quantized components, so the ratios are engine-exact; the
    aggregate rides the decomposition's series partitioning
    (operators/timeseries.py:stl_strength)."""
    from symtseries_spark.operators.timeseries import stl_decompose, stl_strength

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts_us", F.expr("ts div 1000"))
        .withColumn("hh", F.expr("((ts div 1000) div 3600000000) % 24"))
    )
    stl = stl_decompose(
        ev, key="user_id", order=["ts_us", "event_id"], value="value",
        season="hh", **STL,
    )
    return stl_strength(stl, key="user_id")


def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series autocorrelation at lags 1..5
    (operators/timeseries.py:autocorrelation): one shuffle on the
    series key, combinable numerator/denominator aggregates, UNION-
    free unpivot via explode. The window-sizing / threshold-trust
    diagnostic for the SAX surface."""
    from symtseries_spark.operators.timeseries import autocorrelation

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    return autocorrelation(
        ev, key="user_id", order=["ts_us", "event_id"], value="value",
        max_lag=ACF_MAX_LAG,
    )


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per series (the TimescaleDB
    time_weight / financial TWAP op): each observation weighted by its
    holding time to the next event, so sparse bursts don't dominate
    the mean the way row-weighted avg() lets them. Last observation
    carries no weight (no successor). One lag-window pass + one
    combinable aggregate on the series key; integer microsecond
    durations, quantized ratio."""
    from pyspark.sql import Window

    from symtseries_spark.operators.timeseries import quantize

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    dt = (F.lead("ts_us").over(w) - F.col("ts_us")).cast("double")
    base = ev.select(
        "user_id",
        F.col("value").cast("double").alias("__v"),
        dt.alias("__dt"),
    ).where(F.col("__dt").isNotNull())
    agg = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("__v") * F.col("__dt")).alias("__wsum"),
        F.sum("__dt").alias("__tsum"),
    )
    return agg.select(
        "user_id",
        "n_intervals",
        F.when(
            F.col("__tsum") > 0,
            quantize(F.col("__wsum") / F.col("__tsum"), 6),
        ).alias("twap"),
    )


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per (series, day): open/close = value at
    the first/last event of the bucket (deterministic (ts, event_id)
    order), high/low = max/min, volume = count — the TSDB downsampling
    primitive. One combinable aggregate: open/close via min/max over
    (ts, event_id, value) structs, no window pass at all."""
    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    day = F.expr("ts_us div 86400000000")
    v = F.col("value").cast("double")
    key = F.struct(
        F.col("ts_us").alias("t"), F.col("event_id").alias("e"),
        v.alias("v"),
    )
    return (
        ev.select("user_id", day.alias("day"), v.alias("__v"), key.alias("__k"))
        .groupBy("user_id", "day")
        .agg(
            F.min("__k").getField("v").alias("open"),
            F.max("__v").alias("high"),
            F.min("__v").alias("low"),
            F.max("__k").getField("v").alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


def q_events_ohlc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running OHLC bars through a REAL stream
    (streaming/timeseries.py:ohlc_stream): one open bar of keyed state
    (six numbers), O(1)/event, bars roll at the day boundary. Emits
    the running bar per event; the oracle replays the prefix with
    running first/max/min frames per (user, day). Raw value
    comparisons only — no arithmetic, so parity needs no
    quantization."""
    import tempfile
    import uuid

    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming import ohlc_stream

    stream = load_events_stream(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    bars = ohlc_stream(
        stream, key="user_id", order=["ts_us", "event_id"],
        ts="ts_us", value="value",
    )
    name = f"ohlc_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            bars.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ohlc_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        "user_id", "event_id", "day", "open", "high", "low", "close",
        "volume",
    )


def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series single changepoint (binary-segmentation step 1,
    operators/timeseries.py:changepoint): the split minimizing the
    two-segment piecewise-constant SSE over quantized prefix sums —
    the unknown-shift localizer beside CUSUM's known-target test. One
    window pass + argmin on the same key partitioning."""
    from symtseries_spark.operators.timeseries import changepoint

    return changepoint(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value",
    )


def q_events_changepoint2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 binary segmentation
    (operators/timeseries.py:changepoint_segments): the root split plus
    independent re-splits of each side — up to 3 changepoints per
    series from the SAME quantized prefix-sum relation, no second scan.
    The greedy multi-changepoint extension of events_changepoint."""
    from symtseries_spark.operators.timeseries import changepoint_segments

    return changepoint_segments(
        load(spark, sf_dir, "events"),
        key="user_id", order=["ts", "event_id"], value="value",
    )


def q_events_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users with the 7-day trailing mean -> (day, dau,
    dau_7d). THE product health metric: one count-distinct per epoch
    day (exact here; the 100 TB path swaps in the registered grouped
    HLL and keeps the same shape), then a 7-row window over the
    |days|-row table."""
    from pyspark.sql import Window

    from symtseries_spark.operators.timeseries import quantize

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("(ts div 1000) div 86400000000").alias("day")
    ).agg(F.countDistinct("user_id").alias("dau"))
    w = (
        Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day",
        "dau",
        quantize(F.avg(F.col("dau").cast("double")).over(w), 6)
        .alias("dau_7d"),
    ).orderBy("day")


def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly engagement stickiness -> (week, wau, avg_dau,
    stickiness = avg_dau / wau). The DAU/WAU ratio product teams
    steer by: near 1 means the weekly audience shows up daily, near
    1/7 means once-a-week visitors. Two count-distinct aggregates on
    epoch-derived day/week keys, a |days|-row averaging join —
    calendar-free arithmetic throughout."""
    from symtseries_spark.operators.timeseries import quantize

    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.expr("(ts div 1000) div 86400000000")
    ).withColumn("week", F.expr("day div 7"))
    daily = ev.groupBy("week", "day").agg(
        F.countDistinct("user_id").alias("__dau")
    )
    wk_day = daily.groupBy("week").agg(
        quantize(F.avg(F.col("__dau").cast("double")), 6).alias("avg_dau")
    )
    wau = ev.groupBy("week").agg(F.countDistinct("user_id").alias("wau"))
    return (
        wau.join(wk_day, "week")
        .select(
            "week",
            "wau",
            "avg_dau",
            quantize(F.col("avg_dau") / F.col("wau"), 6)
            .alias("stickiness"),
        )
        .orderBy("week")
    )


def q_events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load curve per event type -> (event_type, hh,
    n_events, mean_value, share_of_type). The capacity-planning /
    batch-window read (when is each traffic class quiet), with the
    hour bucket from pure epoch arithmetic (the events_dow_hour rule —
    no engine calendar conventions). One combinable 24 x |types|
    aggregate + a broadcast per-type total."""
    from symtseries_spark.operators.timeseries import quantize

    ev = load(spark, sf_dir, "events").withColumn(
        "hh", F.expr("((ts div 1000) div 3600000000) % 24")
    )
    cell = ev.groupBy("event_type", "hh").agg(
        F.count(F.lit(1)).alias("n_events"),
        quantize(F.avg(F.col("value").cast("double")), 6)
        .alias("mean_value"),
    )
    tot = cell.groupBy("event_type").agg(F.sum("n_events").alias("__t"))
    return (
        cell.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "hh",
            "n_events",
            "mean_value",
            quantize(F.col("n_events") / F.col("__t"), 6)
            .alias("share_of_type"),
        )
        .orderBy("event_type", "hh")
    )


def q_events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit of the value column ->
    (digit, n, observed_frac, expected_frac, abs_dev). The classic
    fabricated-data / unit-mixing detector: organically-generated
    positive values follow log10(1+1/d); a flat or spiked profile
    flags synthetic injection or a unit change upstream. Leading
    digits come from EXACT integer CASE thresholds (never log10 —
    engine log implementations disagree at power-of-ten boundaries);
    expected fractions are shared Python literals.

    Band domain: the CASE covers magnitudes [0.01, 10000) — six
    decades, chosen to span the events value domain (2-decimal
    currency-like values). A value OUTSIDE those decades produces a
    multi-digit or zero "digit" and is dropped by the between(1, 9)
    gate rather than mis-binned, so out-of-band rows are EXCLUDED
    from the audit (both engines run the identical CASE, so the
    exclusion is parity-safe). Auditing a column with a wider
    magnitude range means adding more .when() decades — one exact
    comparison + floor each, no log10."""
    from symtseries_spark.operators.timeseries import quantize

    v = F.col("value").cast("double")
    # magnitude-banded leading digit, all comparisons exact
    digit = (
        F.when(v >= 1000, F.floor(v / 1000))
        .when(v >= 100, F.floor(v / 100))
        .when(v >= 10, F.floor(v / 10))
        .when(v >= 1, F.floor(v))
        .when(v >= 0.1, F.floor(v * 10))
        .when(v > 0, F.floor(v * 100))
    ).cast("int")
    ev = load(spark, sf_dir, "events").where(v > 0).select(
        digit.alias("digit")
    ).where(F.col("digit").between(1, 9))
    counts = ev.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("__t"))
    expected = F.create_map(
        *[
            x
            for d in range(1, 10)
            for x in (F.lit(d), F.lit(BENFORD_EXPECTED[d]))
        ]
    )
    obs = F.col("n") / F.col("__t")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            quantize(obs, 6).alias("observed_frac"),
            expected[F.col("digit")].alias("expected_frac"),
            quantize(F.abs(obs - expected[F.col("digit")]), 6)
            .alias("abs_dev"),
        )
        .orderBy("digit")
    )


def q_events_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shape per event type: population skewness and
    excess kurtosis from quantized raw moments -> (event_type, n,
    mean, variance, skewness, kurt_excess). NOT Spark's built-in
    skewness/kurtosis (engine-internal one-pass updates differ
    across engines): avg(x^k) for k=1..4 are each quantized, then the
    central-moment combination is identical IEEE arithmetic on both
    sides, with var*sqrt(var) instead of pow(var, 1.5). One
    map-side-combinable aggregate."""
    from symtseries_spark.operators.timeseries import quantize

    x = F.col("value").cast("double")
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        quantize(F.avg(x), 6).alias("__m1"),
        quantize(F.avg(x * x), 6).alias("__m2"),
        quantize(F.avg(x * x * x), 6).alias("__m3"),
        quantize(F.avg(x * x * x * x), 6).alias("__m4"),
    )
    m1, m2 = F.col("__m1"), F.col("__m2")
    m3, m4 = F.col("__m3"), F.col("__m4")
    var = m2 - m1 * m1
    c3 = m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1
    c4 = m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2 - 3.0 * m1 * m1 * m1 * m1
    return agg.select(
        "event_type",
        "n",
        quantize(m1, 6).alias("mean"),
        quantize(var, 6).alias("variance"),
        F.when(var > 0, quantize(c3 / (var * F.sqrt(var)), 6))
        .alias("skewness"),
        F.when(var > 0, quantize(c4 / (var * var) - 3.0, 6))
        .alias("kurt_excess"),
    ).orderBy("event_type")


def q_events_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume (rate) anomaly per event type: daily event COUNTS fed
    through the trailing-window z-score
    (operators/timeseries.py:rolling_zscore, window=7 days) and
    flagged at |z| >= 2 -> (event_type, day, n_events, n_window,
    zscore). The count-based twin of the value-based events_anomaly —
    catches traffic drops/spikes that value statistics never see.
    The inner aggregate collapses events to |types| x |days| rows
    before any window work."""
    from symtseries_spark.operators import rolling_zscore

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    z = rolling_zscore(
        daily.withColumn("__v", F.col("n_events").cast("double")),
        key="event_type", order=["day"], value="__v", window=7,
    )
    return z.where(F.abs(F.col("zscore")) >= 2.0).select(
        "event_type", "day", "n_events", "n_window", "zscore"
    )


def q_events_p95_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-latency drift per event type: daily p95 of value, then the
    OLS slope of that daily series (operators/timeseries.py:
    linear_trend over the percentile aggregate) -> (event_type, n,
    slope, intercept). The "is the tail degrading week over week"
    monitor — an aggregate-then-trend composition whose inner
    percentile and outer OLS are both already engine-proven."""
    from symtseries_spark.operators import linear_trend

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    ).agg(F.round(F.expr("percentile(value, 0.95D)"), 6).alias("p95"))
    return linear_trend(
        daily, key="event_type", order=["day"], value="p95"
    )


def q_events_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant period per series: the lag in 1..12 with the largest
    |ACF|, with the (|acf| desc, lag asc) tiebreak -> (user_id, lag_k,
    acf, n_pairs). The automatic season-picker feeding Holt-Winters /
    STL period choices — composition over
    operators/timeseries.py:autocorrelation at a wider lag range."""
    from symtseries_spark.operators.timeseries import autocorrelation

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    acf = autocorrelation(
        ev, key="user_id", order=["ts_us", "event_id"], value="value",
        max_lag=DOM_PERIOD_MAX_LAG,
    )
    pick = acf.where(F.col("acf").isNotNull()).groupBy("user_id").agg(
        F.min(
            F.struct(
                (-F.abs(F.col("acf"))).alias("__neg"),
                F.col("lag_k").alias("__lag"),
                F.col("acf").alias("__acf"),
                F.col("n_pairs").alias("__np"),
            )
        ).alias("__b")
    )
    return pick.select(
        "user_id",
        F.col("__b.__lag").alias("lag_k"),
        F.col("__b.__acf").alias("acf"),
        F.col("__b.__np").alias("n_pairs"),
    )


def q_events_hw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters over trailing windows — the seasonal
    completion of the exponential family (events_ewma -> events_holt ->
    this): flat array-state fold shared term-for-term with the DuckDB
    list_reduce mirror (operators/timeseries.py:holt_winters). The
    input is repartitioned on the series key at the session's shuffle
    parallelism before the window: the O(window x season) fold is
    CPU-bound per row and AQE's size-based coalescing collapsed the
    stage to 2 tasks at sf0.1 (measured 4.1s -> 1.2s warm with the
    pin; per-series results are partitioning-invariant)."""
    from symtseries_spark.operators.timeseries import holt_winters

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    hw = holt_winters(
        ev.repartition(n_part, "user_id"),
        key="user_id", order=["ts_us", "event_id"], value="value",
        **HW_P,
    )
    return hw.select(
        "user_id", "event_id", "level", "trend", "season_adj", "forecast"
    )


def q_events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-aware anomaly capstone: STL-lite residuals (events_stl)
    thresholded by a per-series robust median/MAD z — the detector
    that neither the daily cycle nor a single earlier spike can
    poison. Per-series medians are exact sorted-array middle-element
    arithmetic (operators/timeseries.py:sorted_median) over the
    quantized residuals, so both engines see identical arrays; series
    arrays are bounded by series length (the per-key collect is the
    validation-scale exactness path — production replaces it with the
    windowed mad_zscore over a trailing frame)."""
    from symtseries_spark.operators.timeseries import (
        sorted_median,
        stl_decompose,
    )

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts_us", F.expr("ts div 1000"))
        .withColumn("hh", F.expr("((ts div 1000) div 3600000000) % 24"))
    )
    stl = stl_decompose(
        ev, key="user_id", order=["ts_us", "event_id"], value="value",
        season="hh", **STL,
    )
    stats = (
        stl.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("resid")).alias("__sv"))
        .select(
            "user_id",
            F.element_at(
                F.transform(
                    F.array(F.col("__sv")),
                    lambda sv: F.struct(
                        sorted_median(sv).alias("med"),
                        F.lit(0.0).alias("pad"),
                    ),
                ),
                1,
            ).alias("__m"),
            F.col("__sv"),
        )
        .select(
            "user_id",
            F.col("__m.med").alias("__med"),
            F.element_at(
                F.transform(
                    F.array(
                        F.array_sort(
                            F.transform(
                                F.col("__sv"),
                                lambda x: F.abs(x - F.col("__m.med")),
                            )
                        )
                    ),
                    lambda sv: sorted_median(sv),
                ),
                1,
            ).alias("__mad"),
        )
    )
    rz = (
        F.floor(
            F.lit(0.6745)
            * (F.col("resid") - F.col("__med"))
            / F.col("__mad")
            * 1e4
            + F.lit(0.5)
        )
        / 1e4
    )
    return (
        stl.join(stats, "user_id")
        .where(F.col("__mad") > 0)
        .withColumn("rz", rz)
        .where(F.abs(F.col("rz")) >= SEASONAL_ANOM["threshold"])
        .select("user_id", "event_id", "resid", "rz")
    )


def q_events_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: day-of-week x hour-of-day event counts. Both
    coordinates derive from pure integer epoch arithmetic (epoch day
    1970-01-01 was a Thursday, so dow = (days + 4) % 7 with 0=Sunday) —
    no engine calendar/locale conventions anywhere, so any SQL engine
    reproduces the cells exactly."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("(ts div 1000) div 86400000000").alias("__d"),
        F.expr("((ts div 1000) div 3600000000) % 24").alias("hour"),
    )
    return (
        ev.select(((F.col("__d") + 4) % 7).alias("dow"), "hour")
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("dow", "hour")
    )


RETENTION_BUCKET_DAYS = 5


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by their FIRST activity
    period, counted distinct in each subsequent period offset — the
    canonical product-analytics triangle. Two aggregates + one join, all
    keyed on user_id (exchange reuse), integer counts only."""
    bucket_us = RETENTION_BUCKET_DAYS * 86400 * 1_000_000
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"(ts div 1000) div {bucket_us}").alias("b"),
    )
    first = ev.groupBy("user_id").agg(F.min("b").alias("cohort"))
    act = ev.distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort", (F.col("b") - F.col("cohort")).alias("period_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort", "period_offset")
    )


LATE_SPAN_DAYS = 5  # tumbling window == replay-file span
LATE_WM_DAYS = 2    # watermark < span => rows delayed 2 files always drop


def q_events_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP semantics as an oracle-checkable query:
    a deterministic 25% of rows (md5 marker) ship THREE files after
    their natural span; with a 2-day watermark on 5-day windows the
    filter watermark (which lags the progress-reported one by a batch —
    measured, not assumed) has passed their window end by >= 3 days by
    arrival, so Spark MUST drop every one of them, while on-time rows
    always arrive within their own span and are never dropped. The
    oracle aggregates only the on-time rows — finalized windows must
    match exactly, proving both sides of the watermark contract (admit
    vs drop) rather than just the happy path."""
    import glob as globmod
    import os
    import tempfile
    import uuid
    from datetime import timedelta

    from symtseries_spark.functions.text import doc_hash60

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts_t", F.timestamp_micros(F.expr("ts div 1000")))
        .select("user_id", "event_id", "ts_t", "value")
    )
    span_sec = LATE_SPAN_DAYS * 86400
    bid_nat = F.floor(F.unix_timestamp("ts_t") / span_sec)
    maxbid = ev.agg(F.max(bid_nat)).first()[0]
    late = (doc_hash60(F.col("event_id").cast("string")) % 4 == 0) & (
        bid_nat <= maxbid - 3
    )
    ship = (bid_nat + F.when(late, F.lit(3)).otherwise(F.lit(0))).alias("__bid")

    tmp = tempfile.mkdtemp(prefix="late_drop_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    ev.withColumn("__bid", ship).coalesce(1).write.partitionBy("__bid").parquet(
        staged
    )
    batch_dirs = sorted(
        globmod.glob(f"{staged}/__bid=*"), key=lambda p: int(p.rsplit("=", 1)[1])
    )
    t0 = 1_000_000_000
    for i, d in enumerate(batch_dirs):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (t0 + i, t0 + i))
    mx = ev.agg(F.max("ts_t")).first()[0]
    for j in range(2):
        dst = f"{indir}/b{len(batch_dirs) + j:04d}.parquet"
        _write_sentinel_parquet(dst, mx + timedelta(days=3 * LATE_SPAN_DAYS + j))
        os.utime(dst, (t0 + len(batch_dirs) + j, t0 + len(batch_dirs) + j))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    agg = (
        stream.withWatermark("ts_t", f"{LATE_WM_DAYS} days")
        .groupBy(F.window("ts_t", f"{LATE_SPAN_DAYS} days").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
    )
    name = f"late_drop_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="late_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        F.unix_micros(F.col("w.start")).alias("window_start_us"),
        "n_events",
        "sum_value",
    )


FUNNEL_STAGES = ("signup", "click", "purchase")
CMS = dict(width=256, depth=3)


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup -> click -> purchase): one
    aggregate per stage on one user_id partitioning, integer counts."""
    from symtseries_spark.operators import funnel_counts

    # compare stage times in MICROSECONDS: the oracle's epoch_us truncates
    # sub-microsecond digits, so a nanosecond-unit comparison could split
    # a tie the SQL side cannot see (the repo-wide common-unit rule)
    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    return funnel_counts(
        ev, key="user_id", ts="ts_us", type_col="event_type",
        stages=list(FUNNEL_STAGES),
    )


def q_events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution for the ordered funnel: per
    user, first signup, first click AFTER it, first purchase after
    that; then p50/p90 of each hop's latency (microseconds) ->
    (hop, n_converted, p50_us, p90_us). The time-to-convert complement
    of events_funnel's counts. Three conditional min-aggregates on the
    same user partitioning; percentiles via the proven
    percentile == quantile_cont parity. The stage-1 table feeds BOTH
    the hop-1 report and the stage-2 join, so it is persisted (r12) —
    one narrow row per converted user."""
    from symtseries_spark.cache import persist_tracked

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    s = ev.where(F.col("event_type") == FUNNEL_STAGES[0]).groupBy(
        "user_id"
    ).agg(F.min("ts_us").alias("t0"))
    c = persist_tracked(
        ev.where(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s, "user_id")
        .where(F.col("ts_us") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"), F.first("t0").alias("t0"))
    )
    p = (
        ev.where(F.col("event_type") == FUNNEL_STAGES[2])
        .join(c, "user_id")
        .where(F.col("ts_us") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"), F.first("t1").alias("t1"))
    )
    hop1 = c.select((F.col("t1") - F.col("t0")).alias("lat"))
    hop2 = p.select((F.col("t2") - F.col("t1")).alias("lat"))

    def report(df: DataFrame, hop: str) -> DataFrame:
        return df.agg(
            F.lit(hop).alias("hop"),
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.expr("percentile(lat, 0.5D)"), 6).alias("p50_us"),
            F.round(F.expr("percentile(lat, 0.9D)"), 6).alias("p90_us"),
        )

    return report(hop1, "signup->click").unionByName(
        report(hop2, "click->purchase")
    )


def q_docs_token_mass_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-MASS-weighted document-length quantiles -> one row
    (total_tokens, p50_len, p90_len, p99_len): the smallest doc length
    L such that docs of length <= L hold >= 50/90/99% of all TOKENS —
    i.e. "the median token lives in a document of length p50_len". The
    sequence-packing planner's number (how long is the doc the typical
    token sits in), not the per-doc median, which under-weights the
    long docs that dominate token mass. Exact nearest-rank integer
    arithmetic over the length grid with integer token weights
    (operators/sketches.py:grid_quantiles weight=): bit-identical
    oracle, nothing row-scaled through one task — the weighted member
    of the grid-quantile family."""
    from symtseries_spark.functions.text import tokens
    from symtseries_spark.operators.sketches import grid_quantiles

    docs = load(spark, sf_dir, "documents")
    nt = docs.select(
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return grid_quantiles(
        nt,
        value="n_tokens",
        weight="n_tokens",
        probs=[(1, 2, "p50_len"), (9, 10, "p90_len"), (99, 100, "p99_len")],
        n_alias="total_tokens",
    )


def q_docs_source_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-drift report: the exact two-sample
    Kolmogorov-Smirnov statistic between each source's doc-length
    (n_chars) distribution and the whole corpus ->
    (source, n_docs, ks_stat) — the curation dashboard's "which feed
    changed shape" number (a mean/variance check misses bimodal
    drift; KS is the standard supremum-of-CDF-gap test).

    Exact integer formulation: KS = max over the length grid of
    |cum_s/n_s - cum_all/N| = max |cum_s*N - cum_all*n_s| / (n_s*N),
    computed as DECIMAL cross-products (exact far past 2^63 — at
    corpus scale cum*N overflows a long) with ONE double division at
    the end, quantized 1e-6. Scale shape: counts are a combinable
    groupBy bounded by |sources| x |length grid|; the per-source CDF
    window partitions by source; the corpus CDF window runs over the
    grid-sized length table (Class-A bounded); output is |sources|
    rows."""
    from pyspark.sql import Window

    from symtseries_spark.operators.timeseries import quantize

    docs = load(spark, sf_dir, "documents").where(F.col("n_chars").isNotNull())
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("__c")
    )
    per_len = counts.groupBy("n_chars").agg(F.sum("__c").alias("__ca"))
    w_all = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_all = per_len.select(
        "n_chars", F.sum("__ca").over(w_all).alias("__cum_all")
    )
    n_total = docs.count()  # plan-time literal (1-row driver scalar)
    sources = counts.groupBy("source").agg(F.sum("__c").alias("n_docs"))
    # evaluate BOTH CDFs at every grid point: cross sources x grid,
    # fill absent (source, length) cells with zero mass
    full = (
        sources.crossJoin(F.broadcast(cum_all))
        .join(counts, ["source", "n_chars"], "left")
        .select(
            "source",
            "n_docs",
            "n_chars",
            "__cum_all",
            F.coalesce(F.col("__c"), F.lit(0)).alias("__c"),
        )
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gap = F.abs(
        F.col("__cum_src").cast("decimal(19,0)") * F.lit(n_total).cast(
            "decimal(19,0)"
        )
        - F.col("__cum_all").cast("decimal(19,0)")
        * F.col("n_docs").cast("decimal(19,0)")
    )
    return (
        full.withColumn("__cum_src", F.sum("__c").over(w_src))
        .withColumn("__gap", gap)
        .groupBy("source", "n_docs")
        .agg(F.max("__gap").alias("__mx"))
        .select(
            "source",
            "n_docs",
            quantize(
                F.col("__mx").cast("double")
                / (
                    F.col("n_docs").cast("double") * F.lit(float(n_total))
                ),
                6,
            ).alias("ks_stat"),
        )
    )


def q_docs_token_mass_quantiles_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """docs_token_mass_quantiles as a LIVE streaming aggregation: the
    per-length token-mass counters flow through a complete-mode
    groupBy whose state is the length-grid counter table — the same
    sketch-as-streaming-state pattern as docs_cms_stream (state
    bounded by the GRID, not the stream; a quantile sketch you can
    read at any micro-batch). Documents replay in two micro-batches to
    prove cross-batch state carry; the final counters equal the batch
    groupBy exactly, so the nearest-rank stage
    (operators/sketches.py:grid_quantiles_from_counts) over them
    shares docs_token_mass_quantiles' oracle bit-for-bit."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.functions.text import tokens
    from symtseries_spark.operators.sketches import grid_quantiles_from_counts

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    half = (F.col("doc_id") > mid).cast("int").alias("__bid")
    tmp = tempfile.mkdtemp(prefix="gridq_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    docs.withColumn("__bid", half).coalesce(1).write.partitionBy("__bid").parquet(
        staged
    )
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    counters = (
        stream.select(
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
        )
        .where(F.col("n_tokens") > 0)
        .groupBy("n_tokens")
        .agg(F.sum("n_tokens").alias("mass"))
    )
    name = f"gridq_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            counters.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="gridq_chk_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return grid_quantiles_from_counts(
        spark.table(name),
        value="n_tokens",
        count="mass",
        probs=[(1, 2, "p50_len"), (9, 10, "p90_len"), (99, 100, "p99_len")],
        n_alias="total_tokens",
    )


def q_events_funnel_latency_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_funnel_latency's 100 TB scale twin: same staged funnel
    joins, but hop latencies quantized to whole SECONDS and p50/p90
    computed as exact nearest-rank quantiles over the bounded grid
    (operators/sketches.py:grid_quantiles) instead of the exact
    ``percentile()`` whose single-reducer buffer grows with distinct
    microsecond latencies (docs/PLAN_AUDIT.md Class-A caveat). A
    conversion-latency horizon of a year is ~32M grid seconds — the
    distinct bound — while integer rank math keeps the DuckDB oracle
    bit-identical -> (hop, n_converted, p50_s, p90_s). The stage-1
    conversion table feeds BOTH the hop-1 report and the stage-2
    join, so it is persisted (r12) — one narrow row per converted
    user, and the stage-0/1 scans + joins above it run once instead
    of once per consumer."""
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.operators.sketches import grid_quantiles

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    s = ev.where(F.col("event_type") == FUNNEL_STAGES[0]).groupBy(
        "user_id"
    ).agg(F.min("ts_us").alias("t0"))
    c = persist_tracked(
        ev.where(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s, "user_id")
        .where(F.col("ts_us") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"), F.first("t0").alias("t0"))
    )
    p = (
        ev.where(F.col("event_type") == FUNNEL_STAGES[2])
        .join(c, "user_id")
        .where(F.col("ts_us") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"), F.first("t1").alias("t1"))
    )

    def report(df: DataFrame, hop: str) -> DataFrame:
        g = grid_quantiles(
            df,
            value="lat_s",
            probs=[(1, 2, "p50_s"), (9, 10, "p90_s")],
            n_alias="n_converted",
        )
        return g.select(
            F.lit(hop).alias("hop"), "n_converted", "p50_s", "p90_s"
        )

    hop1 = c.select(F.expr("(t1 - t0) div 1000000").alias("lat_s"))
    hop2 = p.select(F.expr("(t2 - t1) div 1000000").alias("lat_s"))
    return report(hop1, "signup->click").unionByName(
        report(hop2, "click->purchase")
    )


def q_docs_cms_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch demo with ground truth: estimate the exact
    top-term counts through a (depth x width) integer sketch — est >=
    true always; overshoot shows the collision load at this width. All
    integer math, so the oracle matches exactly."""
    from symtseries_spark.functions.text import tokens
    from symtseries_spark.operators import cms_build, cms_estimate
    from symtseries_spark.operators.retrieval import top_terms

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    cms = cms_build(tok, col="term", **CMS)
    top = top_terms(docs, topk=TOP_TERMS_K, min_len=TOP_TERMS_MIN_LEN)
    return cms_estimate(top, cms, col="term", **CMS)


def q_docs_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch as a LIVE streaming aggregation: token counter
    updates flow through a complete-mode groupBy whose state is the
    fixed (depth x width) counter table — the mergeable-sketch-as-
    streaming-state pattern (state bounded by the sketch, not the
    stream). Final counters must equal the batch build exactly, so the
    probe over the exact top terms shares docs_cms_terms' oracle."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.functions.text import tokens
    from symtseries_spark.operators import cms_estimate
    from symtseries_spark.operators.retrieval import top_terms
    from symtseries_spark.operators.sketches import _cms_positions

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    half = (F.col("doc_id") > mid).cast("int").alias("__bid")
    tmp = tempfile.mkdtemp(prefix="cms_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    docs.withColumn("__bid", half).coalesce(1).write.partitionBy("__bid").parquet(
        staged
    )
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    counters = (
        stream.select(F.explode(tokens(F.col("text"))).alias("term"))
        .select(
            F.explode(
                _cms_positions(F.col("term"), width=CMS["width"], depth=CMS["depth"])
            ).alias("rc")
        )
        .groupBy(F.col("rc.row_id").alias("row_id"), F.col("rc.col_id").alias("col_id"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = f"cms_stream_{uuid.uuid4().hex[:8]}"
    # state = the fixed (depth x width) counter table — a few thousand
    # keys, so commit it over 4 state-store partitions, not the
    # batch-analytics 32 (same sizing rule as _state_partitions' doc)
    with _state_partitions(spark):
        q = (
            counters.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="cms_chk_"))
            # AvailableNow still honors maxFilesPerTrigger=1, so the
            # two-batch carried-state scenario is preserved; the query
            # self-terminates instead of poll-then-stop
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    cms = spark.table(name)
    top = top_terms(
        load(spark, sf_dir, "documents"),
        topk=TOP_TERMS_K, min_len=TOP_TERMS_MIN_LEN,
    )
    return cms_estimate(top, cms, col="term", **CMS)


BLOOM = dict(m_bits=1024, k=3)


def q_docs_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter: build the filter over the
    known-duplicate content hashes (fixed kilobytes regardless of
    build-set size), broadcast it, and probe every document scan-stage —
    the sketch replacement for a broadcast semi-join when the suspect
    set is too big to ship. False positives are deterministic (md5 bit
    positions), so the oracle reproduces them bit-for-bit."""
    from symtseries_spark.functions.text import doc_hash60, normalized_text
    from symtseries_spark.operators import bloom_build, bloom_probe

    docs = load(spark, sf_dir, "documents").withColumn(
        "content_hash", doc_hash60(normalized_text(F.col("text")))
    )
    dup_hashes = (
        docs.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select("content_hash")
    )
    bloom = bloom_build(dup_hashes, col="content_hash", **BLOOM)
    return bloom_probe(docs, bloom, col="content_hash", **BLOOM).select(
        "doc_id", "bloom_hit"
    )


def q_events_anomaly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_anomaly: trailing-window z-score through
    a real stream with bounded keyed state (window-1 doubles/series),
    numpy index-order sums matching the batch plan's sequential window
    folds bit-for-bit. One micro-batch replay; same oracle as the batch
    query (round + threshold applied JVM-side on the sink table)."""
    import tempfile
    import uuid

    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming import rolling_zscore_stream

    stream = load_events_stream(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    z = rolling_zscore_stream(
        stream, key="user_id", order=["ts_us", "event_id"], value="value",
        window=ANOM_WINDOW,
    )
    name = f"anom_stream_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state
    # store to the key cardinality, not the batch default
    with _state_partitions(spark):
        q = (
            z.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="anom_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    rounded = F.round(F.when(~F.isnan("zscore"), F.col("zscore")), 4)
    return (
        spark.table(name)
        .select("user_id", "event_id", "n_window", rounded.alias("zscore"))
        .where(F.abs(F.col("zscore")) >= ANOM_THRESHOLD)
    )


def q_docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality as a confusion crosstab: true lang column vs
    the n-gram-marker prediction, counted per cell — the corpus QA query
    a pipeline runs before trusting a classifier for filtering. One
    scan-stage prediction + one groupBy."""
    from symtseries_spark.functions.text import lang_id

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def q_docs_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (top terms by occurrences + doc_freq)."""
    from symtseries_spark.operators.retrieval import top_terms

    return top_terms(
        load(spark, sf_dir, "documents"),
        topk=TOP_TERMS_K,
        min_len=TOP_TERMS_MIN_LEN,
    )


def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile (dup_ratio / top_share filters)."""
    from symtseries_spark.operators.retrieval import repetition_metrics

    return repetition_metrics(load(spark, sf_dir, "documents"))


def q_docs_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test LEAKAGE audit — the hygiene check a pretraining
    run does after splitting: per split pair, how many EXACT-content
    twins (identical normalized text) and MinHash near-dup pairs cross
    the boundary. One row: (exact_train_val, exact_train_test,
    exact_val_test, near_train_val, near_train_test, near_val_test).

    Exact cross-pairs NEVER expand pairs: per content hash the per-
    split counts combine map-side and cross counts are sums of
    products (n_train x n_val per hash) — a duplicate group of 10^6
    docs costs one row, not 10^12 pairs. Near-dup pairs come from the
    banded MinHash candidate join (bucketed, never all-pairs) with
    split labels joined on each side."""
    from symtseries_spark.functions.text import doc_hash60, normalized_text
    from symtseries_spark.operators.pipeline import deterministic_split

    docs = load(spark, sf_dir, "documents")
    sp = deterministic_split(docs.select("doc_id", "text"), SPLITS)
    hashed = sp.select(
        "split", doc_hash60(normalized_text(F.col("text"))).alias("h")
    )
    per_h = hashed.groupBy("h").agg(
        F.sum((F.col("split") == "train").cast("long")).alias("nt"),
        F.sum((F.col("split") == "val").cast("long")).alias("nv"),
        F.sum((F.col("split") == "test").cast("long")).alias("ns"),
    )
    ex = per_h.agg(
        F.coalesce(F.sum(F.col("nt") * F.col("nv")), F.lit(0))
        .cast("long")
        .alias("exact_train_val"),
        F.coalesce(F.sum(F.col("nt") * F.col("ns")), F.lit(0))
        .cast("long")
        .alias("exact_train_test"),
        F.coalesce(F.sum(F.col("nv") * F.col("ns")), F.lit(0))
        .cast("long")
        .alias("exact_val_test"),
    )
    lab = sp.select("doc_id", "split")
    near = (
        minhash_lsh_pairs(docs, **MINHASH)
        .select("doc_a", "doc_b")
        .join(
            lab.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .where(F.col("sa") != F.col("sb"))
    )

    def _cross(a: str, b: str) -> Column:
        hit = (
            (F.col("sa") == a) & (F.col("sb") == b)
        ) | ((F.col("sa") == b) & (F.col("sb") == a))
        return F.coalesce(F.sum(hit.cast("long")), F.lit(0)).cast("long")

    nr = near.agg(
        _cross("train", "val").alias("near_train_val"),
        _cross("train", "test").alias("near_train_test"),
        _cross("val", "test").alias("near_val_test"),
    )
    return ex.crossJoin(nr)


def q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sampling without replacement
    (Efraimidis-Spirakis A-ES, operators/pipeline.py
    weighted_sample_es): per source, the 5 docs drawn with probability
    proportional to n_chars — the token-weighted subsample primitive
    (weight = length samples characters, not documents, uniformly).
    Reproducible across engines: md5-rational uniforms, round-6 keys,
    id tiebreak."""
    from symtseries_spark.operators.pipeline import weighted_sample_es

    return weighted_sample_es(
        load(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        ),
        k=5,
        weight_col="n_chars",
        by="source",
    ).select("source", "doc_id", "n_chars", "es_key", "sample_rank")


def q_docs_weighted_sample_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted reservoir sampling through a REAL stream: docs arrive
    across 2 micro-batches; per-source state is the k best
    Efraimidis-Spirakis triples (streaming/sampling.py
    streaming_weighted_sample — O(k) state per source). The ES top-k
    is MERGEABLE (a pure function of the row set), so the final
    emission must equal the batch operator exactly — the ORACLE is
    docs_weighted_sample's SQL, unchanged."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.streaming import streaming_weighted_sample

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="es_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    half = (F.col("doc_id") > mid).cast("int").alias("__bid")
    docs.withColumn("__bid", half).coalesce(1).write.partitionBy(
        "__bid"
    ).parquet(staged)
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    sampled = streaming_weighted_sample(
        stream, k=5, weight_col="n_chars", by="source"
    )
    name = f"es_stream_{uuid.uuid4().hex[:8]}"
    # state = k triples per source (a handful of keys)
    with _state_partitions(spark):
        q = (
            sampled.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="es_chk_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(name)
    # latest emission per group via a window (per-group rows are <= k
    # per batch — tiny); a self-join of the memory table trips a
    # CheckAnalysis internal error in Spark 4.1
    from pyspark.sql import Window as _W

    mx = F.max("batch_no").over(_W.partitionBy("group_key"))
    return (
        out.withColumn("__mx", mx)
        .where(F.col("batch_no") == F.col("__mx"))
        .select(
            F.col("group_key").alias("source"),
            "doc_id",
            F.col("weight").cast("long").alias("n_chars"),
            "es_key",
            "sample_rank",
        )
    )


def q_docs_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold calibration curve: keep counts and rates at
    each gate value 0.1..0.9 — the table a curation run reads before
    committing to a threshold (how much data does each setting cost?).
    Scan-stage score + a 9-value literal explode + one combinable
    groupBy(threshold): nothing corpus-global, output bounded at the
    grid size."""
    from symtseries_spark.functions.text import quality_metrics

    docs = load(spark, sf_dir, "documents")
    grid = [round(0.1 * i, 1) for i in range(1, 10)]
    d = docs.select(
        quality_metrics(F.col("text"))["quality_score"].alias("q")
    ).select(
        "q",
        F.explode(F.array(*[F.lit(t) for t in grid])).alias("threshold"),
    )
    keep = (F.col("q") >= F.col("threshold")).cast("long")
    return d.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep).alias("n_keep"),
        F.round(
            F.sum(keep).cast("double") / F.count(F.lit(1)), 6
        ).alias("keep_rate"),
    )


EXSUB_TOKENS = 8


def q_emb_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS IndexIVFPQ with RESIDUAL encoding — the full published
    shape, upgrading emb_ivfpq_topk's documented no-residual
    simplification (operators/pq.py ivfpq_residual_topk): codes
    quantize v - centroid(list(v)), the ADC LUT becomes per-probed-
    list (nprobe x m x ks entries, built per query from the per-list
    query residual, broadcast). Residuals are a scan-stage zip_with
    against the broadcast centroid table; per query the work is one
    centroid pass + ~nprobe/num_lists of the code table."""
    from symtseries_spark.operators.pq import ivfpq_residual_topk

    return ivfpq_residual_topk(
        load(spark, sf_dir, "embeddings"),
        query_id=IVF["query_id"],
        k=IVF["k"],
        m=PQ["m"],
        ks=PQ["ks"],
        num_lists=IVF["num_lists"],
        nprobe=2,
        dim=EMB_DIM,
    )


def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS IndexIVFPQ-shaped search (no-residual simplification):
    seed-only IVF coarse probe picks nprobe lists, corpus-trained PQ
    codes score the probed candidates via the query's ADC LUT
    (operators/pq.py ivfpq_topk). Per query: one broadcast centroid
    pass + ~nprobe/num_lists of the code table — never the corpus."""
    from symtseries_spark.operators.pq import ivfpq_topk

    return ivfpq_topk(
        load(spark, sf_dir, "embeddings"),
        query_id=IVF["query_id"],
        k=IVF["k"],
        m=PQ["m"],
        ks=PQ["ks"],
        num_lists=IVF["num_lists"],
        nprobe=2,
        dim=EMB_DIM,
    )


# Scale-sane banding: pigeonhole needs bands > max_hamming, and chunks
# must stay >= 8 bits or the bucket join degenerates toward all-pairs
# (56 bits / 14 bands = 4-bit chunks = 16 values/band was measured
# ~60% collision between RANDOM hashes). 56 bits at 7 bands supports
# radius <= 6; instead of widening the radius to meet the corpus (the
# r11 mistake), we PLANT near-twin payloads (1-byte perturbation ->
# hamming <= 1) for every doc_id % DHASH_TWIN_MOD == 0 with len >= 63
# (each dhash sample offset is then unique, so the twin flips at most
# one gradient bit). max_bucket fail-fasts the self-join if any
# (band, chunk) bucket outgrows the cap (sf0.1 worst observed: 134).
DHASH_HAM = 6
DHASH_BANDS = 7
DHASH_TWIN_MOD = 41
DHASH_TWIN_OFF = 1 << 40  # planted ids far above any real doc_id
DHASH_BUCKET_CAP = 512
# Wide variant: radius 12 (the r11 requirement) done RIGHT — a 104-bit
# multi-word hash (13 rows x 8-bit words, rows double as bands) keeps
# chunks at 8 bits instead of thinning them to 4.
DHASH_WIDE_HAM = 12
DHASH_WIDE_ROWS = 13
FRAME_DEDUP_HAM = 2  # aligned-frame radius; twin frames past 0 are exact


def q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual difference-hash per media payload (operators/
    multimodal.py media_dhash) — the standard image-dedup fingerprint
    over the opaque binary column; JVM hex extraction, zero Python."""
    from symtseries_spark.operators.multimodal import media_dhash

    return media_dhash(
        media_from_documents(load(spark, sf_dir, "documents"))
    )


def _dhash_twin_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dhash family's shared corpus: documents plus PLANTED
    1-byte-perturbation near-twins (doc_id % DHASH_TWIN_MOD == 0,
    len >= 63 so each dhash sample offset is unique -> hamming <= 1
    per planted pair) at ids offset by DHASH_TWIN_OFF."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.where(
        (F.col("doc_id") % DHASH_TWIN_MOD == 0)
        & (F.length("text") >= 63)
    ).select(
        (F.col("doc_id") + F.lit(DHASH_TWIN_OFF)).alias("doc_id"),
        F.concat(
            F.lit("~"), F.expr("substring(text, 2, length(text) - 1)")
        ).alias("text"),
    )
    return docs.unionByName(twins)


def q_media_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate media by dHash hamming distance: SimHash-style
    banded chunks (pigeonhole-exact: bands > max_hamming), bucketed
    equi-join candidates, bit_count(xor) refine, hot-bucket fail-fast.
    The corpus has no natural twins at the scale-sane radius, so the
    query PLANTS them: a 1-byte perturbation of every 41st document
    (hamming <= 1 from its base when len >= 63) — the banding stays
    8 bits/chunk instead of being widened to meet the data."""
    from symtseries_spark.operators.multimodal import (
        dhash_pairs,
        media_from_documents,
    )

    return dhash_pairs(
        media_from_documents(_dhash_twin_docs(spark, sf_dir)),
        max_hamming=DHASH_HAM,
        bands=DHASH_BANDS,
        max_bucket=DHASH_BUCKET_CAP,
    )


def q_media_dhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-radius near-duplicate media: the multi-word dHash
    (13 rows x 8 bits = 104 bits, operators/multimodal.py
    media_dhash_wide) supports radius 12 with 8-bit band chunks —
    rows ARE the bands, so the hash widens instead of the chunks
    thinning (the scale-correct fix for the r11 4-bit-chunk corner).
    Same planted twins and hot-bucket fail-fast as media_dhash_pairs."""
    from symtseries_spark.operators.multimodal import (
        dhash_pairs_wide,
        media_from_documents,
    )

    return dhash_pairs_wide(
        media_from_documents(_dhash_twin_docs(spark, sf_dir)),
        max_hamming=DHASH_WIDE_HAM,
        rows=DHASH_WIDE_ROWS,
        max_bucket=DHASH_BUCKET_CAP,
    )


LINE_SEP = " the "  # the corpus has no newlines; split on the most
# common token so line-grain duplicates actually exist (the operator's
# default sep is "\n")


def q_media_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media dedup endgame: wide-dhash near-dup PAIRS (radius 12,
    104-bit hash, hot-bucket fail-fast) -> connected components ->
    per-media canonical id + cluster size — the dedup_clusters shape
    applied to the perceptual modality, so planted twins collapse
    onto their base payload. Min-label propagation to fixpoint
    (pointer-doubling, O(log diameter) rounds); converged result is
    iteration-order independent, oracle-checked via a DuckDB
    recursive CTE."""
    from symtseries_spark.operators.graph import connected_components
    from symtseries_spark.operators.multimodal import (
        dhash_pairs_wide,
        media_from_documents,
    )

    all_docs = _dhash_twin_docs(spark, sf_dir)
    pairs = dhash_pairs_wide(
        media_from_documents(all_docs),
        max_hamming=DHASH_WIDE_HAM,
        rows=DHASH_WIDE_ROWS,
        max_bucket=DHASH_BUCKET_CAP,
    ).select("media_a", "media_b")
    verts = all_docs.where(F.length("text") > 0).select(
        F.col("doc_id").alias("v")
    )
    cc = connected_components(pairs, verts, src="media_a", dst="media_b")
    sizes = cc.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return cc.join(sizes, "canonical_id").select(
        F.col("v").alias("media_id"),
        "canonical_id",
        "cluster_size",
        (F.col("v") != F.col("canonical_id")).alias("is_duplicate"),
    )


def q_media_dhash_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-rest perceptual index lifecycle: write the wide-dhash chunk
    index partitioned by band=<b>/chunk=<w>/ directories
    (sources/__init__.py:write_dhash_index), then probe ONE payload
    (the planted twin of doc 0) against the stored corpus — the
    probe's 13 (band, chunk) pairs prune the scan to matching
    directories before any row is read
    (sources/__init__.py:read_dhash_probe). Pigeonhole-exact, so the
    DuckDB twin recomputes it as brute-force hamming vs the probe."""
    import tempfile

    from symtseries_spark.operators.multimodal import (
        media_dhash_wide,
        media_from_documents,
    )
    from symtseries_spark.sources import read_dhash_probe, write_dhash_index

    media = media_from_documents(_dhash_twin_docs(spark, sf_dir))
    path = tempfile.mkdtemp(prefix="dhash_at_rest_") + "/index"
    write_dhash_index(media, path, rows=DHASH_WIDE_ROWS)
    probe_id = DHASH_TWIN_OFF  # doc 0's planted twin
    probe_rows = [
        int(w)
        for w in media_dhash_wide(
            media.where(F.col("media_id") == probe_id),
            rows=DHASH_WIDE_ROWS,
        ).first()["dhash_rows"]
    ]
    return read_dhash_probe(
        spark,
        path,
        probe_rows,
        max_hamming=DHASH_WIDE_HAM,
        exclude_id=probe_id,
    )


def q_docs_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the duplication comes from: exact-dup pair counts per
    (source_a, source_b) cell (operators/dedup.py dup_source_matrix) —
    the curation diagnostic that decides whether a feed dedups against
    itself or against another feed. Split-leakage identity on the
    source dimension: per-hash per-source counts combine map-side,
    pair counts are sums of count products — never pair expansion.
    The synthetic corpus has no duplicate texts, so the query PLANTS
    them (the dhash-twin convention): every doc_id % 5 == 0 doc is
    mirrored under source 'mirror' (cross-source cells) and every
    doc_id % 11 == 0 doc is re-ingested into its own source
    (within-source cells)."""
    from symtseries_spark.operators.dedup import dup_source_matrix

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    mirror = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(DHASH_TWIN_OFF)).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    reingest = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + F.lit(2 * DHASH_TWIN_OFF)).alias("doc_id"),
        "text",
        "source",
    )
    return dup_source_matrix(docs.unionByName(mirror).unionByName(reingest))


def _suffix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + mirrored twins (doc_id % 5 == 0, the dhash-twin
    convention): the synthetic corpus has no duplicate texts, so the
    mirrors plant both the dense-rank tie classes (identical whole
    tails) and the duplicated spans the suffix family exists to find."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mirror = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(DHASH_TWIN_OFF)).alias("doc_id"), "text"
    )
    return docs.unionByName(mirror)


_SUFFIX_CORPUS_SQL = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DHASH_TWIN_OFF} AS doc_id, text
  FROM documents WHERE doc_id % 5 = 0
) planted"""


def q_docs_suffix_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized suffix array over the tokenized corpus
    (operators/suffix.py suffix_ranks): dense word-lexicographic rank
    of every (doc_id, pos) suffix, built by distributed prefix
    doubling — ⌈log₂ max-doc-length⌉ rounds, each one co-keyed
    self-join + two-pass distributed rank (operators/rank.py), never a
    corpus-scale sort. The structure under Lee et al. 2022-style
    arbitrary-length duplicate-span detection; the planted mirrors
    exercise the tie classes (identical whole tails share a rank)."""
    from symtseries_spark.operators.suffix import (
        suffix_ranks,
        token_positions,
    )

    ranks, _ = suffix_ranks(
        token_positions(_suffix_corpus(spark, sf_dir)), keep_rounds=False
    )
    return ranks.select("doc_id", "pos", "sa_rank")


def q_docs_longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest duplicated token span corpus-wide (operators/suffix.py
    longest_dup_span): SA-adjacent pairs (dense ranks make adjacency an
    equi-join on rank+1), exact LCP via the descending-power walk over
    the doubling rank tables, winners reconstructed and counted. The
    oracle is an independent all-(pos, length)-window enumeration, so
    the SA+LCP machinery is checked against a different algorithm."""
    from symtseries_spark.operators.suffix import longest_dup_span

    return longest_dup_span(_suffix_corpus(spark, sf_dir)).orderBy(
        "span_text"
    )


def q_text_bm25_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-rest INVERTED INDEX lifecycle — the retrieval cell of the
    at-rest matrix (lsh=near-dup, dhash=perceptual, IVF=embeddings,
    iSAX=series, zorder=events): write postings (term, doc_id, tf, dl)
    under tb=<hash(term) % 32>/ directories with term-range-clustered
    files plus exact BIGINT corpus stats
    (sources/__init__.py write_postings_index), then serve the
    registered BM25 bag-of-words query straight off the stored layout
    (read_postings_topk): bucket pruning is computed DRIVER-side from
    the query terms (no job), df falls out of the pruned scan itself,
    and per-doc parts fold in sorted term order so the score is
    partition-order independent. Scan cost follows the probed terms'
    document frequencies, never corpus size."""
    import tempfile

    from symtseries_spark.sources import (
        read_postings_topk,
        write_postings_index,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="postings_at_rest_") + "/index"
    write_postings_index(docs, path, num_buckets=32)
    return read_postings_topk(
        spark, path, BM25["terms"], topk=BM25["topk"], num_buckets=32
    )


def q_events_dtw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact banded-DTW top-k user similarity search with LB_Keogh
    admissible pruning (operators/dtw.py; Keogh & Ratanamahatana 2005
    / UCR-suite shape): per-user 24-slot hourly mean profiles
    (1e-6-quantized -> DP inputs bit-identical across engines), DP as
    one zero-Python anti-diagonal JVM fold, scan-stage envelope lower
    bound, exact refine only of candidates the bound cannot exclude.
    The DuckDB twin brute-forces the DP over EVERY user (recursive
    CTE walking the same diagonals), so each driver run re-proves the
    prune returns the exact answer — admissibility as a standing
    correctness gate, not a one-off test. Query series = lowest
    user_id's profile (bounded 1-row driver action)."""
    from symtseries_spark.operators.dtw import dtw_topk, hourly_profile

    events = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    prof = hourly_profile(events)
    q = prof.orderBy("key").limit(1).first()["x"]
    return dtw_topk(prof, list(q), k=10, band=3)


def q_events_dtw_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING similarity monitor — the streaming-matrix row for the
    DTW family: hourly profiles accumulate as live aggregation state
    (complete-mode groupBy(user, hour) carrying exact (sum, count)
    pairs — state is bounded at |users| x 24 however long the stream
    runs), and after the replay the SAME banded-DTW top-k search runs
    over the final state. The time-split two-batch replay proves the
    carried-state path; the 1e-6 profile quantization absorbs the
    summation-order difference between micro-batch and batch
    aggregation, so the query shares events_dtw_topk's batch oracle
    verbatim (the standing stream-twin convention)."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.operators.dtw import dtw_topk

    events = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    mid = events.agg(F.expr("percentile(ts, 0.5)")).first()[0]
    half = (F.col("ts") > mid).cast("int").alias("__bid")
    tmp = tempfile.mkdtemp(prefix="dtw_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    events.withColumn("__bid", half).coalesce(1).write.partitionBy(
        "__bid"
    ).parquet(staged)
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    hour = F.expr("((ts div 1000) div 3600000000) % 24")
    state = (
        stream.select(
            F.col("user_id").alias("key"),
            hour.alias("__h"),
            F.col("value").cast("double").alias("__v"),
        )
        .groupBy("key", "__h")
        .agg(F.sum("__v").alias("__s"), F.count("*").alias("__c"))
    )
    name = f"dtw_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            state.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="dtw_chk_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    per = spark.table(name).select(
        "key",
        "__h",
        (F.floor(F.col("__s") / F.col("__c") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "__v"
        ),
    )
    prof = per.groupBy("key").agg(
        F.array(
            *[
                F.coalesce(
                    F.max(F.when(F.col("__h") == h, F.col("__v"))),
                    F.lit(0.0),
                )
                for h in range(24)
            ]
        ).alias("x")
    )
    qs = prof.orderBy("key").limit(1).first()["x"]
    return dtw_topk(prof, list(qs), k=10, band=3)


def q_events_frechet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fréchet (bottleneck alignment) top-k over the same
    hourly profiles as events_dtw_topk (operators/dtw.py
    frechet_topk): identical anti-diagonal DP with ``greatest`` in
    place of ``+``, pruned by the max-envelope-violation bound (the
    max-aggregation analogue of LB_Keogh — a path visits every index,
    so its bottleneck cost is at least the worst per-index envelope
    violation). Oracle = brute-force DP over every key, re-proving
    admissibility per driver run."""
    from symtseries_spark.operators.dtw import frechet_topk, hourly_profile

    events = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    prof = hourly_profile(events)
    q = prof.orderBy("key").limit(1).first()["x"]
    return frechet_topk(prof, list(q), k=10, band=3)


def q_text_phrase_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search served off the SAME at-rest positional
    postings the BM25 probe uses (sources read_phrase_match): the
    phrase occurs at p iff p ∈ P1 ∩ (P2−1), a chain of
    array_intersect over per-term position lists from the pruned scan
    — document text is never read at query time. The probe phrase is
    the lowest-id document's first two tokens (a bounded 1-row driver
    action, the lsh_at_rest probe-derivation convention), so ≥ 1
    occurrence is guaranteed at every SF."""
    import re
    import tempfile

    from symtseries_spark.sources import (
        read_phrase_match,
        write_postings_index,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="phrase_at_rest_") + "/index"
    write_postings_index(docs, path, num_buckets=32)
    first = docs.orderBy("doc_id").select("text").first()["text"]
    toks = [t for t in re.split(r"[^a-z0-9]+", first.lower()) if t]
    return read_phrase_match(spark, path, toks[:2], num_buckets=32)


def q_emb_kmeanspar_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete Bahmani k-means|| pipeline (operators/cluster.py
    kmeans_parallel_assign): weighted candidates -> tiny-table
    weighted Lloyd recluster down to k centroids (seeds = k lowest-id
    candidates, means weighted by candidate mass, 1e-6-quantized per
    round) -> one broadcast nearest-centroid corpus assignment.
    Corpus cost = rounds+2 scans total; the recluster itself touches
    only the kilobyte candidate table."""
    from symtseries_spark.operators.cluster import kmeans_parallel_assign

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_parallel_assign(
        emb, k=8, dim=64, rounds=3, recluster_iters=2
    )


def q_emb_kmeanspar_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| scalable init (operators/cluster.py
    kmeans_parallel_init; Bahmani et al. 2012): rounds of independent
    per-row D²-proportional oversampling replace k-means++'s k
    sequential passes — rounds+1 broadcast corpus scans, no corpus
    shuffle. Deterministic md5-rational u, integer-micro-unit phi
    (exact cross-engine sums), single-multiply-per-side selection
    test; output = candidate centers weighted by nearest-corpus
    counts, ready for the local k-means++ recluster."""
    from symtseries_spark.operators.cluster import kmeans_parallel_init

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_parallel_init(emb, k=8, dim=64, rounds=3)


def q_media_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe-level near-dup across media (operators/multimodal.py
    frame_dedup_pairs): per-frame packed dHash, candidates bucketed by
    (frame_no, band, chunk) — the frame offset rides in the bucket key
    — refined by bit_count, counted per media pair. The planted twins
    differ only in byte 0, so every aligned frame pair past frame 0
    matches at hamming 0 — the "same clip re-encoded" signature a
    video pipeline hunts."""
    from symtseries_spark.operators.multimodal import (
        frame_dedup_pairs,
        media_from_documents,
    )

    return frame_dedup_pairs(
        media_from_documents(_dhash_twin_docs(spark, sf_dir)),
        frame_size=FRAME["frame_size"],
        every_n=FRAME["every_n"],
        max_hamming=FRAME_DEDUP_HAM,
        max_bucket=DHASH_BUCKET_CAP,
    )


def q_media_frame_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-level dedup from frame evidence: media pairs sharing >= 2
    aligned near-identical frames (media_frame_dedup's output) become
    edges; connected components collapse re-encodes of the same clip
    onto a canonical media id. The dedup_clusters endgame applied to
    the frame-match graph."""
    from symtseries_spark.operators.graph import connected_components
    from symtseries_spark.operators.multimodal import (
        frame_dedup_pairs,
        media_from_documents,
    )

    all_docs = _dhash_twin_docs(spark, sf_dir)
    pairs = frame_dedup_pairs(
        media_from_documents(all_docs),
        frame_size=FRAME["frame_size"],
        every_n=FRAME["every_n"],
        max_hamming=FRAME_DEDUP_HAM,
        max_bucket=DHASH_BUCKET_CAP,
    ).where(F.col("n_matched") >= 2).select("media_a", "media_b")
    verts = all_docs.where(F.length("text") > 0).select(
        F.col("doc_id").alias("v")
    )
    cc = connected_components(pairs, verts, src="media_a", dst="media_b")
    sizes = cc.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        cc.join(sizes, "canonical_id")
        .where(F.col("cluster_size") > 1)
        .select(
            F.col("v").alias("media_id"),
            "canonical_id",
            "cluster_size",
            (F.col("v") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def q_events_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DQ battery on the EVENT stream's table (operators/dq.py
    audit): timestamp window bounds (epoch-day within the corpus's
    crawl month), enum conformance on event_type, non-negative value
    rate, user completeness, props-shape conformance, and event_id
    key distinctness — one combinable aggregation pass, same engine
    as docs_dq_audit on a second schema."""
    from symtseries_spark.operators.dq import (
        audit,
        check_completeness,
        check_distinctness,
        check_in_set,
        check_max,
        check_min,
        check_predicate,
        check_regex,
    )

    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.expr("(ts div 1000) div 86400000000")
    )
    return audit(
        ev,
        [
            check_completeness("user_id"),
            check_distinctness("event_id"),
            check_min("day", 19700.0),
            check_max("day", 19760.0),
            check_in_set(
                "event_type", ["click", "error", "purchase", "signup", "view"]
            ),
            check_predicate(
                "non_negative", "value", F.col("value") >= 0, 1.0
            ),
            check_regex("props", r"^\{", 1.0),
        ],
    )


def q_emb_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF search (operators/simsearch.py ivf_topk_batch) —
    the production shape: every 50th vector is a query and the WHOLE
    batch rides one plan (one corpus scan, per-query partitioned
    windows, broadcast |queries| x nprobe probe table) instead of a
    per-query driver loop. The batch scales with SF (10 queries at
    sf0.001, 1000 at sf0.1) while corpus passes stay constant."""
    from symtseries_spark.operators.simsearch import ivf_topk_batch

    vec = load(spark, sf_dir, "embeddings")
    return ivf_topk_batch(
        vec,
        vec.where(F.col("vec_id") % 50 == 3),
        k=5,
        num_lists=IVF["num_lists"],
        nprobe=2,
        dim=EMB_DIM,
    )


def q_docs_ingest_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 capstone — the incremental-ingest funnel a pipeline
    runs on every new batch, composing this round's pieces in
    precedence order: (1) row-level DQ gate (chars_match ∧ lang
    in-set ∧ leading non-space — the docs_dq_audit rules applied
    per row), (2) exact dedup against the standing corpus (md5
    anti-join), (3) near-dup against the corpus (banded MinHash
    cross-side join, never incoming x corpus brute force), (4) admit.
    The batch PLANTS all three failure modes: corrupted n_chars
    (doc_id % 13), verbatim resubmissions (% 11), perturbed relistings
    (% 10). Output: per-source (n_incoming, n_dq_fail, n_exact_dup,
    n_near_dup, n_admitted). Incoming-vs-incoming near-dups are
    deliberately NOT flagged (the gate protects the corpus; intra-
    batch dedup is the batch family's job)."""
    from symtseries_spark.operators.dedup import minhash_lsh_pairs

    OFF = DHASH_TWIN_OFF
    base = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    old = base.where(F.col("doc_id") % 5 != 4)
    new_docs = base.where(F.col("doc_id") % 5 == 4).select(
        (F.col("doc_id") + F.lit(3 * OFF)).alias("doc_id"),
        "text",
        "lang",
        "source",
        F.when(F.col("doc_id") % 13 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    resub = base.where(
        (F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 5 != 4)
    ).select(
        (F.col("doc_id") + F.lit(2 * OFF)).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    relist = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(OFF)).alias("doc_id"),
        F.concat(F.lit("relisted "), F.col("text")).alias("text"),
        "lang",
        "source",
        F.length(F.concat(F.lit("relisted "), F.col("text"))).alias(
            "n_chars"
        ),
    )
    incoming = new_docs.unionByName(resub).unionByName(relist)
    dq_ok = (
        (F.length("text") == F.col("n_chars"))
        & F.col("lang").isin("de", "en", "es", "fr", "zh")
        & F.col("text").rlike(r"^\S")
    )
    old_hashes = old.select(F.md5("text").alias("__h")).distinct()
    flagged = incoming.withColumn("__dq", dq_ok).join(
        old_hashes.withColumn("__exact", F.lit(True)),
        F.md5(incoming["text"]) == old_hashes["__h"],
        "left",
    )
    pool = old.select("doc_id", "text").unionByName(
        incoming.select("doc_id", "text")
    )
    pairs = minhash_lsh_pairs(pool, **MINHASH)
    cross = pairs.where(
        (F.col("doc_a") >= OFF) != (F.col("doc_b") >= OFF)
    ).select(
        F.when(F.col("doc_a") >= OFF, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id")
    ).distinct().withColumn("__near", F.lit(True))
    return (
        flagged.join(cross, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_incoming"),
            F.sum((~F.col("__dq")).cast("long")).alias("n_dq_fail"),
            F.sum(
                (F.col("__dq") & F.col("__exact").isNotNull()).cast("long")
            ).alias("n_exact_dup"),
            F.sum(
                (
                    F.col("__dq")
                    & F.col("__exact").isNull()
                    & F.col("__near").isNotNull()
                ).cast("long")
            ).alias("n_near_dup"),
            F.sum(
                (
                    F.col("__dq")
                    & F.col("__exact").isNull()
                    & F.col("__near").isNull()
                ).cast("long")
            ).alias("n_admitted"),
        )
    )


def q_events_zorder_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering lifecycle (sources/__init__.py
    write_zordered — the Delta/Iceberg OPTIMIZE ZORDER BY idea as a
    plain parquet layout): events are written range-partitioned +
    sorted on the Morton key over (user_id, day), so every file's
    footer min/max band is tight on BOTH columns at once, then a 2-D
    predicate (user range AND day range) reads the layout back — the
    query shape single-column range clustering cannot prune (the
    curve-vs-linear candidate-file counts are asserted in
    tests/test_sources.py). Result = the filtered per-type profile,
    oracle-twinned against the raw table."""
    import tempfile

    from symtseries_spark.sources import write_zordered

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("(ts div 1000) div 86400000000").alias("day"),
        "event_type",
        "event_id",
    )
    path = tempfile.mkdtemp(prefix="zorder_at_rest_") + "/events"
    write_zordered(
        ev,
        path,
        cluster_cols=["user_id", "day"],
        target_rows_per_file=2048,
        bits=16,
    )
    back = spark.read.parquet(path).where(
        (F.col("user_id").between(2, 9))
        & (F.col("day").between(19730, 19737))
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("day").alias("n_days"),
        F.min("event_id").alias("min_event_id"),
    )


def q_docs_dq_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_dq_audit as a LIVE ingest monitor: the whole constraint
    battery (minus distinctness — a streaming exact distinct is keyed
    state, the dedup family's job; see dedup_exact_stream) runs as
    ONE complete-mode global aggregation on the stream — state is the
    single partial-aggregate row, bounded by the CHECK COUNT, not the
    stream — and the stack unpivot + pass/fail projection ride on the
    agg output, so a dashboard reads per-check conformance at any
    micro-batch. Documents replay in two micro-batches to prove
    cross-batch accumulation; the final metrics equal the batch
    audit's exactly, so the oracle is the batch SQL minus the
    distinctness row."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.operators.dq import (
        audit,
        check_completeness,
        check_in_set,
        check_max,
        check_min,
        check_predicate,
        check_regex,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    half = (F.col("doc_id") > mid).cast("int").alias("__bid")
    tmp = tempfile.mkdtemp(prefix="dq_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    docs.withColumn("__bid", half).coalesce(1).write.partitionBy(
        "__bid"
    ).parquet(staged)
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    out = audit(
        stream,
        [
            check_completeness("text"),
            check_completeness("lang"),
            check_min("n_chars", 1.0),
            check_max("n_chars", 20000.0),
            check_in_set("lang", ["de", "en", "es", "fr", "zh"]),
            check_regex("text", r"^\S", 0.99),
            check_predicate(
                "chars_match",
                "n_chars",
                F.length("text") == F.col("n_chars"),
            ),
        ],
    )
    name = f"dq_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="dq_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name)


def q_docs_lsh_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-rest LSH index lifecycle for TEXT — completing the at-rest
    matrix (dhash=perceptual, IVF=embeddings, iSAX=series): write the
    MinHash band index as band=<b>/ directories with band_key-
    clustered files (sources/__init__.py:write_lsh_index), then probe
    ONE incoming document (a perturbed re-crawl of doc 0) against the
    stored corpus — its 8 (band, band_key) pairs prune the scan to
    matching directories/files before any row is read, and survivors
    refine by signature agreement (sources read_lsh_probe). The
    ingest-time near-dup gate a pipeline runs per new batch WITHOUT
    rebuilding the corpus join. Probe signature derivation is a
    bounded 1-row driver action (the probe document itself)."""
    import tempfile

    from symtseries_spark.operators.dedup import minhash_signatures
    from symtseries_spark.sources import read_lsh_probe, write_lsh_index

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="lsh_at_rest_") + "/index"
    write_lsh_index(
        docs,
        path,
        k=MINHASH["k"],
        num_hashes=MINHASH["num_hashes"],
        bands=MINHASH["bands"],
        seed=MINHASH["seed"],
    )
    probe_doc = docs.where(F.col("doc_id") == 0).select(
        F.lit(0).alias("doc_id"),
        F.concat(F.lit("relisted "), F.col("text")).alias("text"),
    )
    nh, bands = MINHASH["num_hashes"], MINHASH["bands"]
    r = nh // bands
    sig_row = minhash_signatures(
        probe_doc,
        k=MINHASH["k"],
        num_hashes=nh,
        seed=MINHASH["seed"],
    ).first()
    probe_sig = [int(sig_row[f"m{i}"]) for i in range(nh)]
    probe_bands = [
        "_".join(str(probe_sig[b * r + j]) for j in range(r))
        for b in range(bands)
    ]
    return read_lsh_probe(
        spark,
        path,
        probe_bands,
        probe_sig,
        threshold=MINHASH["threshold"],
    )


def q_media_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup gate through a REAL stream — the streaming
    matrix's first media row (streaming/media.py
    streaming_dhash_dedup): payloads arrive in id order across 2
    micro-batches (originals, then the planted near-twins); the dHash
    is a scan-stage JVM projection on the stream, and per-(band,
    chunk) bucket state holds ONE (claimant id, claimant dhash) pair
    — an arrival is flagged iff any bucket's earlier claimant is
    within DHASH_HAM, the exact bit_count refine running in the
    handler. Verdict = min(dup_of) over bands."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.streaming.media import streaming_dhash_dedup

    docs = _dhash_twin_docs(spark, sf_dir)
    mx = docs.agg(F.max("doc_id")).first()[0]
    bid = (
        F.floor(F.col("doc_id") * 2 / (mx + 1)).cast("long").alias("__bid")
    )
    tmp = tempfile.mkdtemp(prefix="mdhash_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    docs.withColumn("__bid", bid).coalesce(1).write.partitionBy(
        "__bid"
    ).parquet(staged)
    batch_dirs = sorted(
        globmod.glob(f"{staged}/__bid=*"),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    t0 = 1_000_000_000
    for i, d in enumerate(batch_dirs):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    # hash-sharded state (r13): identical output (shard maps keep exact
    # (band, chunk) keys, same media_id batch order) — the minhash
    # shard rule; per-bucket handler round-trips were the addBatch floor
    per_band = streaming_dhash_dedup(
        media_from_documents(stream),
        max_hamming=DHASH_HAM,
        bands=DHASH_BANDS,
        shard_state=64,
    )
    name = f"mdhash_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark, n=8):
        q = (
            per_band.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="mdh_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return (
        spark.table(name)
        .groupBy("media_id")
        .agg(F.min("dup_of").alias("dup_of"))
        .select(
            "media_id",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_duplicate"),
        )
    )


def q_docs_snapshot_relink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware snapshot linkage: after a corpus refresh, docs
    the id-keyed diff calls REMOVED often reappear as ADDED under a
    NEW id (moved URL, re-crawled mirror). Link each removed doc to
    its best near-duplicate successor via the banded MinHash join
    (operators/dedup.py minhash_lsh_pairs over the removed ∪ added
    pool, cross-side pairs only, best match per removed id) — LSH
    bucket costs, never a removed × added brute-force product. Uses
    snapshot_diff's id split (removed = doc_id % 5 == 0, added =
    doc_id % 5 == 4) and PLANTS relistings (every doc_id % 10 == 0
    doc re-ingested with a perturbed prefix at id + DHASH_TWIN_OFF)
    so the linkage has live rows at every SF."""
    from symtseries_spark.operators.dedup import minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    removed = docs.where(F.col("doc_id") % 5 == 0)
    added = docs.where(F.col("doc_id") % 5 == 4)
    relisted = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(DHASH_TWIN_OFF)).alias("doc_id"),
        F.concat(F.lit("relisted "), F.col("text")).alias("text"),
    )
    pool = removed.unionByName(added).unionByName(relisted)
    pairs = minhash_lsh_pairs(pool, **MINHASH)
    ra = (F.col("doc_a") < DHASH_TWIN_OFF) & (F.col("doc_a") % 5 == 0)
    rb = (F.col("doc_b") < DHASH_TWIN_OFF) & (F.col("doc_b") % 5 == 0)
    cross = pairs.where(ra != rb).select(
        F.when(ra, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "removed_id"
        ),
        F.when(ra, F.col("doc_b")).otherwise(F.col("doc_a")).alias("new_id"),
        "est_jaccard",
    )
    best = (
        cross.groupBy("removed_id")
        .agg(
            F.max(
                F.struct(
                    F.col("est_jaccard").alias("e"),
                    (-F.col("new_id")).alias("ni"),
                )
            ).alias("m")
        )
        .select(
            "removed_id",
            (-F.col("m.ni")).alias("new_id"),
            F.col("m.e").alias("est_jaccard"),
        )
    )
    return best


def q_docs_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality audit (operators/dq.py
    audit; Schelter et al. 2018 §3.1): the ingest gate a pipeline
    runs on every batch BEFORE dedup/filtering — completeness,
    key-distinctness, bounds, enum/regex conformance, and a
    cross-column rule (n_chars == length(text)), ALL compiled into
    ONE map-side-combinable aggregation pass over a single scan,
    then unpivoted driver-free into one row per check."""
    from symtseries_spark.operators.dq import (
        audit,
        check_completeness,
        check_distinctness,
        check_in_set,
        check_max,
        check_min,
        check_predicate,
        check_regex,
    )

    docs = load(spark, sf_dir, "documents")
    return audit(
        docs,
        [
            check_completeness("text"),
            check_completeness("lang"),
            check_distinctness("doc_id"),
            check_min("n_chars", 1.0),
            check_max("n_chars", 20000.0),
            check_in_set("lang", ["de", "en", "es", "fr", "zh"]),
            check_regex("text", r"^\S", 0.99),
            check_predicate(
                "chars_match",
                "n_chars",
                F.length("text") == F.col("n_chars"),
            ),
        ],
    )


def q_tpch_dq_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the warehouse's FK edges
    (operators/dq.py referential_orphans): per edge, child rows whose
    key has no parent + null keys. The sixth edge audits a DEGRADED
    parent (customers with c_custkey % 10 == 3 dropped) so the audit
    demonstrably catches a broken ingest, not just confirms intact
    ones. Children project key-only; parents reduce to distinct key
    sets (combinable) before the join; dimension-sized parents
    broadcast under AQE."""
    from symtseries_spark.operators.dq import referential_orphans

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    degraded = customer.where(F.col("c_custkey") % 10 != 3)
    return referential_orphans(
        [
            ("orders->customer", orders, "o_custkey", customer, "c_custkey"),
            ("lineitem->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
            ("customer->nation", customer, "c_nationkey", nation, "n_nationkey"),
            ("supplier->nation", supplier, "s_nationkey", nation, "n_nationkey"),
            ("nation->region", nation, "n_regionkey", region, "r_regionkey"),
            (
                "orders->customer_degraded",
                orders,
                "o_custkey",
                degraded,
                "c_custkey",
            ),
        ]
    )


def q_docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus refresh audit (operators/pipeline.py snapshot_diff):
    simulate two crawl snapshots from the corpus (old = doc_id % 5
    != 4; new = doc_id % 5 != 0, with docs at doc_id % 7 == 3
    re-crawled with perturbed content), diff them by id + content
    hash, and report per-source added/removed/modified/unchanged
    counts — the gate that decides which docs re-enter the dedup
    pipeline after a refresh. Text reduces to md5 at the scan stage;
    one id-keyed full-outer join."""
    from symtseries_spark.operators.pipeline import snapshot_diff

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    old = docs.where(F.col("doc_id") % 5 != 4)
    new = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.lit("recrawled "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    d = snapshot_diff(old, new)
    return (
        d.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum((F.col("status") == "added").cast("long")).alias("n_added"),
            F.sum((F.col("status") == "removed").cast("long")).alias(
                "n_removed"
            ),
            F.sum((F.col("status") == "modified").cast("long")).alias(
                "n_modified"
            ),
            F.sum((F.col("status") == "unchanged").cast("long")).alias(
                "n_unchanged"
            ),
        )
    )


def q_docs_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level dedup (operators/dedup.py line_dedup): discard
    duplicate lines corpus-wide, keep-one (Raffel et al. 2020 §2.2) —
    the grain between exact-doc dedup and the token-window family.
    Unique-owner plan (one combinable min-struct groupBy, no window
    sort, no join-back); md5-keyed shuffle per the hash_spans
    convention."""
    from symtseries_spark.operators.dedup import line_dedup

    return line_dedup(
        load(spark, sf_dir, "documents"), sep=LINE_SEP, hash_lines=True
    )


def q_docs_exact_substring_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ExactSubstr REMOVAL (operators/dedup.py exact_substring_dedup):
    Lee et al. 2022 remove, not report — each duplicated stride-1
    window keeps its first (doc_id, pos) occurrence and is cut
    everywhere else; clean_text is the surviving tokens. The operator
    a real pipeline runs after measuring docs_exact_substring's
    dup_frac; md5-keyed shuffle (hash_windows) per the hash_spans
    convention."""
    from symtseries_spark.operators.dedup import exact_substring_dedup

    return exact_substring_dedup(
        load(spark, sf_dir, "documents"),
        window_tokens=EXSUB_TOKENS,
        hash_windows=True,
    )


def q_docs_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplication stats on stride-1 overlapping
    token windows (operators/dedup.py exact_substring_stats) —
    verbatim passages at ANY alignment, the case span_dedup's aligned
    cuts miss; skew-immune unique-owner plan (no join-back);
    md5-keyed shuffle (hash_windows — the window text is key-only,
    so zero text crosses the wire)."""
    from symtseries_spark.operators.dedup import exact_substring_stats

    return exact_substring_stats(
        load(spark, sf_dir, "documents"),
        window_tokens=EXSUB_TOKENS,
        hash_windows=True,
    )


def q_docs_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher n-gram repetition battery (Rae et al. 2021 A1.1, word-
    n-gram form): per-doc top-{2,3,4}-gram character mass and
    duplicate-{5,10}-gram position fractions
    (operators/retrieval.py gopher_repetition) — the n-gram half of
    the quality battery; docs_repetition is the unigram half."""
    from symtseries_spark.operators.retrieval import gopher_repetition

    return gopher_repetition(
        load(spark, sf_dir, "documents"), hash_grams=True
    )


def q_docs_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition gates APPLIED as a per-source keep-rate
    report: a doc survives when every n-gram repetition signal is
    under its threshold (top2 < 0.20, top3 < 0.18, top4 < 0.16,
    dup5 < 0.15, dup10 < 0.10 — the published Gopher bounds). One
    scan-stage metric pass joined back to (doc_id, source), then a
    combinable per-source aggregate."""
    from symtseries_spark.operators.retrieval import gopher_repetition

    docs = load(spark, sf_dir, "documents")
    m = gopher_repetition(docs, hash_grams=True)
    keep = (
        (F.col("top2_frac") < 0.20)
        & (F.col("top3_frac") < 0.18)
        & (F.col("top4_frac") < 0.16)
        & (F.col("dup5_frac") < 0.15)
        & (F.col("dup10_frac") < 0.10)
    )
    return (
        docs.select("doc_id", "source")
        .join(m, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep.cast("long")).alias("n_keep"),
            F.round(
                F.sum(keep.cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("keep_rate"),
        )
    )


def q_docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    3-grams with the held-out benchmark slice (doc_id % 97 == 0).
    Benchmark shingle set is broadcast; the corpus is scanned once and
    never shuffled on the shingle key (operators/decontam.py)."""
    from symtseries_spark.operators.decontam import benchmark_contamination

    docs = load(spark, sf_dir, "documents")
    mod = F.col("doc_id") % DECONTAM["bench_mod"]
    return benchmark_contamination(
        docs.where(mod != 0), docs.where(mod == 0), k=DECONTAM["k"]
    )


def q_docs_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep overlapping token chunking (16-token windows, stride
    12) with per-chunk offsets — pure scan-stage posexplode, no shuffle
    (operators/pipeline.py:chunk_documents)."""
    from symtseries_spark.operators.pipeline import chunk_documents

    out = chunk_documents(load(spark, sf_dir, "documents"), **CHUNK)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_token").cast("long").alias("start_token"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "chunk_text",
    )


def q_docs_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/sensitive-pattern scrub pass: per-pattern hit counts plus the
    redacted text, all JVM-side regex inside the scan
    (operators/pipeline.py:pattern_scrub)."""
    from symtseries_spark.operators.pipeline import pattern_scrub

    return pattern_scrub(load(spark, sf_dir, "documents"), SCRUB_PATTERNS)


def q_docs_unigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (CCNet-style perplexity proxy): corpus
    term table broadcast, per-doc mean token log-probability
    (operators/retrieval.py:unigram_logprob)."""
    from symtseries_spark.operators.retrieval import unigram_logprob

    return unigram_logprob(load(spark, sf_dir, "documents"))


def q_docs_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank the
    corpus by the unigram-LM score and split into head/middle/tail
    terciles — the standard quality-tier assignment a pretraining mix
    consumes. Tercile cuts are integer comparisons (rank*3 vs total),
    no division rounding anywhere; rank ties break on doc_id. The rank
    is the DISTRIBUTED exact two-pass form (operators/rank.py: bucket
    by approxQuantile bounds -> broadcast prefix offsets -> per-bucket
    window), bit-identical to the global window the DuckDB oracle
    runs, with no single-partition sort; the total falls out of the
    count pass as a plan literal (no crossJoin count)."""
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.operators.rank import ranked_with_total
    from symtseries_spark.operators.retrieval import unigram_logprob

    # Persist the NARROW per-doc score table (doc_id + one double —
    # no text) across the rank's two count-pass actions and the final
    # job, so the corpus-explode unigram LM fit runs once, not twice.
    # Tracked: bench / oracle harnesses unpersist after the query
    # drains. Rank-key precondition: unigram_logprob emits one row per
    # doc with avg_logprob = sum/count over n_tokens >= 1 tokens
    # (every doc contributes its own unigrams, so the count is never
    # 0) — non-null/non-NaN by construction, which the rank's count
    # pass re-verifies at runtime.
    lp = persist_tracked(unigram_logprob(load(spark, sf_dir, "documents")))
    rk, n_docs = ranked_with_total(
        lp,
        "avg_logprob",
        tiebreak="doc_id",
        out="__rk",
        descending=True,
    )
    return rk.select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("__rk") * 3 <= F.lit(n_docs), "head")
        .when(F.col("__rk") * 3 <= F.lit(n_docs) * 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


def q_docs_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing diagnostic: per-doc OOV rate against the
    top-16-term fitted vocabulary (operators/pipeline.py:vocab_coverage;
    vocab cut is a TakeOrderedAndProject, probe side broadcast)."""
    from symtseries_spark.operators.pipeline import vocab_coverage

    return vocab_coverage(load(spark, sf_dir, "documents"), **VOCAB)


def q_docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-reweighting sampler: per-source deterministic Bernoulli
    keep rates (operators/pipeline.py:mixture_sample) — a pure
    scan-stage filter, no shuffle, no sampling state."""
    from symtseries_spark.operators.pipeline import mixture_sample

    kept = mixture_sample(
        load(spark, sf_dir, "documents"), MIX_RATES, default_rate=MIX_DEFAULT
    )
    return kept.select("doc_id", "lang", "source")


MIX_TEMP = 0.7
MIX_BUDGET_TOKENS = 100_000


def q_docs_mixture_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual-sampling
    rule of XLM-R / mT5: sampling weight proportional to corpus share
    ^ (1/T), T < 1 upweights small sources): per source, token count,
    share, the T=0.7 normalized weight, and the expected EPOCHS over
    that source at a fixed token budget — the table a data-mixture
    decision reads. Deterministic across engines: every ratio/pow is
    rounded to 6 before feeding the next stage. One combinable
    groupBy(source) + two broadcast 1-row totals."""
    from symtseries_spark.functions.text import token_count

    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens")
    )
    tot = per_src.agg(F.sum("n_tokens").cast("double").alias("__tot"))
    shared = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("__tot"), 6).alias("share"),
    )
    raw_w = F.round(
        F.pow(F.col("share"), F.lit(1.0 / MIX_TEMP)), 6
    ).alias("__w")
    weighted = shared.select("source", "n_tokens", "share", raw_w)
    wsum = weighted.agg(F.sum("__w").alias("__ws"))
    return weighted.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_tokens",
        "share",
        F.round(F.col("__w") / F.col("__ws"), 6).alias("temp_weight"),
        F.round(
            F.lit(float(MIX_BUDGET_TOKENS))
            * F.round(F.col("__w") / F.col("__ws"), 6)
            / F.col("n_tokens"),
            6,
        ).alias("epochs"),
    )


def q_dedup_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH banding S-curve (MMDS ch.3 planning table) for
    the registered (bands, rows) = ({bands}, {rows}) layout: per
    Jaccard similarity s on a 0.05 grid, the single-band collision
    probability s^r and the candidate probability 1 - (1 - s^r)^b.
    The design table behind MINHASH's banding choice — pairs at the
    dedup threshold should sit on the steep part of the curve.
    Grid-bounded literal compute, rounded like every other
    cross-engine pow.""".format(
        bands=MINHASH["bands"],
        rows=MINHASH["num_hashes"] // MINHASH["bands"],
    )
    b = MINHASH["bands"]
    r = MINHASH["num_hashes"] // b
    grid = [round(0.05 * i, 2) for i in range(1, 20)]
    d = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in grid])).alias("s")
    )
    p_band = F.round(F.pow(F.col("s"), F.lit(float(r))), 6)
    return d.select(
        "s",
        p_band.alias("p_band"),
        F.round(
            F.lit(1.0) - F.pow(F.lit(1.0) - p_band, F.lit(float(b))), 6
        ).alias("p_candidate"),
    )


def q_docs_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order via the two-pass
    shard-offset pattern (operators/pipeline.py:global_order_index) —
    the scalable form of row_number() OVER (ORDER BY hash), which the
    DuckDB oracle runs literally."""
    from symtseries_spark.operators.pipeline import global_order_index

    docs = load(spark, sf_dir, "documents")
    return global_order_index(docs, shards=64).select("doc_id", "train_order")


def q_emb_ivf_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-rest IVF index lifecycle: write embeddings partitioned by
    coarse list (list_id=<n>/ directories + _centroids side table), then
    probe the stored index at FULL nprobe — partition pruning reads only
    probed directories (asserted in tests at partial probe); full probe
    makes the result provably the exact brute-force top-k, which the
    DuckDB twin recomputes as such (sources/__init__.py:
    write_ivf_partitioned / read_ivf_probe)."""
    import tempfile

    from symtseries_spark.sources import read_ivf_probe, write_ivf_partitioned

    emb = load(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == IVF["query_id"])
        .select("embedding")
        .first()[0]
    ]
    path = tempfile.mkdtemp(prefix="ivf_at_rest_") + "/index"
    write_ivf_partitioned(
        emb, path, num_lists=IVF["num_lists"], dim=EMB_DIM
    )
    return read_ivf_probe(
        spark,
        path,
        qvec,
        k=IVF["k"],
        nprobe=IVF["num_lists"],
        exclude_id=IVF["query_id"],
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact dedup: the second half of the corpus (by id)
    arrives as the incoming batch and is admitted only if its content
    hash is absent from the first half AND not seen earlier in-batch
    (operators/dedup.py:incremental_dedup — historical corpus consulted
    as a distinct-hash table, never rescanned as text)."""
    from symtseries_spark.operators.dedup import incremental_dedup

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    split_id = int(mid)
    return incremental_dedup(
        docs.where(F.col("doc_id") >= split_id),
        docs.where(F.col("doc_id") < split_id),
    )


def q_docs_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-20 adjacent token pairs by PMI —
    exact integer counts in, closed-form float out, so the oracle is
    bit-exact by construction (operators/retrieval.py:pmi_bigrams)."""
    from symtseries_spark.operators.retrieval import pmi_bigrams

    return pmi_bigrams(load(spark, sf_dir, "documents"), topk=20)


def q_events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD anomaly detection per user series — the
    outlier detector a single earlier spike cannot poison (mean/sigma
    z-scores inflate sigma and mask later anomalies). Exact medians via
    sorted frame arrays in ONE WindowExec pass
    (operators/timeseries.py:mad_zscore)."""
    from symtseries_spark.operators.timeseries import mad_zscore

    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    z = mad_zscore(
        ev, key="user_id", order=["ts_us", "event_id"], value="value",
        window=MAD_P["window"],
    )
    return z.where(F.abs(F.col("rzscore")) >= MAD_P["threshold"]).select(
        "user_id", "event_id", "n_window", "rzscore"
    )


def q_events_anomaly_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-ensemble capstone: events flagged by >= 2 of the three
    registered monitors — rolling z (|z| >= 3), robust MAD z
    (|rz| >= 3.5), CUSUM alarm -> (user_id, event_id, detectors,
    n_detectors) with a 1/2/4 bitmask. The standard production pattern
    (single detectors false-positive on their own blind spots; the
    mean-based z inflates sigma after a spike exactly where MAD does
    not). All three legs are the operators' own single-shuffle plans
    over the same series partitioning; the vote is one more combinable
    groupBy."""
    from symtseries_spark.operators import cusum, rolling_zscore
    from symtseries_spark.operators.timeseries import mad_zscore

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    kw = dict(key="user_id", order=["ts_us", "event_id"], value="value")
    z = (
        rolling_zscore(ev, window=ANOM_WINDOW, **kw)
        .where(F.abs(F.col("zscore")) >= ANOM_THRESHOLD)
        .select("user_id", "event_id", F.lit(1).alias("b"))
    )
    m = (
        mad_zscore(ev, window=MAD_P["window"], **kw)
        .where(F.abs(F.col("rzscore")) >= MAD_P["threshold"])
        .select("user_id", "event_id", F.lit(2).alias("b"))
    )
    c = (
        cusum(ev, **CUSUM_P, **kw)
        .where(F.col("alarm"))
        .select("user_id", "event_id", F.lit(4).alias("b"))
    )
    return (
        z.unionByName(m)
        .unionByName(c)
        .groupBy("user_id", "event_id")
        .agg(
            F.sum("b").alias("detectors"),
            F.count(F.lit(1)).alias("n_detectors"),
        )
        .where(F.col("n_detectors") >= 2)
    )


def q_events_hll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL: distinct users per event type estimated through
    the deterministic md5 register sketch, reported beside the exact
    count-distinct with per-group relative error
    (operators/sketches.py:hll_grouped) — the sketch the way
    production uses it, as a grouped aggregate that merges by max
    across shards."""
    from symtseries_spark.operators.sketches import hll_grouped

    return hll_grouped(
        load(spark, sf_dir, "events"),
        group="event_type", col="user_id", p=HLL_P,
    )


def q_events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard of the USER SETS behind each
    event-type pair -> (type_a, type_b, n_common, n_a, n_b, jaccard).
    The segmentation sanity check (near-1 pairs are the same audience
    twice; near-0 pairs genuinely partition the users). One distinct
    (type, user) projection, an equi-join on user, integer set sizes —
    the same inverted-index shape as the shingle dedup legs, keyed by
    user instead of shingle."""
    ev = load(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("__n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    common = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("__n").alias("n_b"))
    return (
        common.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


def q_events_value_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-mass concentration across users (the whale report):
    per-user value sums ranked into max / top-10 shares and a
    weighted Gini -> (n_users, total_value, max_share, top10_share,
    gini). The revenue twin of events_key_skew's row-count report —
    row balance can be fine while 10 whales carry the value mass.
    Per-user sums are rounded once (engine-identical), the ranks are
    the DISTRIBUTED exact two-pass form (operators/rank.py — no
    single-partition sort over the |users|-row table), and every
    emitted ratio is quantized."""
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.operators.rank import ranked_with_total
    from symtseries_spark.operators.timeseries import quantize

    ev = load(spark, sf_dir, "events")
    # Persist the small |users|-row sum table: the rank call takes two
    # driver actions + the final job over this lineage, and the rank's
    # internal persist only covers its own two actions — uncached, the
    # full events scan+groupBy would re-run for each. Tracked
    # (released by the harness after the query drains). Rank-key
    # precondition: __w = round(sum(value)) over an inner groupBy —
    # one non-null double per user by construction.
    per = persist_tracked(
        ev.groupBy("user_id").agg(
            F.round(F.sum("value"), 6).alias("__w")
        )
    )
    # ONE two-pass rank, not two (r12): the descending row_number was
    # only consumed as ``rd <= 10`` inside a SUM of __w, and any top-10
    # by (__w DESC, user_id) carries the same MULTISET of __w values as
    # the last 10 rows of the ascending rank (the selections differ
    # only across EQUAL __w), so ``__ra > total - 10`` yields the exact
    # same sum — minus the second rank's two driver jobs and its extra
    # window shuffle over the |users| table.
    ranked, n_total = ranked_with_total(
        per, "__w", tiebreak="user_id", out="__ra", descending=False
    )
    ranked = ranked.select("__w", "__ra")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("__w").alias("__tot"),
        F.max("__w").alias("__mx"),
        F.sum(F.col("__ra") * F.col("__w")).alias("__si"),
        F.sum(
            F.when(F.col("__ra") > F.lit(n_total - 10), F.col("__w"))
            .otherwise(0.0)
        ).alias("__topn"),
    )
    k = F.col("n_users").cast("double")
    gini = 2.0 * F.col("__si") / (k * F.col("__tot")) - (k + 1.0) / k
    return agg.select(
        "n_users",
        quantize(F.col("__tot"), 6).alias("total_value"),
        quantize(F.col("__mx") / F.col("__tot"), 6).alias("max_share"),
        quantize(F.col("__topn") / F.col("__tot"), 6).alias("top10_share"),
        quantize(gini, 6).alias("gini"),
    )


def q_events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew report for the events shuffle key
    (operators/pipeline.py:key_skew): max/topN share + Gini of the
    user_id histogram — the diagnostic behind every salting / AQE
    skew-join decision in SCALING.md, as a first-class query."""
    from symtseries_spark.operators.pipeline import key_skew

    return key_skew(load(spark, sf_dir, "events"), key="user_id")


def q_docs_source_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew report for the documents source/domain key — the
    mega-domain detector that motivates docs_source_cap's salted
    two-stage rank (a max_share near 1 means one domain would own a
    partition)."""
    from symtseries_spark.operators.pipeline import key_skew

    return key_skew(load(spark, sf_dir, "documents"), key="source")


def q_dedup_cross_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair matrix by language pair: counts MinHash-LSH pairs
    per (lang_a, lang_b) with lang_a <= lang_b — cross-language cells
    flag translation/template duplicates that monolingual dedup
    sweeps would keep twice. Two broadcast label joins over the pair
    output."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, **MINHASH).select("doc_a", "doc_b")
    la = docs.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("__la"))
    lb = docs.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("__lb"))
    return (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            F.least("__la", "__lb").alias("lang_a"),
            F.greatest("__la", "__lb").alias("lang_b"),
        )
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("lang_a", "lang_b")
    )


def q_events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: within
    each user's timeline, count (type -> next type) hops and the
    conditional probability P(next | current) -> (type_from, type_to,
    n, p). The behavioral model behind next-action prediction and
    funnel design; one lag window on the series partitioning + one
    combinable pair count, probabilities quantized against the
    row-count-exact denominators."""
    from pyspark.sql import Window

    from symtseries_spark.operators.timeseries import quantize

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    hops = ev.select(
        F.col("event_type").alias("type_from"),
        F.lead("event_type").over(w).alias("type_to"),
    ).where(F.col("type_to").isNotNull())
    pairs = hops.groupBy("type_from", "type_to").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = pairs.groupBy("type_from").agg(F.sum("n").alias("__t"))
    return (
        pairs.join(totals, "type_from")
        .select(
            "type_from",
            "type_to",
            "n",
            quantize(F.col("n") / F.col("__t"), 6).alias("p"),
        )
        .orderBy("type_from", "type_to")
    )


def q_events_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime summary: per-user first-to-last event span in
    days, collapsed to (n_users, p50_days, p90_days, mean_days).
    The churn-horizon number behind retention planning; spans are
    exact integer microsecond differences scaled once, percentiles
    via the proven interpolation parity, mean quantized."""
    from symtseries_spark.operators.timeseries import quantize

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    spans = ev.groupBy("user_id").agg(
        ((F.max("ts_us") - F.min("ts_us")) / F.lit(86_400_000_000.0))
        .alias("__d")
    )
    return spans.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.expr("percentile(__d, 0.5D)"), 6).alias("p50_days"),
        F.round(F.expr("percentile(__d, 0.9D)"), 6).alias("p90_days"),
        quantize(F.avg("__d"), 6).alias("mean_days"),
    )


def q_events_user_lifetime_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_user_lifetime's 100 TB scale twin: the exact
    ``percentile()`` there buffers a value-count map proportional to
    DISTINCT span values on ONE reducer (the docs/PLAN_AUDIT.md
    Class-A caveat). Here spans are quantized to integer MILLI-days
    first — bounding the distinct count by the grid (a 30-year
    lifetime is ~11M grid points, vs billions of distinct raw
    doubles) — then p50/p90 are exact NEAREST-RANK quantiles over the
    bounded grid (operators/sketches.py:grid_quantiles: combinable
    groupBy + grid-sized cumulative window; nothing row-scaled crosses
    one task). Integer rank math end to end, so the DuckDB oracle is
    bit-identical, not approximately close — the executable form of
    the approx-percentile prose in PLAN_AUDIT.md. Mean stays the exact
    quantized average (no distinct-value buffering in avg)."""
    from symtseries_spark.operators.sketches import grid_quantiles
    from symtseries_spark.operators.timeseries import quantize

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    spans = ev.groupBy("user_id").agg(
        F.expr("(max(ts_us) - min(ts_us)) div 86400000").alias("__md"),
        ((F.max("ts_us") - F.min("ts_us")) / F.lit(86_400_000_000.0))
        .alias("__d"),
    )
    gq = grid_quantiles(
        spans,
        value="__md",
        probs=[(1, 2, "__p50"), (9, 10, "__p90")],
        n_alias="n_users",
    )
    mean = spans.agg(quantize(F.avg("__d"), 6).alias("mean_days"))
    return gq.crossJoin(F.broadcast(mean)).select(
        "n_users",
        (F.col("__p50") / F.lit(1000.0)).alias("p50_days"),
        (F.col("__p90") / F.lit(1000.0)).alias("p90_days"),
        "mean_days",
    )


def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user scoring (recency / frequency / monetary), the classic
    behavioral segmentation: per user days-since-last-event (vs the
    corpus max timestamp), event count, and value sum, each mapped to
    a 1-5 ntile score with deterministic (metric, user_id) tie order
    -> (user_id, recency_days, frequency, monetary, r, f, m). One
    aggregate + three DISTRIBUTED exact global ntiles over the
    per-user table (|users| rows, not |events|; operators/rank.py
    ntile_multi — shared boundary/count passes, bit-identical to the
    window ntile the DuckDB oracle runs, with no single-partition
    sort at any scale)."""
    from symtseries_spark.cache import persist_tracked
    from symtseries_spark.operators.rank import ntile_multi

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    per_user = ev.groupBy("user_id").agg(
        F.max("ts_us").alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("value"), 6).alias("monetary"),
    )
    mx = per_user.agg(F.max("__last").alias("__mx"))
    # Persist the small |users|-row base: the shared-pass ntile takes
    # ~3 driver actions + the final job over this lineage — uncached,
    # the full events scan+groupBy would re-run for each. Tracked
    # (released by the harness after the query drains). Rank-key
    # preconditions: all three ntile keys come from the inner
    # aggregate (count / rounded sum / max-diff), non-null by
    # construction.
    base = persist_tracked(
        per_user.crossJoin(F.broadcast(mx)).select(
            "user_id",
            F.expr("(__mx - __last) div 86400000000").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # ntile_multi (r12): one quantile pass + one tie-split pass + one
    # count pass SHARED by the three keys, instead of three chained
    # distributed_ntile calls running each pass per key — bit-identical
    # output (ntile is exact under any bucket boundaries).
    scored = ntile_multi(
        base,
        [
            dict(
                key="recency_days",
                tiebreak="user_id",
                n_tiles=5,
                out="r",
                descending=True,
            ),
            dict(key="frequency", tiebreak="user_id", n_tiles=5, out="f"),
            dict(key="monetary", tiebreak="user_id", n_tiles=5, out="m"),
        ],
    )
    return scored.select(
        "user_id", "recency_days", "frequency", "monetary", "r", "f", "m"
    )


def q_events_session_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-size distribution: how many sessions have 1, 2, 3, ...
    events (log2-bucketed above 8) — the bounce-rate / engagement
    shape read off the same single-window sessionization as
    events_sessions, collapsed to a histogram whose key space is
    bounded by log(max session length)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    s = sessionize(ev, key="user_id", ts="ts_us", gap=SESSION_GAP_US)
    sizes = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("__n")
    )
    # explicit integer boundaries, NOT floor(log2(n)): Spark computes
    # log2 as ln(x)/ln(2), which lands BELOW the exact integer for
    # powers of two (floor flips vs an engine with a true log2)
    bucket = (
        F.when(F.col("__n") <= 8, F.lpad(F.col("__n").cast("string"), 2, "0"))
        .when(F.col("__n") <= 16, F.lit("09-16"))
        .when(F.col("__n") <= 32, F.lit("17-32"))
        .when(F.col("__n") <= 64, F.lit("33-64"))
        .when(F.col("__n") <= 128, F.lit("65-128"))
        .otherwise(F.lit(">128"))
    )
    return (
        sizes.groupBy(bucket.alias("size_bucket"))
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("size_bucket")
    )


def q_events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift test (operators/timeseries.py:page_hinkley):
    the adaptive-mean CUSUM — no known target needed, the running mean
    IS the baseline. Three stacked window passes on one series
    Exchange; alarm evaluated on the quantized statistic."""
    from symtseries_spark.operators.timeseries import page_hinkley

    ev = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    return page_hinkley(
        ev, key="user_id", order=["ts_us", "event_id"], value="value", **PH_P
    ).select("user_id", "event_id", "ph", "alarm")


def q_events_page_hinkley_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same Page-Hinkley monitor as a REAL stream
    (streaming/timeseries.py:page_hinkley_stream): four doubles of
    keyed state, O(1)/event, stream state ≡ batch windows row for
    row."""
    import tempfile
    import uuid

    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming import page_hinkley_stream

    stream = load_events_stream(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    ph = page_hinkley_stream(
        stream, key="user_id", order=["ts_us", "event_id"], value="value",
        **PH_P,
    )
    name = f"ph_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            ph.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ph_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select("user_id", "event_id", "ph", "alarm")


def q_events_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS trend (slope/intercept over the row index): one
    row_number window pass + one map-side-combinable groupBy; integer
    index moments are exact, float sums quantized
    (operators/timeseries.py:linear_trend)."""
    from symtseries_spark.operators import linear_trend

    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    return linear_trend(
        ev, key="user_id", order=["ts_us", "event_id"], value="value"
    )


def q_events_mad_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust median/MAD anomaly monitor through a REAL stream:
    state = the last window-1 raw values per series (the sliding-ring
    contract), exact sorted-median arithmetic per event — flags on
    arrival, bit-identical to the batch operator on clean series
    (streaming/timeseries.py:mad_zscore_stream)."""
    import tempfile
    import uuid

    from symtseries_spark.operators import quantize
    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming import mad_zscore_stream

    stream = load_events_stream(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    ms = mad_zscore_stream(
        stream, key="user_id", order=["ts_us", "event_id"], value="value",
        window=MAD_P["window"],
    )
    name = f"mad_stream_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state
    # store to the key cardinality, not the batch default
    with _state_partitions(spark):
        q = (
            ms.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="mad_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    rz = quantize(F.nanvl(F.col("rzscore"), F.lit(None)), 4)
    return (
        spark.table(name)
        .select("user_id", "event_id", "n_window", rz.alias("rzscore"))
        .where(F.abs(F.col("rzscore")) >= MAD_P["threshold"])
    )


HLL_P = 9  # 512 registers, ~4.6% standard error


def q_docs_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-content estimate with DETERMINISTIC
    registers (md5 bucket/rank, exact integer harmonic sum) — the
    cardinality sketch that merges by max across shards/days at 100 TB.
    sf0.01 exercises the small-range correction path, sf0.1 the raw
    estimator (operators/sketches.py:hll_registers/hll_estimate)."""
    from symtseries_spark.functions.text import normalized_text
    from symtseries_spark.operators.sketches import hll_estimate, hll_registers

    docs = load(spark, sf_dir, "documents").select(
        normalized_text(F.col("text")).alias("norm")
    )
    return hll_estimate(hll_registers(docs, col="norm", p=HLL_P), p=HLL_P)


def q_docs_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers as LIVE streaming aggregation state: rank
    rows flow through a complete-mode groupBy(bucket).max — state is the
    fixed 2^p register table however long the stream runs (the same
    mergeable-sketch-as-state pattern as docs_cms_stream). Final
    registers must equal the batch build exactly, so the estimate shares
    the batch oracle."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.functions.text import doc_hash60, normalized_text
    from symtseries_spark.operators.sketches import (
        hll_estimate,
        hll_rank_width,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    half = (F.col("doc_id") > mid).cast("int").alias("__bid")
    tmp = tempfile.mkdtemp(prefix="hll_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    docs.withColumn("__bid", half).coalesce(1).write.partitionBy("__bid").parquet(
        staged
    )
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    m = 1 << HLL_P
    width = hll_rank_width(HLL_P)
    h = doc_hash60(normalized_text(F.col("text")).cast("string"))
    w = F.shiftrightunsigned(h, HLL_P)
    rank = F.when(w > 0, F.lit(width) - F.length(F.bin(w)) + 1).otherwise(
        F.lit(width + 1)
    )
    registers = (
        stream.where(normalized_text(F.col("text")).isNotNull())
        .select((h % m).alias("bucket"), rank.alias("__r"))
        .groupBy("bucket")
        .agg(F.max("__r").alias("max_rank"))
    )
    name = f"hll_stream_{uuid.uuid4().hex[:8]}"
    # state = the fixed 2^p register table (512 keys at p=9) — commit
    # it over 4 state-store partitions, not the batch-analytics 32
    with _state_partitions(spark):
        q = (
            registers.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="hll_chk_"))
            # AvailableNow still honors maxFilesPerTrigger=1, so the
            # two-batch carried-state scenario is preserved; the query
            # self-terminates instead of poll-then-stop
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return hll_estimate(spark.table(name), p=HLL_P)


def q_emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking of the brute-force top-32 for one query:
    distributed top-N retrieval (broadcast query row, scan-stage
    scoring, TakeOrderedAndProject), then the O(k*N) greedy on the
    plan-time-bounded candidate set
    (operators/simsearch.py:mmr_rerank)."""
    from symtseries_spark.operators.simsearch import mmr_rerank

    return mmr_rerank(load(spark, sf_dir, "embeddings"), **MMR)


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user series, via the exact
    prefix identity C_t = S_t - min(0, min prefix S) — two chained
    cumulative aggregates in ONE WindowExec pass instead of the O(series)
    per-row fold the recursion would need in batch
    (operators/timeseries.py:cusum)."""
    from symtseries_spark.operators import cusum

    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    c = cusum(
        ev, key="user_id", order=["ts_us", "event_id"], value="value", **CUSUM_P
    )
    return c.select("user_id", "event_id", "cusum", "alarm")


def q_events_cusum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same CUSUM monitor as a REAL stream running the recursion
    directly: one double of keyed state, O(1) per event, alarm evaluable
    on arrival (streaming/timeseries.py:cusum_stream). The oracle
    replays the recursion as a seed-0 prefix fold per row."""
    import tempfile
    import uuid

    from symtseries_spark.operators import quantize
    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming import cusum_stream

    stream = load_events_stream(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    cs = cusum_stream(
        stream, key="user_id", order=["ts_us", "event_id"], value="value",
        target=CUSUM_P["target"], slack=CUSUM_P["slack"],
    )
    name = f"cusum_stream_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state
    # store to the key cardinality, not the batch default
    with _state_partitions(spark):
        q = (
            cs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="cusum_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    qc = quantize(F.col("cusum"), 6)
    return spark.table(name).select(
        "user_id",
        "event_id",
        qc.alias("cusum"),
        (qc > F.lit(CUSUM_P["threshold"])).alias("alarm"),
    )


def q_emb_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization audit: symmetric scale, integer code
    checksum, dequantization MSE — pure scan-stage array math, zero
    shuffles (operators/pq.py:int8_quantize_stats)."""
    from symtseries_spark.operators.pq import int8_quantize_stats

    return int8_quantize_stats(load(spark, sf_dir, "embeddings"))


def q_docs_bigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram LM scoring: corpus pair counts fit and
    broadcast, per-doc mean pair log-prob — the sequence-aware upgrade
    of docs_unigram_lp (operators/retrieval.py:bigram_logprob)."""
    from symtseries_spark.operators.retrieval import bigram_logprob

    return bigram_logprob(load(spark, sf_dir, "documents"))


def q_docs_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints per document (MOSS algorithm): min-hash
    selection over w-windows of positional k-gram hashes — pure
    scan-stage array expressions, exploded to (doc_id, fp) rows
    (operators/dedup.py:winnow_table)."""
    from symtseries_spark.operators import winnow_table

    return winnow_table(load(spark, sf_dir, "documents"), **WINNOW)


def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate pairs: docs sharing >= min_shared
    winnowing fingerprints — each shared fingerprint witnesses a common
    token run >= k, so this flags verbatim-passage reuse that
    whole-document Jaccard dilutes (operators/dedup.py:winnow_pairs).
    Inverted-index equi-join, hot-fingerprint cap — never |docs|^2."""
    from symtseries_spark.operators import winnow_pairs

    return winnow_pairs(
        load(spark, sf_dir, "documents"), **WINNOW, **WINNOW_PAIRS
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: pairs where the smaller shingle set
    is >= threshold inside the larger — the excerpt/superset dup class
    Jaccard misses (operators/dedup.py:containment_pairs). Same
    inverted-index plan + hot-shingle cap as dedup_jaccard."""
    from symtseries_spark.operators import containment_pairs

    return containment_pairs(load(spark, sf_dir, "documents"), **CONTAINMENT)


def q_docs_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate share: fraction of positional k-gram
    instances whose gram appears in >= min_df distinct docs — the
    repeated-passage cleanup signal; frequent-gram dim is small and
    broadcast by AQE (operators/retrieval.py:boilerplate_metrics)."""
    from symtseries_spark.operators.retrieval import boilerplate_metrics

    return boilerplate_metrics(load(spark, sf_dir, "documents"), **BOILER)


def q_events_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window Holt level+trend smoothing per user series: one
    WindowExec pass, JVM higher-order fold with a 2-field struct
    accumulator — the double-exponential extension of events_ewma
    (operators/timeseries.py:holt)."""
    from symtseries_spark.operators import holt

    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    h = holt(
        ev, key="user_id", order=["ts_us", "event_id"], value="value", **HOLT_P
    )
    return h.select("user_id", "event_id", "level", "trend", "forecast")


def q_events_holt_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded recursive Holt through a REAL stream: TWO doubles of
    keyed state per series, O(1) multiply-adds per event — the batch
    oracle replays the recursion as an O(series) prefix fold per row
    (streaming/timeseries.py:holt_stream)."""
    import tempfile
    import uuid

    from symtseries_spark.operators import quantize
    from symtseries_spark.sources import load_events_stream
    from symtseries_spark.streaming import holt_stream

    stream = load_events_stream(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    hs = holt_stream(
        stream, key="user_id", order=["ts_us", "event_id"], value="value",
        alpha=HOLT_P["alpha"], beta=HOLT_P["beta"],
    )
    name = f"holt_stream_{uuid.uuid4().hex[:8]}"
    # keyed state is partition-count-invariant; size the state
    # store to the key cardinality, not the batch default
    with _state_partitions(spark):
        q = (
            hs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="holt_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        "user_id",
        "event_id",
        quantize(F.col("level"), 6).alias("level"),
        quantize(F.col("trend"), 6).alias("trend"),
    )


PSI_BINS = 20       # fixed length-bin domain: least(n_chars div 50, 19)
MWU_PAIR = ("click", "purchase")
FUZZY_TAU = 3       # edit-distance bound for the PassJoin prefix query


def q_docs_length_psi_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Population Stability Index of the doc-length
    distribution against the whole corpus -> (source, n_rows, psi) —
    the industry drift score for "did this feed's shape move between
    crawls" (PSI ~0.1 = investigate, ~0.25 = shifted); with the KS
    report it forms the curation drift battery. Lengths bin into the
    FIXED 20-bin domain least(n_chars div 50, 19), add-one smoothed,
    so PSI is finite by construction and every distribution lives on
    a grid-bounded spine (operators/drift.py psi_by_group)."""
    from symtseries_spark.operators.drift import psi_by_group

    docs = load(spark, sf_dir, "documents").where(F.col("n_chars").isNotNull())
    binned = docs.select(
        "source",
        F.least(F.expr("n_chars div 50"), F.lit(19).cast("long")).alias("__b"),
    )
    return psi_by_group(binned, group="source", bin_col="__b", n_bins=PSI_BINS)


def q_docs_lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of lang x source independence -> one row
    (n, dof, chisq): a HIGH statistic means language mix varies by
    source — the signal that per-source language filters can't share
    one threshold. Full-grid expected counts including observed-zero
    cells (operators/drift.py chisq_independence)."""
    from symtseries_spark.operators.drift import chisq_independence

    docs = load(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    return chisq_independence(docs, a="lang", b="source")


def q_events_mwu_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U between click and purchase
    event values -> one row (n_a, n_b, u_a, auc): auc is the
    probability-of-superiority effect size (0.5 = no shift) — the
    rank test that catches a cohort's values shifting when means
    don't. Values pre-quantized to exact integer centi-units (the
    grid contract); U from grid counts via DECIMAL products, never a
    global rank (operators/drift.py mann_whitney_u)."""
    from symtseries_spark.operators.drift import mann_whitney_u

    a, b = MWU_PAIR
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    g = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("__v"),
    )
    return mann_whitney_u(
        g, group="event_type", value_int="__v", group_a=a, group_b=b
    )


def q_docs_length_psi_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_length_psi_by_source as a LIVE streaming aggregation: the
    per-(source, length-bin) counters flow through a complete-mode
    groupBy whose state is the |sources| x 20-bin cell table — the
    sketch-as-streaming-state pattern (state bounded by the GRID, not
    the stream), so a curation dashboard can read each feed's PSI at
    any micro-batch. Documents replay in two micro-batches to prove
    cross-batch state carry; the final counters equal the batch cells
    exactly, so the smoothing/ln stage (operators/drift.py
    psi_from_counts) shares docs_length_psi_by_source's oracle
    bit-for-bit."""
    import glob as globmod
    import os
    import tempfile
    import uuid

    from symtseries_spark.operators.drift import psi_from_counts

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    half = (F.col("doc_id") > mid).cast("int").alias("__bid")
    tmp = tempfile.mkdtemp(prefix="psi_stream_")
    staged, indir = f"{tmp}/staged", f"{tmp}/in"
    os.makedirs(indir)
    docs.withColumn("__bid", half).coalesce(1).write.partitionBy(
        "__bid"
    ).parquet(staged)
    for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
        part = globmod.glob(f"{d}/part-*.parquet")[0]
        dst = f"{indir}/b{i:04d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    cells = (
        stream.where(F.col("n_chars").isNotNull())
        .select(
            "source",
            F.least(F.expr("n_chars div 50"), F.lit(19).cast("long")).alias(
                "__b"
            ),
        )
        .groupBy("source", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    name = f"psi_stream_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            cells.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="psi_chk_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # eager localCheckpoint: psi_from_counts references the counter
    # table three times (groups/bins/cells) and Spark's attribute
    # dedup cannot re-alias a MemorySink plan across a self-join; the
    # checkpoint truncates to a (grid-bounded) LogicalRDD — the
    # operators/graph.py idiom.
    return psi_from_counts(
        spark.table(name).localCheckpoint(eager=True),
        group="source",
        bin_col="__b",
        count="__c",
        n_bins=PSI_BINS,
    )


def q_docs_fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance similarity self-join over document prefix
    keys (first 3 whitespace tokens) -> (dist, n_pairs) for 1 <= dist
    <= 3: the EXACT string-similarity complement to the probabilistic
    MinHash/SimHash family — near-identical titles/keys where "within
    3 edits" is a contract, found by PassJoin pigeonhole segment
    blocking (operators/fuzzy.py edit_distance_pairs: tau+1 segments
    as an inverted index, position-bounded substrings as probes, one
    hash equi-join, levenshtein(threshold) refine — never all-pairs).
    Keys are ASCII here, so Spark's codepoint levenshtein and
    DuckDB's byte levenshtein agree; the oracle brute-forces the
    distinct-key pair set, which the blocked join must reproduce
    EXACTLY (the same no-false-negative contract as tests/test_fuzzy
    proves on random strings)."""
    from symtseries_spark.operators.fuzzy import edit_distance_pairs

    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    keyed = docs.select(
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias(
            "k"
        )
    )
    pairs = edit_distance_pairs(keyed, key="k", tau=FUZZY_TAU)
    return (
        pairs.groupBy(F.col("dist").cast("long").alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_docs_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix: Jaccard similarity of
    each source PAIR's distinct word-3-shingle sets -> (source_a,
    source_b, n_a, n_b, n_common, jaccard), intersecting pairs only —
    the corpus-health report for "which feeds re-host whose
    passages" (inter-source redundancy that per-doc dedup views
    don't aggregate). Scale shape: one distinct over (source,
    shingle) — vocabulary-bounded per source, map-side combinable —
    then a self-equi-join on shingle whose per-key fanout is capped
    by SOURCE COUNT (<= |sources|^2 pairs per shingle, never
    corpus-scaled), reduced to the |sources|^2-bounded pair grid.
    Exact-rational double division; 1e-6 output quantization."""
    from symtseries_spark.functions.text import shingles
    from symtseries_spark.operators.timeseries import quantize

    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sh = docs.select(
        "source",
        F.explode(shingles(F.col("text"), JACCARD["k"])).alias("sh"),
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    common = (
        sh.select(F.col("source").alias("source_a"), "sh")
        .join(sh.select(F.col("source").alias("source_b"), "sh"), "sh")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            sizes.select(
                F.col("source").alias("source_a"), F.col("n").alias("n_a")
            ),
            "source_a",
        )
        .join(
            sizes.select(
                F.col("source").alias("source_b"), F.col("n").alias("n_b")
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            quantize(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


def q_docs_fuzzy_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest fuzzy gate: the odd-doc_id half plays the
    NEW crawl batch, the even half the at-rest corpus, and the
    two-table PassJoin (operators/fuzzy.py edit_distance_join —
    right side indexed once, left side probes lengths m-tau..m+tau)
    reports how many new keys land within 0..FUZZY_TAU edits of an
    existing key -> (dist, n_pairs). dist=0 is included: "already
    present verbatim" is exactly what an ingest gate asks — the
    edit-distance analogue of dedup_incremental's MinHash path."""
    from symtseries_spark.operators.fuzzy import edit_distance_join

    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    keyed = docs.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias(
            "k"
        ),
    )
    new = keyed.where(F.col("doc_id") % 2 == 1)
    corpus = keyed.where(F.col("doc_id") % 2 == 0)
    j = edit_distance_join(
        new, corpus, left_key="k", right_key="k", tau=FUZZY_TAU
    )
    return j.groupBy(F.col("dist").cast("long").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def q_docs_fuzzy_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup endgame: PassJoin key pairs (within
    FUZZY_TAU=3 edits on the first-3-token key) -> pointer-doubled
    connected components (operators/graph.py) -> per-doc canonical
    assignment -> (doc_id, canonical_id, is_duplicate). The exact
    edit-distance twin of the MinHash dedup_exact->clusters->keep
    chain: key-level components keep the graph at |distinct keys|
    nodes, and docs map back through their key — duplicate-group
    expansion never produces pairs. Canonical = min doc_id in the
    cluster (each key's node id IS its min doc_id, so the component
    min is the cluster-wide min)."""
    from symtseries_spark.operators.fuzzy import edit_distance_pairs
    from symtseries_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    keyed = docs.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias(
            "k"
        ),
    )
    kid = keyed.groupBy("k").agg(F.min("doc_id").alias("kid"))
    pairs = edit_distance_pairs(kid, key="k", tau=FUZZY_TAU)
    edges = (
        pairs.join(
            kid.select(F.col("k").alias("key_a"), F.col("kid").alias("src")),
            "key_a",
        )
        .join(
            kid.select(F.col("k").alias("key_b"), F.col("kid").alias("dst")),
            "key_b",
        )
        .select("src", "dst")
    )
    cc = connected_components(
        edges, kid.select(F.col("kid").alias("v")), vertex="v"
    )
    return (
        keyed.join(kid, "k")
        .join(cc, F.col("kid") == F.col("v"))
        .select(
            "doc_id",
            F.col("canonical_id"),
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Round-12 additions (new queries go at the HEAD).
        "events_dtw_topk": q_events_dtw_topk,
        "events_dtw_stream": q_events_dtw_stream,
        "events_frechet_topk": q_events_frechet_topk,
        "text_bm25_at_rest": q_text_bm25_at_rest,
        "text_phrase_at_rest": q_text_phrase_at_rest,
        "emb_kmeanspar_assign": q_emb_kmeanspar_assign,
        "emb_kmeanspar_init": q_emb_kmeanspar_init,
        "docs_suffix_array": q_docs_suffix_array,
        "docs_longest_dup_span": q_docs_longest_dup_span,
        "docs_dq_audit": q_docs_dq_audit,
        "tpch_dq_orphans": q_tpch_dq_orphans,
        "docs_snapshot_relink": q_docs_snapshot_relink,
        "media_dedup_stream": q_media_dedup_stream,
        "docs_lsh_at_rest": q_docs_lsh_at_rest,
        "docs_dq_stream": q_docs_dq_stream,
        "events_zorder_at_rest": q_events_zorder_at_rest,
        "emb_ivfpq_residual_topk": q_emb_ivfpq_residual_topk,
        "docs_ingest_funnel": q_docs_ingest_funnel,
        "emb_ivf_batch": q_emb_ivf_batch,
        "events_dq_audit": q_events_dq_audit,
        "media_dhash_wide_pairs": q_media_dhash_wide_pairs,
        "docs_exact_substring_dedup": q_docs_exact_substring_dedup,
        "docs_line_dedup": q_docs_line_dedup,
        "emb_ivfpq_recall": q_emb_ivfpq_recall,
        "docs_line_dedup_stream": q_docs_line_dedup_stream,
        "media_dup_clusters": q_media_dup_clusters,
        "media_dhash_at_rest": q_media_dhash_at_rest,
        "docs_dup_source_matrix": q_docs_dup_source_matrix,
        "media_frame_dedup": q_media_frame_dedup,
        "docs_snapshot_diff": q_docs_snapshot_diff,
        "media_frame_clusters": q_media_frame_clusters,
        # Round-12 behavior changes (re-verify first): dhash configs, hashed text-stats keys.
        "media_dhash_pairs": q_media_dhash_pairs,
        "media_dhash": q_media_dhash,
        "docs_gopher_repetition": q_docs_gopher_repetition,
        "docs_gopher_filter": q_docs_gopher_filter,
        "docs_exact_substring": q_docs_exact_substring,
        # Last driver-checked r05.
        "media_resize": q_media_resize,
        # Last driver-checked r06.
        "events_stickiness": q_events_stickiness,
        "sax_word_transitions": q_sax_word_transitions,
        "sax_whole_series": q_sax_whole_series,
        "sax_sliding_words": q_sax_sliding_words,
        "sax_mindist_topk": q_sax_mindist_topk,
        "sax_mindist_decomp": q_sax_mindist_decomp,
        "sax_c16_decomp": q_sax_c16_decomp,
        # Last driver-checked r07.
        "events_forecast_backtest": q_events_forecast_backtest,
        "events_ewma": q_events_ewma,
        "events_holt": q_events_holt,
        "events_hw": q_events_hw,
        "events_page_hinkley_stream": q_events_page_hinkley_stream,
        "events_benford": q_events_benford,
        "emb_knn_label_acc": q_emb_knn_label_acc,
        "events_anomaly_consensus": q_events_anomaly_consensus,
        "sax_motifs": q_sax_motifs,
        "emb_silhouette": q_emb_silhouette,
        "events_funnel_latency": q_events_funnel_latency,
        "emb_int8_recall": q_emb_int8_recall,
        "events_twap": q_events_twap,
        "events_twap_stream": q_events_twap_stream,
        "events_ohlc": q_events_ohlc,
        "dedup_triangles": q_dedup_triangles,
        "events_page_hinkley": q_events_page_hinkley,
        "dedup_cross_lang": q_dedup_cross_lang,
        "events_session_sizes": q_events_session_sizes,
        "events_hll_by_type": q_events_hll_by_type,
        "events_audience_overlap": q_events_audience_overlap,
        "events_dominant_period": q_events_dominant_period,
        "events_moments": q_events_moments,
        "events_ohlc_stream": q_events_ohlc_stream,
        "docs_source_boilerplate": q_docs_source_boilerplate,
        "emb_fisher_dims": q_emb_fisher_dims,
        "events_p95_trend": q_events_p95_trend,
        "events_volume_anomaly": q_events_volume_anomaly,
        "sax_complexity": q_sax_complexity,
        "dedup_cluster_sizes": q_dedup_cluster_sizes,
        "events_user_lifetime": q_events_user_lifetime,
        "docs_scorecard": q_docs_scorecard,
        "docs_novelty_decay": q_docs_novelty_decay,
        "events_type_transitions": q_events_type_transitions,
        "emb_norm_profile": q_emb_norm_profile,
        "docs_hapax": q_docs_hapax,
        "docs_quality_length_corr": q_docs_quality_length_corr,
        "docs_shingle_df_profile": q_docs_shingle_df_profile,
        "emb_compression_tradeoff": q_emb_compression_tradeoff,
        "events_hourly_profile": q_events_hourly_profile,
        "docs_contamination_by_source": q_docs_contamination_by_source,
        "events_dau": q_events_dau,
        # Last driver-checked r08.
        "docs_ccnet_bucket": q_docs_ccnet_bucket,
        "docs_corpus_filter3": q_docs_corpus_filter3,
        "events_value_skew": q_events_value_skew,
        "events_key_skew": q_events_key_skew,
        "docs_source_skew": q_docs_source_skew,
        "events_rfm": q_events_rfm,
        "dedup_simhash_fidelity": q_dedup_simhash_fidelity,
        "docs_dedup_funnel": q_docs_dedup_funnel,
        "events_json_stats": q_events_json_stats,
        "docs_rollup": q_docs_rollup,
        "events_lag_delta": q_events_lag_delta,
        "docs_setops": q_docs_setops,
        "text_quality": q_text_quality,
        "text_split": q_text_split,
        "text_length_buckets": q_text_length_buckets,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_knn_join": q_emb_knn_join,
        "emb_ann_lsh": q_emb_ann_lsh,
        "emb_ann_multiprobe": q_emb_ann_multiprobe,
        "emb_near_dup_lsh": q_emb_near_dup_lsh,
        "media_byte_histogram": q_media_byte_histogram,
        "media_frame_sample": q_media_frame_sample,
        "media_decode_features": q_media_decode_features,
        "sax_tumbling_motifs": q_sax_tumbling_motifs,
        "sax_pattern_match": q_sax_pattern_match,
        "sax_allpairs": q_sax_allpairs,
        "sax_allpairs_refined": q_sax_allpairs_refined,
        "sax_tumbling_partial": q_sax_tumbling_partial,
        "sax_sliding_stream": q_sax_sliding_stream,
        "sax_event_windows": q_sax_event_windows,
        "sax_event_windows_stream": q_sax_event_windows_stream,
        "sax_isax_ml_build": q_sax_isax_ml_build,
        "sax_isax_ml_probe": q_sax_isax_ml_probe,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "tpch_q10": q_tpch_q10,
        "tpch_q12": q_tpch_q12,
        "tpch_q14": q_tpch_q14,
        "tpch_q7": q_tpch_q7,
        # Last driver-checked r09.
        "events_user_lifetime_grid": q_events_user_lifetime_grid,
        "events_funnel_latency_grid": q_events_funnel_latency_grid,
        "docs_token_mass_quantiles": q_docs_token_mass_quantiles,
        "docs_source_length_ks": q_docs_source_length_ks,
        "docs_token_mass_quantiles_stream": q_docs_token_mass_quantiles_stream,
        "tpch_q13": q_tpch_q13,
        "tpch_q17": q_tpch_q17,
        "tpch_q18": q_tpch_q18,
        "tpch_q19": q_tpch_q19,
        "tpch_q22": q_tpch_q22,
        "tpch_q4": q_tpch_q4,
        "tpch_q8": q_tpch_q8,
        "tpch_q9": q_tpch_q9,
        "tpch_q15": q_tpch_q15,
        "tpch_q21": q_tpch_q21,
        "tpch_q2": q_tpch_q2,
        "tpch_q11": q_tpch_q11,
        "tpch_q20": q_tpch_q20,
        "tpch_q16": q_tpch_q16,
        "events_rolling_1h": q_events_rolling_1h,
        "events_anomaly": q_events_anomaly,
        "events_anomaly_stream": q_events_anomaly_stream,
        "docs_top_terms": q_docs_top_terms,
        "docs_repetition": q_docs_repetition,
        "docs_lang_confusion": q_docs_lang_confusion,
        "docs_bloom_prefilter": q_docs_bloom_prefilter,
        "emb_pq_topk": q_emb_pq_topk,
        "events_mad_anomaly": q_events_mad_anomaly,
        "events_mad_stream": q_events_mad_stream,
        "events_trend": q_events_trend,
        "docs_corpus_filter2": q_docs_corpus_filter2,
        "docs_hll_distinct": q_docs_hll_distinct,
        "docs_hll_stream": q_docs_hll_stream,
        "emb_mmr_rerank": q_emb_mmr_rerank,
        "events_cusum": q_events_cusum,
        "events_cusum_stream": q_events_cusum_stream,
        "emb_int8_quant": q_emb_int8_quant,
        "docs_bigram_lp": q_docs_bigram_lp,
        "docs_winnow": q_docs_winnow,
        "dedup_winnow_pairs": q_dedup_winnow_pairs,
        "dedup_containment": q_dedup_containment,
        "docs_boilerplate": q_docs_boilerplate,
        "events_holt_stream": q_events_holt_stream,
        "events_ewma_stream": q_events_ewma_stream,
        "docs_contamination": q_docs_contamination,
        "docs_chunk": q_docs_chunk,
        "docs_scrub": q_docs_scrub,
        "docs_unigram_lp": q_docs_unigram_lp,
        "docs_vocab_coverage": q_docs_vocab_coverage,
        "docs_mixture_sample": q_docs_mixture_sample,
        # Last driver-checked r10.
        "emb_jl_recall": q_emb_jl_recall,
        "hybrid_rrf_topk": q_hybrid_rrf_topk,
        "docs_hot_ngram_cov": q_docs_hot_ngram_cov,
        "dedup_keep_quality": q_dedup_keep_quality,
        "docs_bpe_merges": q_docs_bpe_merges,
        "docs_bpe_apply": q_docs_bpe_apply,
        "docs_span_dedup": q_docs_span_dedup,
        "emb_kcenter_coreset": q_emb_kcenter_coreset,
        "emb_kcenter_assign": q_emb_kcenter_assign,
        "docs_span_dedup_stream": q_docs_span_dedup_stream,
        "docs_fuzzy_prefix_pairs": q_docs_fuzzy_prefix_pairs,
        "docs_length_psi_by_source": q_docs_length_psi_by_source,
        "docs_length_psi_stream": q_docs_length_psi_stream,
        "docs_fuzzy_clusters": q_docs_fuzzy_clusters,
        "docs_fuzzy_incremental": q_docs_fuzzy_incremental,
        "docs_source_overlap": q_docs_source_overlap,
        "docs_lang_source_chisq": q_docs_lang_source_chisq,
        "events_mwu_click_purchase": q_events_mwu_click_purchase,
        "docs_train_order": q_docs_train_order,
        "emb_ivf_at_rest": q_emb_ivf_at_rest,
        "dedup_incremental": q_dedup_incremental,
        "docs_pmi_bigrams": q_docs_pmi_bigrams,
        "emb_dedup_keep": q_emb_dedup_keep,
        "events_funnel": q_events_funnel,
        "events_funnel_stream": q_events_funnel_stream,
        "docs_cms_terms": q_docs_cms_terms,
        "docs_cms_stream": q_docs_cms_stream,
        "events_late_drop": q_events_late_drop,
        "events_cube": q_events_cube,
        "events_retention": q_events_retention,
        "events_dow_hour": q_events_dow_hour,
        "docs_corpus_filter": q_docs_corpus_filter,
        "dedup_lsh_refined": q_dedup_lsh_refined,
        "dedup_keep": q_dedup_keep,
        "docs_clean": q_docs_clean,
        "dedup_exact_stream": q_dedup_exact_stream,
        "events_asof_join": q_events_asof_join,
        "events_asof_tolerance": q_events_asof_tolerance,
        "docs_kmv_distinct": q_docs_kmv_distinct,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_pack_shards": q_docs_pack_shards,
        "events_interval_agg": q_events_interval_agg,
        "events_sessions": q_events_sessions,
        "emb_lsh_recall": q_emb_lsh_recall,
        "emb_multiprobe_recall": q_emb_multiprobe_recall,
        "emb_ivf_recall": q_emb_ivf_recall,
        "events_changepoint": q_events_changepoint,
        "dedup_pagerank": q_dedup_pagerank,
        "dedup_minhash_accuracy": q_dedup_minhash_accuracy,
        "docs_zipf_slope": q_docs_zipf_slope,
        # Last driver-checked r11.
        "emb_near_dup_recall": q_emb_near_dup_recall,
        "emb_ivfpq_topk": q_emb_ivfpq_topk,
        "docs_weighted_sample": q_docs_weighted_sample,
        "docs_quality_sweep": q_docs_quality_sweep,
        "docs_split_leakage": q_docs_split_leakage,
        "docs_weighted_sample_stream": q_docs_weighted_sample_stream,
        "docs_mixture_temperature": q_docs_mixture_temperature,
        "dedup_lsh_s_curve": q_dedup_lsh_s_curve,
        "emb_pq_recall": q_emb_pq_recall,
        "events_stl_strength": q_events_stl_strength,
        "events_changepoint2": q_events_changepoint2,
        "emb_semdedup": q_emb_semdedup,
        "docs_dsir_weights": q_docs_dsir_weights,
        "docs_source_cap": q_docs_source_cap,
        "docs_novelty": q_docs_novelty,
        "sax_vsm_pairs": q_sax_vsm_pairs,
        "emb_pca_power": q_emb_pca_power,
        "events_stl": q_events_stl,
        "sax_numerosity": q_sax_numerosity,
        "events_acf": q_events_acf,
        "docs_char_entropy": q_docs_char_entropy,
        "docs_token_fertility": q_docs_token_fertility,
        "events_seasonal_anomaly": q_events_seasonal_anomaly,
        "emb_abtt_topk": q_emb_abtt_topk,
        "events_hw_stream": q_events_hw_stream,
        "events_sessions_stream": q_events_sessions_stream,
        "events_histogram": q_events_histogram,
        "events_ntile": q_events_ntile,
        "events_time_rollup": q_events_time_rollup,
        "events_quantiles": q_events_quantiles,
        "dedup_minhash_stream": q_dedup_minhash_stream,
        "dedup_clusters": q_dedup_clusters,
        "docs_tfidf": q_docs_tfidf,
        "emb_dim_profile": q_emb_dim_profile,
        "events_pivot": q_events_pivot,
        "events_stream_enrich": q_events_stream_enrich,
        "emb_trunc_recall": q_emb_trunc_recall,
        "events_hist_quantiles": q_events_hist_quantiles,
        "emb_kmeans": q_emb_kmeans,
        "sax_discords": q_sax_discords,
        "docs_dsir_stream": q_docs_dsir_stream,
        "events_gapfill": q_events_gapfill,
        "text_bm25": q_text_bm25,
        "events_stream_join": q_events_stream_join,
        "emb_ivf_topk": q_emb_ivf_topk,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB side)


def _tumbling_sql(params) -> str:
    return oc.tumbling_words_sql(params["n"], params["w"], params["c"])


_l8 = "ABCDEFGH"  # letters at c=8 (TUMBLE_DIST cardinality)


def _coarse_map(coarse_c: int) -> str:
    k = TUMBLE_DIST["c"] // coarse_c
    return "".join(_l8[i // k] for i in range(TUMBLE_DIST["c"]))


_ANOM_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) AS x
  FROM events
), w AS (
  SELECT user_id, event_id, x,
         count(x) OVER fr AS n_window,
         sum(x) OVER fr AS s1,
         sum(x * x) OVER fr AS s2
  FROM e WINDOW fr AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN {ANOM_WINDOW - 1} PRECEDING AND CURRENT ROW)
), z AS (
  SELECT user_id, event_id, n_window,
         CASE WHEN s2 / n_window - (s1 / n_window) * (s1 / n_window) > 0
              THEN round((x - s1 / n_window)
                         / sqrt(s2 / n_window - (s1 / n_window) * (s1 / n_window)), 4)
         END AS zscore
  FROM w
)
SELECT user_id, event_id, n_window, zscore
FROM z WHERE abs(zscore) >= {ANOM_THRESHOLD}
"""


def _holt_sql(frame: str, cols: str) -> str:
    """DuckDB twin of operators.timeseries.holt / streaming holt_stream:
    fold [x, 0.0] pairs with the batch operator's exact arithmetic
    (l' recomputed inside the trend update), quantize floor(x*1e6+.5)."""
    a = HOLT_P["alpha"]
    lvl = (
        f"CAST({a} AS DOUBLE) * e[1] "
        f"+ CAST({1.0 - a} AS DOUBLE) * (acc[1] + acc[2])"
    )
    b = HOLT_P["beta"]
    trd = (
        f"CAST({b} AS DOUBLE) * (({lvl}) - acc[1]) "
        f"+ CAST({1.0 - b} AS DOUBLE) * acc[2]"
    )
    q = "floor({expr} * 1000000.0 + 0.5) / 1000000.0"
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) AS x
  FROM events
), w AS (
  SELECT user_id, event_id,
         list(x) FILTER (x IS NOT NULL)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 {frame})
           AS vals
  FROM e
), lt AS (
  SELECT user_id, event_id,
         CASE WHEN len(vals) > 0 THEN
           list_reduce(
             list_transform(vals,
                            x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)]),
             (acc, e) -> [{lvl}, {trd}])
         END AS f
  FROM w
)
SELECT user_id, event_id,
       {q.format(expr="f[1]")} AS level,
       {q.format(expr="f[2]")} AS trend{cols}
FROM lt
"""


_HOLT_SQL_BOUNDED = _holt_sql(
    f"ROWS BETWEEN {HOLT_P['window'] - 1} PRECEDING AND CURRENT ROW",
    ",\n       floor((f[1] + f[2]) * 1000000.0 + 0.5) / 1000000.0 AS forecast",
)
_HOLT_SQL_UNBOUNDED = _holt_sql(
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW", ""
)

# MAD robust-z mirror: same sorted-frame exact medians (list_sort +
# middle-element arithmetic — no accumulation-order freedom), same
# null-filtered frame list, threshold on the quantized score.
_MAD_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) AS x
  FROM events
), w AS (
  SELECT user_id, event_id, x,
         list(x) FILTER (x IS NOT NULL)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN {MAD_P["window"] - 1} PRECEDING AND CURRENT ROW)
           AS vals
  FROM e
), m AS (
  SELECT user_id, event_id, x, vals, len(vals) AS n,
         list_sort(vals) AS sv
  FROM w
), med AS (
  SELECT *, CASE WHEN n % 2 = 1 THEN sv[n // 2 + 1]
                 ELSE (sv[n // 2] + sv[n // 2 + 1]) / CAST(2.0 AS DOUBLE)
            END AS mediana
  FROM m
), mad AS (
  SELECT *, list_sort(list_transform(vals, v -> abs(v - mediana))) AS sd
  FROM med
), madv AS (
  SELECT *, CASE WHEN n % 2 = 1 THEN sd[n // 2 + 1]
                 ELSE (sd[n // 2] + sd[n // 2 + 1]) / CAST(2.0 AS DOUBLE)
            END AS madval
  FROM mad
), rz AS (
  SELECT user_id, event_id, n AS n_window,
         CASE WHEN madval > 0 THEN
           floor(CAST(0.6745 AS DOUBLE) * (x - mediana) / madval
                 * 10000.0 + 0.5) / 10000.0
         END AS rzscore
  FROM madv
)
SELECT user_id, event_id, n_window, rzscore
FROM rz WHERE abs(rzscore) >= {MAD_P["threshold"]}
"""

# OLS trend mirror: identical EXACT integer index moments (HUGEINT
# sums here, decimal(38,0) on the Spark side — neither can wrap at any
# realistic series length), both converted to double (IEEE
# round-to-nearest in both engines) before the same double-arithmetic
# slope formula; same two float sums, same unquantized-slope intercept.
_TREND_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) AS y
  FROM events
), idx AS (
  SELECT user_id, y,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS BIGINT) AS i
  FROM e
), base AS (
  SELECT user_id, y, i FROM idx WHERE y IS NOT NULL
), agg AS (
  SELECT user_id,
         count(*) AS n,
         CAST(sum(i) AS DOUBLE) AS si,
         CAST(sum(CAST(i AS HUGEINT) * i) AS DOUBLE) AS si2,
         sum(y) AS sy,
         sum(i * y) AS siy
  FROM base GROUP BY user_id
), s AS (
  SELECT user_id, n,
         CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) * si2 - si * si) != 0 THEN
           (CAST(n AS DOUBLE) * siy - si * sy)
             / (CAST(n AS DOUBLE) * si2 - si * si)
         END AS slope,
         sy, si
  FROM agg
)
SELECT user_id, n,
       floor(slope * 1000000.0 + 0.5) / 1000000.0 AS slope,
       floor((sy - slope * si) / CAST(n AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS intercept
FROM s
"""

# Batch CUSUM mirror: the SAME prefix identity as the Spark operator
# (cumulative sum, then cumulative min of that sum) — both engines
# accumulate cumulative frames sequentially in frame order, so the
# floats reproduce; alarm is evaluated on the QUANTIZED statistic.
_CUSUM_SQL_BATCH = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) - CAST({CUSUM_P["target"] + CUSUM_P["slack"]}
             AS DOUBLE) AS y
  FROM events
), s AS (
  SELECT user_id, event_id, ts_us,
         sum(y) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
  FROM e
), c AS (
  SELECT user_id, event_id,
         floor((ps - least(CAST(0.0 AS DOUBLE),
                min(ps) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
               * 1000000.0 + 0.5) / 1000000.0 AS cusum
  FROM s
)
SELECT user_id, event_id, cusum,
       cusum > CAST({CUSUM_P["threshold"]} AS DOUBLE) AS alarm
FROM c
"""

# Streaming CUSUM mirror: replay the recursion max(0, acc + y) as a
# seed-0 prefix fold per row — the exact op order of cusum_stream.
# Rows before the series' first non-null value (empty fold list) emit
# NULL, matching both the stream's `seen` gate and the batch twin's
# empty-frame cumulative sum.
_CUSUM_SQL_STREAM = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) - CAST({CUSUM_P["target"] + CUSUM_P["slack"]}
             AS DOUBLE) AS y
  FROM events
), w AS (
  SELECT user_id, event_id,
         list(y) FILTER (y IS NOT NULL)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ys
  FROM e
), c AS (
  SELECT user_id, event_id,
         CASE WHEN len(ys) > 0 THEN
           floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys),
                 (acc, y) -> greatest(CAST(0.0 AS DOUBLE), acc + y))
                 * 1000000.0 + 0.5) / 1000000.0
         END AS cusum
  FROM w
)
SELECT user_id, event_id, cusum,
       cusum > CAST({CUSUM_P["threshold"]} AS DOUBLE) AS alarm
FROM c
"""


def _pagerank_oracle_sql() -> str:
    """Unrolled twin of operators.graph.pagerank over the MinHash-LSH
    pair graph: PAGERANK['n_iter'] chained CTEs, each mirroring one
    Spark round — sum(pr/deg) over the symmetric edges, damped and
    floor-quantized with the teleport term quantized separately
    (exactly the Spark expression: quantized constants + quantized
    damped sum, so the addition itself is drift-free)."""
    d = PAGERANK["damping"]
    rounds = []
    for t in range(1, PAGERANK["n_iter"] + 1):
        rounds.append(
            f"""p{t} AS (
  SELECT dg.v, dg.deg,
         floor((1.0 - {d}) / nn.n * 1000000.0 + 0.5) / 1000000.0
           + floor({d} * s.s * 1000000.0 + 0.5) / 1000000.0 AS pr
  FROM (
    SELECT e.a AS v, sum(p.pr / p.deg) AS s
    FROM e JOIN p{t - 1} p ON e.b = p.v GROUP BY e.a
  ) s JOIN deg dg USING (v), nn
)"""
        )
    chain = ",\n".join(rounds)
    last = PAGERANK["n_iter"]
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({ot.minhash_lsh_pairs_sql(**MINHASH)}) __p
), e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), deg AS (
  SELECT a AS v, count(*) AS deg FROM e GROUP BY a
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM deg
), p0 AS (
  SELECT v, deg, floor(1.0 / nn.n * 1000000.0 + 0.5) / 1000000.0 AS pr
  FROM deg, nn
),
{chain}
SELECT v AS doc_id, deg AS degree, pr AS pagerank FROM p{last}
"""


def _stl_oracle_sql() -> str:
    """Shared STL-lite SQL body (events_stl and the seasonal-anomaly
    capstone's CTE)."""
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         (epoch_us(ts) // 3600000000) % 24 AS hh,
         CAST(value AS DOUBLE) AS v
  FROM events
), t AS (
  SELECT user_id, event_id, hh, v,
         floor(avg(v) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN {STL["trend_window"]} PRECEDING
                      AND {STL["trend_window"]} FOLLOWING)
           * 1000000.0 + 0.5) / 1000000.0 AS trend
  FROM e
), d AS (
  SELECT *, v - trend AS det FROM t
), s AS (
  SELECT *, floor(avg(det) OVER (PARTITION BY user_id, hh)
                  * 1000000.0 + 0.5) / 1000000.0 AS seasonal
  FROM d
)
SELECT user_id, event_id, trend, seasonal,
       floor((det - seasonal) * 1000000.0 + 0.5) / 1000000.0 AS resid
FROM s
"""


def _hw_oracle_sql(*, unbounded: bool) -> str:
    """Holt-Winters mirror: flat-list state [l, t, s0..s_{m-1}] folded
    over [x, phase] elements with the exact expression trees of
    operators/timeseries.py:holt_winters. ``unbounded=False`` is the
    trailing-window batch twin (events_hw); ``unbounded=True`` replays
    the streaming recursion as an O(prefix) fold per row
    (events_hw_stream)."""
    m = HW_P["season"]
    a, b, g = HW_P["alpha"], HW_P["beta"], HW_P["gamma"]
    na, nb, ng = 1.0 - a, 1.0 - b, 1.0 - g
    sj = "acc[CAST(e[2] AS INT) + 3]"
    l1 = f"{a!r} * (e[1] - {sj}) + {na!r} * (acc[1] + acc[2])"
    t1 = f"{b!r} * (({l1}) - acc[1]) + {nb!r} * acc[2]"
    s1 = f"{g!r} * (e[1] - ({l1})) + {ng!r} * {sj}"
    zeros = ", ".join(["0.0"] * m)
    lam = (
        f"(acc, e) -> list_value({l1}, {t1}) || "
        f"list_transform(range(0, {m}), i -> "
        f"CASE WHEN CAST(i AS DOUBLE) = e[2] THEN {s1} ELSE acc[i + 3] END)"
    )
    frame = (
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        if unbounded
        else f"ROWS BETWEEN {HW_P['window'] - 1} PRECEDING AND CURRENT ROW"
    )
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) AS x
  FROM events
), p AS (
  SELECT user_id, event_id, ts_us, x,
         (row_number() OVER o - 1) % {m} AS j,
         CAST((row_number() OVER o - 1) % {m} AS DOUBLE) AS jd
  FROM e
  WINDOW o AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), w AS (
  SELECT user_id, event_id, j,
         list([x, jd]) FILTER (x IS NOT NULL)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 {frame}) AS vals
  FROM p
), f AS (
  SELECT user_id, event_id, j,
         CASE WHEN len(vals) > 0 THEN
           list_reduce(
             list_prepend(list_value(vals[1][1], 0.0, {zeros}),
                          list_slice(vals, 2, len(vals))),
             {lam})
         END AS hw
  FROM w
)
SELECT user_id, event_id,
       floor(hw[1] * 1000000.0 + 0.5) / 1000000.0 AS level,
       floor(hw[2] * 1000000.0 + 0.5) / 1000000.0 AS trend,
       floor(hw[j + 3] * 1000000.0 + 0.5) / 1000000.0 AS season_adj,
       floor((hw[1] + hw[2] + hw[((j + 1) % {m}) + 3]) * 1000000.0 + 0.5)
         / 1000000.0 AS forecast
FROM f
"""


def _backtest_sql(ewma_sql: str, holt_sql: str, hw_sql: str) -> str:
    """Rolling-origin one-step backtest: each method's QUANTIZED
    forecast (its own oracle, embedded as a CTE) against the next
    actual value of its series, MAE per method. The join keys and the
    lead() ordering are shared, so the three arms score identical
    evaluation sets except where a method has no forecast (NULL rows
    drop per arm — mirrored in the Spark composition)."""
    arms = []
    for method, sub, fcol in (
        ("ewma", ewma_sql, "ewma"),
        ("holt", holt_sql, "forecast"),
        ("holt_winters", hw_sql, "forecast"),
    ):
        arms.append(
            f"""SELECT '{method}' AS method, count(*) AS n_evals,
       floor(avg(abs(m.{fcol} - a.actual)) * 1000000.0 + 0.5)
         / 1000000.0 AS mae
FROM ({sub}) m JOIN actual a USING (user_id, event_id)
WHERE m.{fcol} IS NOT NULL AND a.actual IS NOT NULL"""
        )
    union = "\nUNION ALL\n".join(arms)
    return f"""
WITH actual AS (
  SELECT user_id, event_id,
         lead(CAST(value AS DOUBLE)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS actual
  FROM events
)
{union}
ORDER BY method
"""


_TOKEN_MASS_SQL = f"""
WITH d AS (
  SELECT CAST(len({ot.tokens_expr()}) AS BIGINT) AS n_tokens FROM documents
), v AS (
  SELECT n_tokens AS val, n_tokens AS w FROM d
  WHERE n_tokens IS NOT NULL AND n_tokens > 0
), tot AS (
  -- COALESCE mirrors the Spark side's empty contract: grid_quantiles
  -- coalesces total mass to 0 on an empty input, so the oracle must too
  SELECT COALESCE(CAST(sum(w) AS BIGINT), 0) AS n FROM v
), cnt AS (
  SELECT val, CAST(sum(w) AS BIGINT) AS c FROM v GROUP BY val
), cum AS (
  SELECT val, CAST(sum(c) OVER (ORDER BY val) AS BIGINT) AS cum FROM cnt
)
SELECT n AS total_tokens,
       (SELECT min(val) FROM cum WHERE cum >= (1 * n + 1) // 2) AS p50_len,
       (SELECT min(val) FROM cum WHERE cum >= (9 * n + 9) // 10) AS p90_len,
       (SELECT min(val) FROM cum WHERE cum >= (99 * n + 99) // 100) AS p99_len
FROM tot
"""


_PSI_SQL = """
WITH d AS (
  SELECT source, least(n_chars // 50, 19) AS b
  FROM documents WHERE n_chars IS NOT NULL
), cells AS (
  SELECT source, b, count(*) AS c FROM d GROUP BY source, b
), grp AS (SELECT source, sum(c) AS n_rows FROM cells GROUP BY source),
tot AS (SELECT count(*) AS n FROM d),
spine AS (
  SELECT g.source, g.n_rows, r.range AS b
  FROM grp g CROSS JOIN range(20) r
), filled AS (
  SELECT s.source, s.n_rows,
         COALESCE(c.c, 0) + 1 AS ca,
         COALESCE(p.cb, 0) + 1 AS cba
  FROM spine s
  LEFT JOIN (SELECT b, sum(c) AS cb FROM cells GROUP BY b) p USING (b)
  LEFT JOIN cells c ON c.source = s.source AND c.b = s.b
), terms AS (
  SELECT source, n_rows,
         (CAST(ca AS DOUBLE) / CAST(n_rows + 20 AS DOUBLE)
          - CAST(cba AS DOUBLE) / CAST((SELECT n FROM tot) + 20 AS DOUBLE))
         * ln((CAST(ca AS DOUBLE) / CAST(n_rows + 20 AS DOUBLE))
              / (CAST(cba AS DOUBLE)
                 / CAST((SELECT n FROM tot) + 20 AS DOUBLE))) AS t
  FROM filled
)
SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
       floor(sum(t) * 1000000.0 + 0.5) / 1000000.0 AS psi
FROM terms GROUP BY source, n_rows
"""


def oracle_sql() -> dict[str, str]:
    slide = oc.sliding_words_sql(SLIDE["n"], SLIDE["w"], SLIDE["c"])
    motifs = _tumbling_sql(TUMBLE_MOTIF)
    dist_words = _tumbling_sql(TUMBLE_DIST)
    fine_words = _tumbling_sql(TUMBLE_FINE)

    m_fine = oc.mindist_pattern_exprs(
        "sax_word", FINE_PATTERN, c=TUMBLE_FINE["c"], n_expr=str(TUMBLE_FINE["n"])
    )
    m_dist = oc.mindist_pattern_exprs(
        "sax_word", DIST_PATTERN, c=TUMBLE_DIST["c"], n_expr=str(TUMBLE_DIST["n"])
    )
    c16_words = _tumbling_sql(TUMBLE_C16)
    m_c16 = oc.mindist_pattern_exprs(
        "sax_word", "AEIMPLHD", c=TUMBLE_C16["c"], n_expr=str(TUMBLE_C16["n"])
    )
    m_pat1 = oc.mindist_pattern_exprs(
        "sax_word", ISAX_ML_PATTERN1, c=TUMBLE_DIST["c"],
        n_expr=str(TUMBLE_DIST["n"]),
    )
    m_pat2 = oc.mindist_pattern_exprs(
        "sax_word", ISAX_ML_PATTERN2, c=TUMBLE_DIST["c"],
        n_expr=str(TUMBLE_DIST["n"]),
    )

    w, c, n = TUMBLE_DIST["w"], TUMBLE_DIST["c"], TUMBLE_DIST["n"]

    def _allpairs_sql(
        delta: float,
        words_sql: str = None,
        w: int = TUMBLE_DIST["w"],
        c: int = TUMBLE_DIST["c"],
        n: int = TUMBLE_DIST["n"],
    ) -> str:
        return f"""
WITH words AS ({words_sql or dist_words}),
keyed AS (
  SELECT series_key * 10000 + window_id AS wkey, sax_word FROM words
),
pairs AS (
  SELECT a.wkey AS key_a, b.wkey AS key_b, a.sax_word AS wa, b.sax_word AS wb
  FROM keyed a JOIN keyed b ON a.wkey < b.wkey
),
contrib AS (
  SELECT p.key_a, p.key_b, lut.d2, lut.is_above
  FROM pairs p
  CROSS JOIN {oc.positions_values(w)}
  JOIN {oc.mindist_lut_values(c)}
    ON lut.la = substr(p.wa, pos.i, 1) AND lut.lb = substr(p.wb, pos.i, 1)
),
dists AS (
  SELECT key_a, key_b,
         round(sqrt(CAST({n} AS DOUBLE) / {w}) * sqrt(sum(d2)), 4) AS dist
  FROM contrib GROUP BY key_a, key_b
)
SELECT key_a, key_b, dist FROM dists WHERE dist <= {delta}
"""

    allpairs = _allpairs_sql(ALLPAIRS_DELTA)

    # prune-then-refine: recompute the exact z-normalized Euclidean
    # distance per candidate pair from raw values, independently of the
    # engine (same finite-only mu / population sigma / flat-window rules)
    from symtseries_spark.constants import STAT_EPS as _EPS

    refined = f"""
WITH cand AS ({_allpairs_sql(REFINE_DELTA)}),
ord AS (
  SELECT user_id AS series_key, value AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), pos AS (
  SELECT series_key, v,
         CAST(floor((rn - 1) / {n}) AS BIGINT) AS window_id,
         CAST((rn - 1) % {n} AS INT) AS p
  FROM ord
), wstats AS (
  SELECT series_key, window_id, avg(v) AS mu,
         coalesce(stddev_pop(v), 0.0) AS sigma
  FROM pos GROUP BY series_key, window_id HAVING count(*) = {n}
), z AS (
  SELECT p.series_key * 10000 + p.window_id AS wkey, p.p,
         CASE WHEN s.sigma < {_EPS} THEN 0.0 ELSE (p.v - s.mu) / s.sigma END AS z
  FROM pos p
  JOIN wstats s ON p.series_key = s.series_key AND p.window_id = s.window_id
)
SELECT c.key_a, c.key_b, c.dist,
       round(sqrt(sum((za.z - zb.z) * (za.z - zb.z))), 4) AS exact_dist
FROM cand c
JOIN z za ON za.wkey = c.key_a
JOIN z zb ON zb.wkey = c.key_b AND zb.p = za.p
GROUP BY c.key_a, c.key_b, c.dist
HAVING round(sqrt(sum((za.z - zb.z) * (za.z - zb.z))), 4) <= {REFINE_DELTA}
"""

    q1 = """
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_base_price,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2) AS sum_disc_price,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))) AS DOUBLE), 2) AS sum_charge,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_price,
  round(CAST(sum(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

    q3 = """
SELECT l.l_orderkey, o.o_orderdate,
  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1997-06-01'
  AND l.l_shipdate > TIMESTAMP '1997-06-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""

    q5 = """
SELECT n.n_name,
  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
"""

    q6 = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(l_discount AS DECIMAL(6,4)) BETWEEN CAST(0.05 AS DECIMAL(6,4)) AND CAST(0.07 AS DECIMAL(6,4))
  AND l_quantity < 24
"""

    out = {
        # Round-10 PassJoin query: the oracle is the DEFINITION — a
        # brute-force distinct-key pair scan (fine at oracle scale;
        # the |len diff| <= tau join predicate is implied by the
        # metric, not a semantic change) — while the Spark side runs
        # the blocked join. ASCII keys keep DuckDB's byte-level
        # levenshtein identical to Spark's codepoint one.
        "docs_fuzzy_prefix_pairs": f"""
WITH keys AS (
  SELECT DISTINCT array_to_string((string_split(text, ' '))[1:3], ' ') AS k
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
), pairs AS (
  SELECT levenshtein(a.k, b.k) AS dist
  FROM keys a JOIN keys b
    ON a.k < b.k AND abs(length(a.k) - length(b.k)) <= {FUZZY_TAU}
)
SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_pairs
FROM pairs WHERE dist BETWEEN 1 AND {FUZZY_TAU} GROUP BY dist
""",
        "docs_source_overlap": f"""
WITH sh AS (
  SELECT DISTINCT source, unnest({ot.shingles_expr(JACCARD["k"])}) AS sh
  FROM documents WHERE text IS NOT NULL
), sizes AS (
  SELECT source, count(*) AS n FROM sh GROUP BY source
), common AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT c.source_a, c.source_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(c.n_common AS BIGINT) AS n_common,
       floor(c.n_common / CAST(sa.n + sb.n - c.n_common AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM common c
JOIN sizes sa ON sa.source = c.source_a
JOIN sizes sb ON sb.source = c.source_b
""",
        "docs_fuzzy_incremental": f"""
WITH keyed AS (
  SELECT doc_id, array_to_string((string_split(text, ' '))[1:3], ' ') AS k
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
), lk AS (SELECT DISTINCT k FROM keyed WHERE doc_id % 2 = 1),
rk AS (SELECT DISTINCT k FROM keyed WHERE doc_id % 2 = 0),
pairs AS (
  SELECT levenshtein(a.k, b.k) AS dist
  FROM lk a JOIN rk b ON abs(length(a.k) - length(b.k)) <= {FUZZY_TAU}
)
SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_pairs
FROM pairs WHERE dist <= {FUZZY_TAU} GROUP BY dist
""",
        "docs_fuzzy_clusters": f"""
WITH RECURSIVE keyed AS (
  SELECT doc_id, array_to_string((string_split(text, ' '))[1:3], ' ') AS k
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
), kid AS (SELECT k, min(doc_id) AS kid FROM keyed GROUP BY k),
kpairs AS (
  SELECT a.kid AS ka, b.kid AS kb
  FROM kid a JOIN kid b
    ON a.k < b.k AND abs(length(a.k) - length(b.k)) <= {FUZZY_TAU}
  WHERE levenshtein(a.k, b.k) BETWEEN 1 AND {FUZZY_TAU}
), edges AS (
  SELECT ka AS a, kb AS b FROM kpairs
  UNION ALL
  SELECT kb AS a, ka AS b FROM kpairs
), conn(a, b) AS (
  SELECT kid, kid FROM kid
  UNION
  SELECT c.a, e.b FROM conn c JOIN edges e ON c.b = e.a
), canon AS (
  SELECT a AS kid, min(b) AS canonical_id FROM conn GROUP BY a
)
SELECT d.doc_id, c.canonical_id,
       d.doc_id <> c.canonical_id AS is_duplicate
FROM keyed d JOIN kid USING (k) JOIN canon c USING (kid)
ORDER BY d.doc_id
""",
        # Round-10 drift battery. Parity notes: p/q/e terms are
        # exact-rational doubles mirrored operation-for-operation
        # (IEEE-identical cross-engine); only PSI carries an ln, and
        # the 1e-6 output quantization absorbs libm ULP + grouped-sum
        # order drift (the dsir_logweights precedent). MWU is pure
        # integer/DECIMAL — exact.
        "docs_length_psi_by_source": _PSI_SQL,
        # The stream twin's final counters equal the batch cells
        # exactly (complete-mode groupBy), so it shares the batch
        # oracle bit-for-bit — the grid_quantiles_from_counts pattern.
        "docs_length_psi_stream": _PSI_SQL,
        "docs_lang_source_chisq": """
WITH d AS (
  SELECT lang, source FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
), cells AS (
  SELECT lang, source, count(*) AS c FROM d GROUP BY lang, source
), ma AS (SELECT lang, sum(c) AS na FROM cells GROUP BY lang),
mb AS (SELECT source, sum(c) AS nb FROM cells GROUP BY source),
tot AS (SELECT count(*) AS n FROM d),
grid AS (
  SELECT CAST(COALESCE(c.c, 0) AS DOUBLE) AS nd,
         CAST(ma.na AS DOUBLE) * CAST(mb.nb AS DOUBLE)
           / CAST((SELECT n FROM tot) AS DOUBLE) AS e
  FROM ma CROSS JOIN mb
  LEFT JOIN cells c ON c.lang = ma.lang AND c.source = mb.source
)
SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n,
       CAST((SELECT count(*) - 1 FROM ma)
            * (SELECT count(*) - 1 FROM mb) AS BIGINT) AS dof,
       floor(sum((nd - e) * (nd - e) / e) * 1000000.0 + 0.5)
         / 1000000.0 AS chisq
FROM grid
""",
        "events_mwu_click_purchase": """
WITH d AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
), per AS (
  SELECT v, sum(ia) AS ca, sum(1 - ia) AS cb FROM d GROUP BY v
), cum AS (
  SELECT ca, cb,
         COALESCE(sum(cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_b
  FROM per
), agg AS (
  SELECT sum(ca) AS na, sum(cb) AS nb,
         sum(CAST(ca AS DECIMAL(19,0))
             * CAST(2 * cum_b + cb AS DECIMAL(19,0))) AS u2
  FROM cum
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(u2 AS DOUBLE) / 2.0 AS u_a,
       floor(CAST(u2 AS DOUBLE)
             / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS auc
FROM agg
""",
        "sax_sliding_words": f"SELECT user_id, event_id, sax_word FROM ({slide})",
        "sax_word_transitions": f"""
WITH s AS ({oc.sliding_words_sql(SLIDE["n"], SLIDE["w"], SLIDE["c"], id_cols="user_id, event_id, ts")}),
h AS (
  SELECT user_id, sax_word AS word_from,
         lead(sax_word) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS word_to
  FROM s
)
SELECT word_from, word_to, count(*) AS n_transitions,
       count(DISTINCT user_id) AS n_series
FROM h
WHERE word_from NOT LIKE '%#%' AND word_to IS NOT NULL
  AND word_to NOT LIKE '%#%'
GROUP BY word_from, word_to
ORDER BY n_transitions DESC, word_from, word_to
LIMIT 20
""",
        # symbol entropy: Spark's log2 IS ln(x)/ln(2) (derived), so the
        # SQL mirrors that exact form; the quantized SUM absorbs
        # per-term libm ulp (off-grid ratios, not the on-grid trap)
        "sax_complexity": f"""
WITH w AS (
  SELECT user_id, sax_word FROM ({slide}) __s
  WHERE sax_word NOT LIKE '%#%'
), l AS (
  SELECT user_id, substr(sax_word, CAST(i AS INT), 1) AS sym
  FROM w, range(1, {SLIDE["w"] + 1}) t(i)
), c AS (
  SELECT user_id, sym, count(*) AS c FROM l GROUP BY user_id, sym
), t AS (
  SELECT user_id, sum(c) AS t FROM c GROUP BY user_id
)
SELECT c.user_id, CAST(min(t) AS BIGINT) AS n_symbols,
       floor((-sum((CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                   * (ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) / ln(2))))
             * 1000000.0 + 0.5) / 1000000.0 AS symbol_entropy
FROM c JOIN t USING (user_id) GROUP BY c.user_id
""",
        "sax_motifs": f"""
SELECT sax_word, count(*) AS occurrences,
       count(DISTINCT user_id) AS n_series
FROM ({slide}) __w
WHERE sax_word NOT LIKE '%#%'
GROUP BY sax_word
ORDER BY occurrences DESC, sax_word
LIMIT {SAX_MOTIF_K}
""",
        # the streaming form is semantics-identical to the plain sliding
        # plan -> same oracle
        "sax_sliding_stream": f"SELECT user_id, event_id, sax_word FROM ({slide})",
        "sax_event_windows": oc.event_time_words_sql(
            EVENT_WINDOW_DAYS, EVENT_WINDOW["w"], EVENT_WINDOW["c"]
        ),
        # the finalized stream (late data admitted under the watermark)
        # must equal the batch event-time windows exactly
        "sax_event_windows_stream": oc.event_time_words_sql(
            EVENT_WINDOW_DAYS, EVENT_WINDOW["w"], EVENT_WINDOW["c"]
        ),
        "sax_tumbling_motifs": (
            f"SELECT sax_word AS motif, count(*) AS occurrences "
            f"FROM ({motifs}) GROUP BY sax_word"
        ),
        "sax_whole_series": oc.whole_series_words_sql(WHOLE["w"], WHOLE["c"]),
        "sax_pattern_match": (
            f"SELECT series_key, window_id FROM ({motifs}) "
            f"WHERE sax_word = '{MOTIF_PATTERN}'"
        ),
        "sax_mindist_topk": (
            f"SELECT series_key, window_id, sax_word, round({m_fine['dist']}, 4) AS dist "
            f"FROM ({fine_words}) ORDER BY dist, series_key, window_id LIMIT {TOPK}"
        ),
        "sax_mindist_decomp": (
            f"SELECT series_key, window_id, sax_word, "
            f"round({m_dist['dist']}, 4) AS dist, "
            f"round({m_dist['above']}, 4) AS dist_above, "
            f"round({m_dist['below']}, 4) AS dist_below "
            f"FROM ({dist_words})"
        ),
        "sax_allpairs": allpairs,
        "sax_allpairs_refined": refined,
        "sax_c16_decomp": (
            f"SELECT series_key, window_id, sax_word, "
            f"round({m_c16['dist']}, 4) AS dist, "
            f"round({m_c16['above']}, 4) AS dist_above, "
            f"round({m_c16['below']}, 4) AS dist_below "
            f"FROM ({c16_words})"
        ),
        # nested-level pruning == pruning at the finest level (power-of-two
        # breakpoint tables nest exactly, so l1 equality implies l0)
        "sax_isax_ml_build": (
            f"SELECT series_key, window_id, sax_word, round({m_pat1['dist']}, 4) AS dist "
            f"FROM ({dist_words}) "
            f"WHERE translate(sax_word, '{_l8}', '{_coarse_map(ISAX_ML_LEVELS[-1])}') = "
            f"'{pk.coarsen(ISAX_ML_PATTERN1, TUMBLE_DIST['c'], ISAX_ML_LEVELS[-1])}' "
            f"ORDER BY dist, series_key, window_id LIMIT {TOPK}"
        ),
        "sax_isax_ml_probe": (
            f"SELECT series_key, window_id, sax_word, round({m_pat2['dist']}, 4) AS dist "
            f"FROM ({dist_words}) "
            f"WHERE translate(sax_word, '{_l8}', '{_coarse_map(ISAX_ML_LEVELS[-1])}') = "
            f"'{pk.coarsen(ISAX_ML_PATTERN2, TUMBLE_DIST['c'], ISAX_ML_LEVELS[-1])}' "
            f"ORDER BY dist, series_key, window_id LIMIT {TOPK}"
        ),
        "sax_tumbling_partial": oc.tumbling_words_sql(
            TUMBLE_MOTIF["n"], TUMBLE_MOTIF["w"], TUMBLE_MOTIF["c"],
            keep_partial=True,
        ),
        "tpch_q1": q1,
        "tpch_q3": q3,
        "tpch_q5": q5,
        "tpch_q6": q6,
        "tpch_q10": """
SELECT c.c_custkey, c.c_name, n.n_name,
  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-07-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
        "tpch_q7": """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
    OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
        "tpch_q13": """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""",
        "tpch_q18": """
SELECT c_name, c_custkey, o_orderkey,
       round(o_totalprice, 2) AS total_price, sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_price DESC, o_orderkey
""",
        "tpch_q19": """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_type LIKE 'PROMO%'
       AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_type LIKE 'ECONOMY%'
       AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'
       AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""",
        "tpch_q4": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
        "tpch_q8": """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(
         CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
                  THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE),
         6) AS mkt_share
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_type = 'ECONOMY'
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey AND r_name = 'ASIA'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
GROUP BY o_year ORDER BY o_year
""",
        "tpch_q9": """
SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_name LIKE '%widget%'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY n_name, o_year ORDER BY n_name, o_year DESC
""",
        "tpch_q15": """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(CAST(total_rev AS DOUBLE), 2) AS total_revenue
FROM rev JOIN supplier ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
""",
        "tpch_q21": """
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_r_supp,
         max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS r_suppkey
  FROM lineitem GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM per_order JOIN supplier ON s_suppkey = r_suppkey
WHERE n_supp >= 2 AND n_r_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
        "tpch_q2": """
WITH ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, ps.total_qty
FROM ps
JOIN part p ON p.p_partkey = ps.l_partkey
JOIN supplier s ON s.s_suppkey = ps.l_suppkey
WHERE p.p_size <= 15 AND p.p_type = 'ECONOMY'
  AND ps.total_qty = (
    SELECT max(ps2.total_qty) FROM ps ps2
    WHERE ps2.l_partkey = ps.l_partkey
  )
ORDER BY p.p_partkey, s.s_suppkey
LIMIT 50
""",
        "tpch_q11": """
WITH nval AS (
  SELECT l.l_partkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4))))
           AS value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_regionkey = 1
  GROUP BY l.l_partkey
)
SELECT l_partkey, round(CAST(value AS DOUBLE), 2) AS part_value
FROM nval
WHERE value > (SELECT sum(value) * 0.001 FROM nval)
ORDER BY part_value DESC, l_partkey
""",
        "tpch_q20": """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE EXISTS (
  SELECT 1
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_suppkey = s.s_suppkey AND p.p_name LIKE '%widget%'
  GROUP BY l.l_partkey
  HAVING sum(l.l_quantity) > 0.2 * (
    SELECT sum(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
  )
)
ORDER BY s.s_suppkey
""",
        "tpch_q16": """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 4, 7, 10, 15, 22, 25)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
        "events_rolling_1h": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
)
SELECT user_id, event_id,
       count(*) OVER fr AS n_1h,
       round(sum(value) OVER fr, 3) AS sum_1h
FROM e WINDOW fr AS (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN {ROLLING_RANGE_US} PRECEDING AND CURRENT ROW)
""",
        "events_anomaly": _ANOM_SQL,
        "events_anomaly_stream": _ANOM_SQL,
        # Rounding note: floor(x*1e6 + 0.5)/1e6 mirrors the engine's
        # operators.timeseries.quantize — every step is one IEEE double
        # op, so bit-identical folds quantize bit-identically on both
        # engines (round() ties can disagree at the 6th decimal).
        # list(x) FILTER (x IS NOT NULL) mirrors collect_list's
        # null-dropping (operators/timeseries.py ewma docstring).
        "events_acf": oc.autocorrelation_sql(max_lag=ACF_MAX_LAG),
        "events_changepoint": oc.changepoint_sql(),
        "events_dominant_period": f"""
WITH acf AS ({oc.autocorrelation_sql(max_lag=DOM_PERIOD_MAX_LAG)})
SELECT user_id, lag_k, acf, n_pairs FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY abs(acf) DESC, lag_k) AS rk
  FROM acf WHERE acf IS NOT NULL)
WHERE rk = 1
""",
        "events_changepoint2": oc.changepoint_segments_sql(),
        "dedup_pagerank": _pagerank_oracle_sql(),
        "events_hist_quantiles": f"""
WITH b AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
), st AS (
  SELECT min(v) AS lo, max(v) AS hi, count(*) AS n,
         quantile_cont(v, 0.5) AS e0,
         quantile_cont(v, 0.9) AS e1,
         quantile_cont(v, 0.99) AS e2
  FROM b
), h AS (
  SELECT CAST(CASE WHEN hi > lo
              THEN least(floor((v - lo) / ((hi - lo) / {HIST_BINS}.0)),
                         {HIST_BINS - 1})
              ELSE 0 END AS BIGINT) AS bin,
         count(*) AS c
  FROM b, st GROUP BY 1
), cum AS (
  SELECT bin, sum(c) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM h
), q AS (
  SELECT CAST(0.5 AS DOUBLE) AS quantile, round(e0, 6) AS exact,
         lo, hi, n FROM st
  UNION ALL
  SELECT CAST(0.9 AS DOUBLE), round(e1, 6), lo, hi, n FROM st
  UNION ALL
  SELECT CAST(0.99 AS DOUBLE), round(e2, 6), lo, hi, n FROM st
), sel AS (
  SELECT quantile, exact, lo, hi, min(bin) AS bin
  FROM q JOIN cum ON cm >= CAST(ceil(quantile * n) AS BIGINT)
  GROUP BY quantile, exact, lo, hi
), f AS (
  SELECT quantile, exact,
         CASE WHEN hi > lo
              THEN lo + (bin + 1) * ((hi - lo) / {HIST_BINS}.0)
              ELSE lo END AS est_raw
  FROM sel
)
SELECT quantile,
       floor(est_raw * 1000000.0 + 0.5) / 1000000.0 AS est,
       exact,
       floor(abs(est_raw - exact) * 1000000.0 + 0.5) / 1000000.0 AS abs_err
FROM f
""",
        "docs_zipf_slope": ot.zipf_fit_sql(top_v=ZIPF_TOP_V),
        "hybrid_rrf_topk": ot.hybrid_rrf_topk_sql(**HYBRID, dim=EMB_DIM),
        "docs_hot_ngram_cov": ot.hot_ngram_coverage_sql(
            k=HOT_NGRAM["k"], min_df=HOT_NGRAM["min_df"]
        ),
        "docs_bpe_merges": ot.bpe_merges_sql(n_merges=BPE_MERGES),
        "docs_bpe_apply": ot.bpe_apply_stats_sql(n_merges=BPE_MERGES),
        "docs_span_dedup": ot.span_dedup_sql(span_tokens=SPAN_TOKENS),
        "docs_span_dedup_stream": ot.span_dedup_sql(
            span_tokens=SPAN_TOKENS
        ),
        "emb_kcenter_coreset": ov.kcenter_coreset_sql(
            k=KCENTER_K, dim=EMB_DIM
        ),
        "emb_kcenter_assign": ov.kcenter_assign_sql(
            k=KCENTER_K, dim=EMB_DIM
        ),
        "dedup_keep_quality": f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ot.minhash_lsh_pairs_sql(**MINHASH)}) __p
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), conn(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT c.a, e.b FROM conn c JOIN edges e ON c.b = e.a
), canon AS (
  SELECT a AS doc_id, min(b) AS canonical_id FROM conn GROUP BY a
), q AS ({ot.quality_score_cte()}
), memb AS (
  SELECT c.doc_id, c.canonical_id, q.q_score
  FROM canon c JOIN q ON c.doc_id = q.doc_id
), pick AS (
  SELECT canonical_id, doc_id, q_score FROM (
    SELECT canonical_id, doc_id, q_score,
           row_number() OVER (
             PARTITION BY canonical_id
             ORDER BY q_score DESC, doc_id) AS r
    FROM memb)
  WHERE r = 1
)
SELECT p.canonical_id AS cluster_id, p.doc_id, p.q_score,
       d.lang, d.source
FROM pick p JOIN documents d ON d.doc_id = p.doc_id
""",
        "emb_jl_recall": ov.jl_recall_sql(
            max_query_id=RECALL["max_query_id"], k=RECALL["k"],
            out_dim=JL_DIM, dim=EMB_DIM,
        ),
        "emb_trunc_recall": ov.truncated_dim_recall_sql(
            max_query_id=RECALL["max_query_id"], k=RECALL["k"],
            trunc_dim=TRUNC_DIM, dim=EMB_DIM,
        ),
        "emb_int8_recall": ov.int8_recall_sql(
            max_query_id=RECALL["max_query_id"], k=RECALL["k"], dim=EMB_DIM,
        ),
        "emb_knn_label_acc": ov.knn_label_accuracy_sql(
            max_query_id=KNN_ACC["max_query_id"], k=KNN_ACC["k"],
            dim=EMB_DIM,
        ),
        "emb_pq_recall": ov.pq_recall_sql(
            max_query_id=RECALL["max_query_id"], k=RECALL["k"],
            m=PQ["m"], ks=PQ["ks"], dim=EMB_DIM,
        ),
        "emb_ivfpq_recall": ov.ivfpq_recall_sql(
            max_query_id=RECALL["max_query_id"], k=RECALL["k"],
            m=PQ["m"], ks=PQ["ks"],
            num_lists=IVF["num_lists"], nprobe=2, dim=EMB_DIM,
        ),
        "events_hw": _hw_oracle_sql(unbounded=False),
        "events_hw_stream": _hw_oracle_sql(unbounded=True),
        "events_stl": _stl_oracle_sql(),
        "events_stl_strength": f"""
WITH stl AS ({_stl_oracle_sql()}),
b AS (
  SELECT user_id, resid AS r, trend + resid AS tr, seasonal + resid AS sr
  FROM stl
), a AS (
  SELECT user_id, count(*) AS n,
         floor(avg(r) * 1000000.0 + 0.5) / 1000000.0 AS mr,
         floor(avg(tr) * 1000000.0 + 0.5) / 1000000.0 AS mtr,
         floor(avg(sr) * 1000000.0 + 0.5) / 1000000.0 AS msr,
         floor(avg(r * r) * 1000000.0 + 0.5) / 1000000.0 AS mr2,
         floor(avg(tr * tr) * 1000000.0 + 0.5) / 1000000.0 AS mtr2,
         floor(avg(sr * sr) * 1000000.0 + 0.5) / 1000000.0 AS msr2
  FROM b GROUP BY user_id
)
SELECT user_id, n,
       CASE WHEN (mtr2 - mtr * mtr) > 0 THEN greatest(0.0,
         floor((1.0 - (mr2 - mr * mr) / (mtr2 - mtr * mtr))
               * 1000000.0 + 0.5) / 1000000.0) END AS trend_strength,
       CASE WHEN (msr2 - msr * msr) > 0 THEN greatest(0.0,
         floor((1.0 - (mr2 - mr * mr) / (msr2 - msr * msr))
               * 1000000.0 + 0.5) / 1000000.0) END AS seasonal_strength
FROM a
""",
        "events_seasonal_anomaly": f"""
WITH stl AS ({_stl_oracle_sql()}),
sv AS (
  SELECT user_id, list_sort(list(resid)) AS sv FROM stl GROUP BY user_id
), m AS (
  SELECT user_id, sv,
         CASE WHEN len(sv) % 2 = 1 THEN sv[len(sv) // 2 + 1]
              ELSE (sv[len(sv) // 2] + sv[len(sv) // 2 + 1]) / 2.0
         END AS med
  FROM sv
), md AS (
  SELECT user_id, med,
         CASE WHEN len(dv) % 2 = 1 THEN dv[len(dv) // 2 + 1]
              ELSE (dv[len(dv) // 2] + dv[len(dv) // 2 + 1]) / 2.0
         END AS mad
  FROM (SELECT user_id, med,
               list_sort(list_transform(sv, x -> abs(x - med))) AS dv
        FROM m)
)
SELECT user_id, event_id, resid, rz FROM (
  SELECT s.user_id, s.event_id, s.resid,
         floor(0.6745 * (s.resid - md.med) / md.mad * 10000.0 + 0.5)
           / 10000.0 AS rz
  FROM stl s JOIN md USING (user_id)
  WHERE md.mad > 0
)
WHERE abs(rz) >= {SEASONAL_ANOM["threshold"]!r}
""",
        "events_ewma": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) AS x
  FROM events
), w AS (
  SELECT user_id, event_id,
         list(x) FILTER (x IS NOT NULL)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN {EWMA_P["window"] - 1} PRECEDING AND CURRENT ROW)
           AS vals
  FROM e
)
SELECT user_id, event_id,
       CASE WHEN len(vals) > 0 THEN
         floor(list_reduce(vals,
               (acc, x) -> CAST({EWMA_P["alpha"]} AS DOUBLE) * x
                         + CAST({1.0 - EWMA_P["alpha"]} AS DOUBLE) * acc)
               * 1000000.0 + 0.5) / 1000000.0
       END AS ewma
FROM w
""",
        "events_ewma_stream": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) AS x
  FROM events
), w AS (
  SELECT user_id, event_id,
         list(x) FILTER (x IS NOT NULL)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS vals
  FROM e
)
SELECT user_id, event_id,
       CASE WHEN len(vals) > 0 THEN
         floor(list_reduce(vals,
               (acc, x) -> CAST({EWMA_P["alpha"]} AS DOUBLE) * x
                         + CAST({1.0 - EWMA_P["alpha"]} AS DOUBLE) * acc)
               * 1000000.0 + 0.5) / 1000000.0
       END AS ewma
FROM w
""",
        "docs_top_terms": ot.top_terms_sql(
            topk=TOP_TERMS_K, min_len=TOP_TERMS_MIN_LEN
        ),
        "docs_repetition": ot.repetition_sql(),
        "docs_gopher_repetition": ot.gopher_repetition_sql(),
        "docs_exact_substring": ot.exact_substring_sql(
            window_tokens=EXSUB_TOKENS
        ),
        "docs_exact_substring_dedup": ot.exact_substring_dedup_sql(
            window_tokens=EXSUB_TOKENS
        ),
        "docs_line_dedup": ot.line_dedup_sql(sep=LINE_SEP),
        "docs_dup_source_matrix": ot.dup_source_matrix_sql(
            table=f"""(
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {DHASH_TWIN_OFF}, text, 'mirror' AS source
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + {2 * DHASH_TWIN_OFF}, text, source
  FROM documents WHERE doc_id % 11 = 0
) planted"""
        ),
        "media_frame_clusters": f"""
WITH RECURSIVE m0 AS (
  SELECT doc_id FROM documents WHERE len(text) > 0
  UNION ALL
  SELECT doc_id + {DHASH_TWIN_OFF} FROM documents
  WHERE doc_id % {DHASH_TWIN_MOD} = 0 AND len(text) >= 63
), fpairs AS (
  SELECT media_a, media_b
  FROM ({om.frame_dedup_sql(
      frame_size=FRAME["frame_size"], every_n=FRAME["every_n"],
      max_hamming=FRAME_DEDUP_HAM, twin_mod=DHASH_TWIN_MOD,
      twin_off=DHASH_TWIN_OFF,
  )}) __f
  WHERE n_matched >= 2
), edges AS (
  SELECT media_a AS a, media_b AS b FROM fpairs
  UNION ALL
  SELECT media_b AS a, media_a AS b FROM fpairs
), conn(a, b) AS (
  SELECT doc_id, doc_id FROM m0
  UNION
  SELECT c.a, e.b FROM conn c JOIN edges e ON c.b = e.a
), canon AS (
  SELECT a AS media_id, min(b) AS canonical_id FROM conn GROUP BY a
), sizes AS (
  SELECT canonical_id, count(*) AS cluster_size FROM canon
  GROUP BY canonical_id
)
SELECT c.media_id, c.canonical_id, s.cluster_size,
       c.media_id <> c.canonical_id AS is_duplicate
FROM canon c JOIN sizes s USING (canonical_id)
WHERE s.cluster_size > 1
ORDER BY c.media_id
""",
        "events_dq_audit": """
WITH m AS (
  SELECT
    CAST(count(user_id) AS BIGINT) AS c_uid,
    CAST(count(DISTINCT event_id) AS BIGINT) AS d_eid,
    CAST(count(*) AS BIGINT) AS n,
    CAST(min(epoch_us(ts) // 86400000000) AS DOUBLE) AS min_day,
    CAST(max(epoch_us(ts) // 86400000000) AS DOUBLE) AS max_day,
    CAST(sum(CASE WHEN event_type IN
             ('click','error','purchase','signup','view')
             THEN 1 ELSE 0 END) AS BIGINT) AS c_in,
    CAST(sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS c_nn,
    CAST(sum(CASE WHEN regexp_matches(props, '^\\{')
             THEN 1 ELSE 0 END) AS BIGINT) AS c_re
  FROM events
)
SELECT 'completeness' AS check_name, 'user_id' AS col_name,
       c_uid / n AS metric, c_uid / n >= 1.0 AS passed FROM m
UNION ALL
SELECT 'distinctness', 'event_id', d_eid / n, d_eid / n >= 1.0 FROM m
UNION ALL
SELECT 'min', 'day', min_day, min_day >= 19700.0 FROM m
UNION ALL
SELECT 'max', 'day', max_day, max_day <= 19760.0 FROM m
UNION ALL
SELECT 'in_set', 'event_type', c_in / n, c_in / n >= 1.0 FROM m
UNION ALL
SELECT 'non_negative', 'value', c_nn / n, c_nn / n >= 1.0 FROM m
UNION ALL
SELECT 'regex', 'props', c_re / n, c_re / n >= 1.0 FROM m
""",
        "emb_ivf_batch": ov.ivf_batch_topk_sql(
            query_mod=50,
            query_rem=3,
            k=5,
            num_lists=IVF["num_lists"],
            nprobe=2,
            dim=EMB_DIM,
        ),
        "docs_ingest_funnel": f"""
WITH inc AS (
  SELECT doc_id + {3 * DHASH_TWIN_OFF} AS doc_id, text, lang, source,
         CASE WHEN doc_id % 13 = 0 THEN n_chars + 1 ELSE n_chars END
           AS n_chars
  FROM documents WHERE doc_id % 5 = 4
  UNION ALL
  SELECT doc_id + {2 * DHASH_TWIN_OFF}, text, lang, source, n_chars
  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 5 != 4
  UNION ALL
  SELECT doc_id + {DHASH_TWIN_OFF}, 'relisted ' || text, lang, source,
         length('relisted ' || text)
  FROM documents WHERE doc_id % 10 = 0
), oldh AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 != 4
), near AS (
  SELECT DISTINCT CASE WHEN p.doc_a >= {DHASH_TWIN_OFF}
         THEN p.doc_a ELSE p.doc_b END AS doc_id
  FROM ({ot.minhash_lsh_pairs_sql(
      table=f'''(
    SELECT doc_id, text FROM documents WHERE doc_id % 5 != 4
    UNION ALL
    SELECT doc_id + {3 * DHASH_TWIN_OFF}, text
    FROM documents WHERE doc_id % 5 = 4
    UNION ALL
    SELECT doc_id + {2 * DHASH_TWIN_OFF}, text
    FROM documents WHERE doc_id % 11 = 0 AND doc_id % 5 != 4
    UNION ALL
    SELECT doc_id + {DHASH_TWIN_OFF}, 'relisted ' || text
    FROM documents WHERE doc_id % 10 = 0
  ) pool''',
      **MINHASH,
  )}) p
  WHERE (p.doc_a >= {DHASH_TWIN_OFF}) <> (p.doc_b >= {DHASH_TWIN_OFF})
), flags AS (
  SELECT i.source,
         (length(i.text) = i.n_chars
          AND i.lang IN ('de','en','es','fr','zh')
          AND regexp_matches(i.text, '^\\S')) AS dq,
         (md5(i.text) IN (SELECT h FROM oldh)) AS ex,
         (i.doc_id IN (SELECT doc_id FROM near)) AS nr
  FROM inc i
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_incoming,
       CAST(sum(CASE WHEN NOT dq THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dq_fail,
       CAST(sum(CASE WHEN dq AND ex THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dup,
       CAST(sum(CASE WHEN dq AND NOT ex AND nr THEN 1 ELSE 0 END)
            AS BIGINT) AS n_near_dup,
       CAST(sum(CASE WHEN dq AND NOT ex AND NOT nr THEN 1 ELSE 0 END)
            AS BIGINT) AS n_admitted
FROM flags
GROUP BY source
""",
        "emb_ivfpq_residual_topk": ov.ivfpq_residual_topk_sql(
            query_id=IVF["query_id"],
            k=IVF["k"],
            m=PQ["m"],
            ks=PQ["ks"],
            num_lists=IVF["num_lists"],
            nprobe=2,
            dim=EMB_DIM,
        ),
        "events_zorder_at_rest": """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
         AS n_days,
       CAST(min(event_id) AS BIGINT) AS min_event_id
FROM events
WHERE user_id BETWEEN 2 AND 9
  AND epoch_us(ts) // 86400000000 BETWEEN 19730 AND 19737
GROUP BY event_type
""",
        "docs_dq_stream": """
WITH m AS (
  SELECT
    CAST(count(text) AS BIGINT) AS c_text,
    CAST(count(lang) AS BIGINT) AS c_lang,
    CAST(count(*) AS BIGINT) AS n,
    CAST(min(n_chars) AS DOUBLE) AS min_chars,
    CAST(max(n_chars) AS DOUBLE) AS max_chars,
    CAST(sum(CASE WHEN lang IN ('de','en','es','fr','zh')
             THEN 1 ELSE 0 END) AS BIGINT) AS c_in,
    CAST(sum(CASE WHEN regexp_matches(text, '^\\S')
             THEN 1 ELSE 0 END) AS BIGINT) AS c_re,
    CAST(sum(CASE WHEN length(text) = n_chars
             THEN 1 ELSE 0 END) AS BIGINT) AS c_pred
  FROM documents
)
SELECT 'completeness' AS check_name, 'text' AS col_name,
       c_text / n AS metric, c_text / n >= 1.0 AS passed FROM m
UNION ALL
SELECT 'completeness', 'lang', c_lang / n, c_lang / n >= 1.0 FROM m
UNION ALL
SELECT 'min', 'n_chars', min_chars, min_chars >= 1.0 FROM m
UNION ALL
SELECT 'max', 'n_chars', max_chars, max_chars <= 20000.0 FROM m
UNION ALL
SELECT 'in_set', 'lang', c_in / n, c_in / n >= 1.0 FROM m
UNION ALL
SELECT 'regex', 'text', c_re / n, c_re / n >= 0.99 FROM m
UNION ALL
SELECT 'chars_match', 'n_chars', c_pred / n, c_pred / n >= 1.0 FROM m
""",
        "docs_lsh_at_rest": ot.lsh_probe_sql(
            k=MINHASH["k"],
            num_hashes=MINHASH["num_hashes"],
            bands=MINHASH["bands"],
            threshold=MINHASH["threshold"],
            seed=MINHASH["seed"],
        ),
        "media_dedup_stream": om.dhash_stream_dedup_sql(
            max_hamming=DHASH_HAM,
            bands=DHASH_BANDS,
            twin_mod=DHASH_TWIN_MOD,
            twin_off=DHASH_TWIN_OFF,
        ),
        "docs_snapshot_relink": f"""
WITH cross_links AS (
  SELECT CASE WHEN p.doc_a < {DHASH_TWIN_OFF} AND p.doc_a % 5 = 0
         THEN p.doc_a ELSE p.doc_b END AS removed_id,
         CASE WHEN p.doc_a < {DHASH_TWIN_OFF} AND p.doc_a % 5 = 0
         THEN p.doc_b ELSE p.doc_a END AS new_id,
         p.est_jaccard
  FROM ({ot.minhash_lsh_pairs_sql(
      table=f'''(
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
    UNION ALL
    SELECT doc_id + {DHASH_TWIN_OFF}, 'relisted ' || text
    FROM documents WHERE doc_id % 10 = 0
  ) pool''',
      **MINHASH,
  )}) p
  WHERE (p.doc_a < {DHASH_TWIN_OFF} AND p.doc_a % 5 = 0)
     <> (p.doc_b < {DHASH_TWIN_OFF} AND p.doc_b % 5 = 0)
)
SELECT removed_id, new_id, est_jaccard FROM (
  SELECT removed_id, new_id, est_jaccard,
         row_number() OVER (PARTITION BY removed_id
                            ORDER BY est_jaccard DESC, new_id) AS r
  FROM cross_links)
WHERE r = 1
""",
        "events_dtw_topk": oc.dtw_topk_sql(k=10, band=3),
        "events_dtw_stream": oc.dtw_topk_sql(k=10, band=3),
        "events_frechet_topk": oc.frechet_topk_sql(k=10, band=3),
        "text_bm25_at_rest": ot.bm25_at_rest_sql(**BM25),
        "text_phrase_at_rest": ot.phrase_at_rest_sql(),
        "emb_kmeanspar_assign": ov.kmeans_parallel_assign_sql(
            k=8, dim=64, rounds=3, recluster_iters=2
        ),
        "emb_kmeanspar_init": ov.kmeans_parallel_init_sql(
            k=8, dim=64, rounds=3
        ),
        "docs_suffix_array": ot.suffix_array_sql(
            table=_SUFFIX_CORPUS_SQL
        ),
        "docs_longest_dup_span": ot.longest_dup_span_sql(
            table=_SUFFIX_CORPUS_SQL
        ),
        "docs_dq_audit": """
WITH m AS (
  SELECT
    CAST(count(text) AS BIGINT) AS c_text,
    CAST(count(lang) AS BIGINT) AS c_lang,
    CAST(count(DISTINCT doc_id) AS BIGINT) AS d_id,
    CAST(count(*) AS BIGINT) AS n,
    CAST(min(n_chars) AS DOUBLE) AS min_chars,
    CAST(max(n_chars) AS DOUBLE) AS max_chars,
    CAST(sum(CASE WHEN lang IN ('de','en','es','fr','zh')
             THEN 1 ELSE 0 END) AS BIGINT) AS c_in,
    CAST(sum(CASE WHEN regexp_matches(text, '^\\S')
             THEN 1 ELSE 0 END) AS BIGINT) AS c_re,
    CAST(sum(CASE WHEN length(text) = n_chars
             THEN 1 ELSE 0 END) AS BIGINT) AS c_pred
  FROM documents
)
SELECT 'completeness' AS check_name, 'text' AS col_name,
       c_text / n AS metric, c_text / n >= 1.0 AS passed FROM m
UNION ALL
SELECT 'completeness', 'lang', c_lang / n, c_lang / n >= 1.0 FROM m
UNION ALL
SELECT 'distinctness', 'doc_id', d_id / n, d_id / n >= 1.0 FROM m
UNION ALL
SELECT 'min', 'n_chars', min_chars, min_chars >= 1.0 FROM m
UNION ALL
SELECT 'max', 'n_chars', max_chars, max_chars <= 20000.0 FROM m
UNION ALL
SELECT 'in_set', 'lang', c_in / n, c_in / n >= 1.0 FROM m
UNION ALL
SELECT 'regex', 'text', c_re / n, c_re / n >= 0.99 FROM m
UNION ALL
SELECT 'chars_match', 'n_chars', c_pred / n, c_pred / n >= 1.0 FROM m
""",
        "tpch_dq_orphans": """
SELECT 'orders->customer' AS edge,
       CAST(count(*) AS BIGINT) AS n_child,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_keys,
       CAST(sum(CASE WHEN o_custkey IS NOT NULL AND o_custkey NOT IN
             (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM orders
UNION ALL
SELECT 'lineitem->orders',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND l_orderkey NOT IN
             (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
             THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'customer->nation',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN c_nationkey IS NOT NULL AND c_nationkey NOT IN
             (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
             THEN 1 ELSE 0 END) AS BIGINT)
FROM customer
UNION ALL
SELECT 'supplier->nation',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN s_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN s_nationkey IS NOT NULL AND s_nationkey NOT IN
             (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
             THEN 1 ELSE 0 END) AS BIGINT)
FROM supplier
UNION ALL
SELECT 'nation->region',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN n_regionkey IS NOT NULL AND n_regionkey NOT IN
             (SELECT r_regionkey FROM region WHERE r_regionkey IS NOT NULL)
             THEN 1 ELSE 0 END) AS BIGINT)
FROM nation
UNION ALL
SELECT 'orders->customer_degraded',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IS NOT NULL AND o_custkey NOT IN
             (SELECT c_custkey FROM customer
              WHERE c_custkey IS NOT NULL AND c_custkey % 10 != 3)
             THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
""",
        "docs_snapshot_diff": """
WITH old AS (
  SELECT doc_id, md5(text) AS ho FROM documents WHERE doc_id % 5 != 4
), new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 3 THEN 'recrawled ' || text
             ELSE text END) AS hn
  FROM documents WHERE doc_id % 5 != 0
), d AS (
  SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
         CASE WHEN ho IS NULL THEN 'added'
              WHEN hn IS NULL THEN 'removed'
              WHEN ho <> hn THEN 'modified'
              ELSE 'unchanged' END AS status
  FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
)
SELECT source,
       CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(sum(CASE WHEN status = 'modified' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_modified,
       CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unchanged
FROM d JOIN documents USING (doc_id)
GROUP BY source
""",
        "media_frame_dedup": om.frame_dedup_sql(
            frame_size=FRAME["frame_size"],
            every_n=FRAME["every_n"],
            max_hamming=FRAME_DEDUP_HAM,
            twin_mod=DHASH_TWIN_MOD,
            twin_off=DHASH_TWIN_OFF,
        ),
        "docs_line_dedup_stream": ot.line_dedup_sql(sep=LINE_SEP),
        "emb_ivfpq_topk": ov.ivfpq_topk_sql(
            query_id=IVF["query_id"],
            k=IVF["k"],
            m=PQ["m"],
            ks=PQ["ks"],
            num_lists=IVF["num_lists"],
            nprobe=2,
            dim=EMB_DIM,
        ),
        "docs_split_leakage": f"""
WITH sp AS ({ot.split_sql(SPLITS)}),
h AS (
  SELECT sp.split, {ot.hash60(ot.normalized_expr('d.text'))} AS h
  FROM documents d JOIN sp ON d.doc_id = sp.doc_id
), per_h AS (
  SELECT h,
         sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS nt,
         sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS nv,
         sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS ns
  FROM h GROUP BY h
), ex AS (
  SELECT CAST(coalesce(sum(nt * nv), 0) AS BIGINT) AS exact_train_val,
         CAST(coalesce(sum(nt * ns), 0) AS BIGINT) AS exact_train_test,
         CAST(coalesce(sum(nv * ns), 0) AS BIGINT) AS exact_val_test
  FROM per_h
), mh AS ({ot.minhash_lsh_pairs_sql(**MINHASH)}),
near AS (
  SELECT sa.split AS s1, sb.split AS s2
  FROM mh JOIN sp sa ON mh.doc_a = sa.doc_id
          JOIN sp sb ON mh.doc_b = sb.doc_id
  WHERE sa.split != sb.split
), nr AS (
  SELECT CAST(coalesce(sum(CASE WHEN (s1 = 'train' AND s2 = 'val')
                       OR (s1 = 'val' AND s2 = 'train') THEN 1 ELSE 0 END),
              0) AS BIGINT) AS near_train_val,
         CAST(coalesce(sum(CASE WHEN (s1 = 'train' AND s2 = 'test')
                       OR (s1 = 'test' AND s2 = 'train') THEN 1 ELSE 0 END),
              0) AS BIGINT) AS near_train_test,
         CAST(coalesce(sum(CASE WHEN (s1 = 'val' AND s2 = 'test')
                       OR (s1 = 'test' AND s2 = 'val') THEN 1 ELSE 0 END),
              0) AS BIGINT) AS near_val_test
  FROM near
)
SELECT ex.*, nr.* FROM ex, nr
""",
        "docs_weighted_sample": """
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         round(ln(((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':es'), 1, 15) AS BIGINT)) % 1048576 + 1) / 1048577.0)
               / CAST(n_chars AS DOUBLE), 6) + 0.0 AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT source, doc_id, n_chars, es_key, sample_rank FROM (
  SELECT keyed.*, row_number() OVER (
           PARTITION BY source ORDER BY es_key DESC, doc_id
         ) AS sample_rank
  FROM keyed)
WHERE sample_rank <= 5
""",
        "docs_quality_sweep": f"""
WITH q AS ({ot.quality_score_cte()}),
g AS (SELECT * FROM (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),(0.7),
                            (0.8),(0.9)) t(threshold))
SELECT CAST(g.threshold AS DOUBLE) AS threshold, count(*) AS n_docs,
       CAST(sum(CASE WHEN q.q_score >= g.threshold THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep,
       round(CAST(sum(CASE WHEN q.q_score >= g.threshold THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS keep_rate
FROM q, g GROUP BY g.threshold
""",
        "docs_gopher_filter": f"""
WITH m AS ({ot.gopher_repetition_sql()}),
k AS (
  SELECT d.source,
         CASE WHEN m.top2_frac < 0.20 AND m.top3_frac < 0.18
               AND m.top4_frac < 0.16 AND m.dup5_frac < 0.15
               AND m.dup10_frac < 0.10 THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN m ON d.doc_id = m.doc_id
)
SELECT source, count(*) AS n_docs,
       CAST(sum(keep) AS BIGINT) AS n_keep,
       round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS keep_rate
FROM k GROUP BY source
""",
        "docs_lang_confusion": f"""
SELECT d.lang, q.lang_pred, count(*) AS n_docs
FROM documents d JOIN ({ot.text_quality_sql()}) q ON d.doc_id = q.doc_id
GROUP BY d.lang, q.lang_pred
ORDER BY d.lang, q.lang_pred
""",
        "docs_bloom_prefilter": ot.bloom_prefilter_sql(**BLOOM),
        "emb_pq_topk": ov.pq_topk_sql(**PQ),
        "emb_dedup_keep": f"""
WITH RECURSIVE pairs AS (
  SELECT vec_a, vec_b FROM ({ov.embedding_near_dup_lsh_sql(
      threshold=EMB_NEAR_DUP_LSH, num_planes=NEAR_DUP_PLANES,
      seed=13, dim=EMB_DIM)}) __p
), edges AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION ALL
  SELECT vec_b AS a, vec_a AS b FROM pairs
), conn(a, b) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT c.a, e.b FROM conn c JOIN edges e ON c.b = e.a
), canon AS (
  SELECT a AS vec_id, min(b) AS canonical_id FROM conn GROUP BY a
)
SELECT v.vec_id, v.label
FROM embeddings v JOIN canon c ON v.vec_id = c.vec_id
WHERE c.vec_id = c.canonical_id
ORDER BY v.vec_id
""",
        "docs_corpus_filter": f"""
WITH q AS ({ot.text_quality_sql()}),
r AS ({ot.repetition_sql()})
SELECT d.doc_id, d.lang, q.quality_score, r.top_share
FROM documents d
JOIN q ON d.doc_id = q.doc_id
JOIN r ON d.doc_id = r.doc_id
WHERE q.quality_score >= {CORPUS_FILTER["min_quality"]}
  AND q.lang_pred = d.lang
  AND r.top_share <= {CORPUS_FILTER["max_top_share"]}
ORDER BY d.doc_id
""",
        "events_dow_hour": """
SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
       (epoch_us(ts) // 3600000000) % 24 AS hour,
       count(*) AS n_events
FROM events
GROUP BY dow, hour
ORDER BY dow, hour
""",
        "events_retention": f"""
WITH e AS (
  SELECT user_id,
         epoch_us(ts) // {RETENTION_BUCKET_DAYS * 86400 * 1_000_000} AS b
  FROM events
), act AS (SELECT DISTINCT user_id, b FROM e),
fst AS (SELECT user_id, min(b) AS cohort FROM e GROUP BY user_id)
SELECT f.cohort, a.b - f.cohort AS period_offset,
       count(DISTINCT a.user_id) AS n_users
FROM act a JOIN fst f ON a.user_id = f.user_id
GROUP BY f.cohort, period_offset
ORDER BY f.cohort, period_offset
""",
        "events_cube": """
SELECT event_type,
       epoch_us(ts) // 86400000000 AS day,
       CAST(grouping(event_type) * 2 + grouping(day) AS BIGINT) AS gid,
       count(*) AS n,
       round(sum(value), 3) AS sum_value
FROM events
GROUP BY CUBE (event_type, day)
""",
        "events_late_drop": f"""
WITH e AS (
  SELECT event_id, epoch_us(ts) AS us, value FROM events
), mb AS (
  SELECT max(us // {LATE_SPAN_DAYS * 86400 * 1_000_000}) AS maxbid FROM e
), keep AS (
  SELECT us, value FROM e, mb
  WHERE NOT (
    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0
    AND us // {LATE_SPAN_DAYS * 86400 * 1_000_000} <= maxbid - 3
  )
)
SELECT (us // {LATE_SPAN_DAYS * 86400 * 1_000_000})
         * {LATE_SPAN_DAYS * 86400 * 1_000_000} AS window_start_us,
       count(*) AS n_events,
       round(sum(value), 3) AS sum_value
FROM keep GROUP BY window_start_us
""",
        "docs_cms_terms": ot.cms_terms_sql(
            **CMS, topk=TOP_TERMS_K, min_len=TOP_TERMS_MIN_LEN
        ),
        "docs_cms_stream": ot.cms_terms_sql(
            **CMS, topk=TOP_TERMS_K, min_len=TOP_TERMS_MIN_LEN
        ),
        "events_funnel": f"""
WITH s0 AS (
  SELECT user_id,
         min(CASE WHEN event_type = '{FUNNEL_STAGES[0]}'
                  THEN epoch_us(ts) END) AS t0
  FROM events GROUP BY user_id
), s1 AS (
  SELECT e.user_id, s0.t0,
         min(CASE WHEN e.event_type = '{FUNNEL_STAGES[1]}'
                   AND epoch_us(e.ts) > s0.t0
                  THEN epoch_us(e.ts) END) AS t1
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  GROUP BY e.user_id, s0.t0
), s2 AS (
  SELECT e.user_id, s1.t0, s1.t1,
         min(CASE WHEN e.event_type = '{FUNNEL_STAGES[2]}'
                   AND epoch_us(e.ts) > s1.t1
                  THEN epoch_us(e.ts) END) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  GROUP BY e.user_id, s1.t0, s1.t1
)
SELECT 0 AS stage_idx, '{FUNNEL_STAGES[0]}' AS stage, count(t0) AS n_entities FROM s2
UNION ALL
SELECT 1, '{FUNNEL_STAGES[1]}', count(t1) FROM s2
UNION ALL
SELECT 2, '{FUNNEL_STAGES[2]}', count(t2) FROM s2
""",
        "events_funnel_stream": f"""
WITH s0 AS (
  SELECT user_id,
         min(CASE WHEN event_type = '{FUNNEL_STAGES[0]}'
                  THEN epoch_us(ts) END) AS t0
  FROM events GROUP BY user_id
), s1 AS (
  SELECT e.user_id, s0.t0,
         min(CASE WHEN e.event_type = '{FUNNEL_STAGES[1]}'
                   AND epoch_us(e.ts) > s0.t0
                  THEN epoch_us(e.ts) END) AS t1
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  GROUP BY e.user_id, s0.t0
), s2 AS (
  SELECT e.user_id, s1.t0, s1.t1,
         min(CASE WHEN e.event_type = '{FUNNEL_STAGES[2]}'
                   AND epoch_us(e.ts) > s1.t1
                  THEN epoch_us(e.ts) END) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  GROUP BY e.user_id, s1.t0, s1.t1
)
SELECT user_id, 0 AS stage_idx, '{FUNNEL_STAGES[0]}' AS stage, t0 AS ts_us
FROM s2 WHERE t0 IS NOT NULL
UNION ALL
SELECT user_id, 1, '{FUNNEL_STAGES[1]}', t1 FROM s2 WHERE t1 IS NOT NULL
UNION ALL
SELECT user_id, 2, '{FUNNEL_STAGES[2]}', t2 FROM s2 WHERE t2 IS NOT NULL
""",
        "docs_stratified_sample": ot.stratified_sample_sql(
            stratum="lang", fraction=SAMPLE_FRACTION,
        ),
        "docs_pack_shards": ot.pack_shards_sql(
            shard_tokens=SHARD_TOKENS, group="lang",
        ),
        "docs_kmv_distinct": f"""
WITH d AS (
  SELECT DISTINCT lang, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
  FROM documents
), r AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM d
), a AS (
  SELECT lang, count(*) AS n_exact,
         max(CASE WHEN rn = {KMV_K} THEN h END) AS kth
  FROM r GROUP BY lang
)
SELECT lang, n_exact,
       round(CASE WHEN kth IS NOT NULL
                  THEN {float(KMV_K - 1)} * 1152921504606846976.0 / kth
                  ELSE CAST(n_exact AS DOUBLE) END, 3) AS est_distinct
FROM a ORDER BY lang
""",
        "events_asof_tolerance": f"""
WITH c AS (
  SELECT user_id, event_id AS click_event_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id AS purchase_event_id, epoch_us(ts) AS p_ts_us
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT c.user_id, c.click_event_id, c.ts_us,
         p.purchase_event_id, p.p_ts_us
  FROM c ASOF LEFT JOIN p
    ON c.user_id = p.user_id AND p.p_ts_us <= c.ts_us
)
SELECT user_id, click_event_id,
       CASE WHEN p_ts_us >= ts_us - {ASOF_TOL_US}
            THEN purchase_event_id END AS purchase_event_id
FROM m ORDER BY click_event_id
""",
        "events_asof_join": """
WITH c AS (
  SELECT user_id, event_id AS click_event_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id AS purchase_event_id, epoch_us(ts) AS p_ts_us, value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_event_id, p.purchase_event_id,
       round(p.value, 6) AS purchase_value,
       floor((c.ts_us - p.p_ts_us) / 1000000.0 * 1000.0 + 0.5) / 1000.0 AS gap_sec
FROM c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND p.p_ts_us <= c.ts_us
ORDER BY c.click_event_id
""",
        "events_interval_agg": f"""
WITH p AS (
  SELECT user_id, event_id AS purchase_event_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, epoch_us(ts) AS c_us, value
  FROM events WHERE event_type = 'click'
)
SELECT p.user_id, p.purchase_event_id,
       count(c.c_us) AS n_clicks,
       round(coalesce(sum(c.value), 0.0), 6) AS sum_click_value
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.c_us > p.p_us AND c.c_us <= p.p_us + {INTERVAL_SPAN_US}
GROUP BY p.user_id, p.purchase_event_id
ORDER BY p.purchase_event_id
""",
        "events_sessions": f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
), f AS (
  SELECT user_id, ts_us, value,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), g AS (
  SELECT user_id, ts_us, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                               ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
  FROM f
)
SELECT user_id, session_id, count(*) AS n_events,
       round((max(ts_us) - min(ts_us)) / 1000000.0, 3) AS dur_sec,
       round(sum(value), 6) AS sum_value
FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id
""",
        "events_sessions_stream": f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
), f AS (
  SELECT user_id, ts_us, value,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > {45 * 60 * 10**6} THEN 1
              ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), g AS (
  SELECT user_id, ts_us, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
)
SELECT user_id, min(ts_us) AS start_us, count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM g GROUP BY user_id, sid ORDER BY user_id, start_us
""",
        "events_gapfill": """
WITH daily AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS day,
         round(avg(value), 6) AS avg_value
  FROM events GROUP BY user_id, day
), bounds AS (
  SELECT min(day) AS lo, max(day) AS hi FROM daily
), dense AS (
  SELECT k.user_id, unnest(range(b.lo, b.hi + 1)) AS day
  FROM (SELECT DISTINCT user_id FROM daily) k, bounds b
)
SELECT d.user_id, d.day,
       last_value(daily.avg_value IGNORE NULLS) OVER (
         PARTITION BY d.user_id ORDER BY d.day
         ROWS UNBOUNDED PRECEDING) AS avg_value,
       daily.avg_value IS NULL AS is_filled
FROM dense d LEFT JOIN daily ON d.user_id = daily.user_id AND d.day = daily.day
ORDER BY d.user_id, d.day
""",
        "events_time_rollup": """
WITH b AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         epoch_us(ts) // 3600000000 AS hour,
         value
  FROM events
)
SELECT day, hour, count(*) AS n, round(avg(value), 6) AS avg_value
FROM b GROUP BY ROLLUP (day, hour) ORDER BY day, hour
""",
        "events_ntile": """
WITH d AS (
  SELECT user_id, value,
         ntile(10) OVER (PARTITION BY user_id ORDER BY value, event_id) AS decile
  FROM events
)
SELECT decile, count(*) AS n,
       round(avg(value), 6) AS avg_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM d GROUP BY decile ORDER BY decile
""",
        "events_histogram": f"""
WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
SELECT event_type,
       least(CAST(floor((value - lo) / ((hi - lo) / {HIST_BUCKETS})) AS BIGINT),
             {HIST_BUCKETS - 1}) AS bucket,
       count(*) AS n
FROM events, b
GROUP BY event_type, bucket ORDER BY event_type, bucket
""",
        "events_quantiles": """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type ORDER BY event_type
""",
        "events_lag_delta": """
WITH d AS (
  SELECT event_type,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
  FROM events
)
SELECT event_type, count(*) AS n_steps,
       round(avg(delta), 6) AS avg_delta,
       round(coalesce(stddev_pop(delta), 0.0), 6) AS std_delta
FROM d WHERE delta IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
        "docs_setops": """
SELECT doc_id FROM (
  SELECT doc_id FROM documents WHERE lang = 'en'
  EXCEPT ALL
  SELECT doc_id FROM documents WHERE n_chars < 150
)
INTERSECT
SELECT doc_id FROM documents WHERE doc_id % 2 = 0
ORDER BY doc_id
""",
        "docs_rollup": """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY ROLLUP (lang, source)
ORDER BY lang NULLS FIRST, source NULLS FIRST
""",
        "events_json_stats": """
SELECT event_type,
  count(*) AS n_events,
  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  round(CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS DOUBLE)
        / count(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS avg_k,
  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
        "tpch_q14": """
SELECT round(100.0
  * CAST(sum(CASE WHEN p.p_type = 'ECONOMY'
      THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))
      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
  / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))) AS DOUBLE), 6) AS economy_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01' AND l.l_shipdate < TIMESTAMP '1996-07-01'
""",
        "tpch_q12": """
SELECT l.l_returnflag,
  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1997-01-01'
  AND l.l_returnflag IN ('A', 'N')
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
""",
        "tpch_q17": """
SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2)
       AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#4'
  AND l.l_quantity < 0.2 * (
    SELECT avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
  )
""",
        "tpch_q22": """
SELECT c.c_nationkey,
       count(*) AS n_custs,
       round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_bal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
""",
        "text_quality": ot.text_quality_sql(),
        "text_split": ot.split_sql(SPLITS),
        "text_length_buckets": ot.length_buckets_sql(bucket_tokens=BUCKET_TOKENS),
        "dedup_exact": ot.exact_dedup_sql(),
        "docs_dedup_funnel": f"""
WITH RECURSIVE s1 AS (
  SELECT d.* FROM documents d
  JOIN ({ot.exact_dedup_sql()}) m ON d.doc_id = m.doc_id
  WHERE NOT m.is_duplicate
), fpairs AS (
  SELECT doc_a, doc_b
  FROM ({ot.minhash_lsh_pairs_sql(**MINHASH, table='s1')}) __p
), fedges AS (
  SELECT doc_a AS a, doc_b AS b FROM fpairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM fpairs
), fconn(a, b) AS (
  SELECT doc_id, doc_id FROM s1
  UNION
  SELECT c.a, e.b FROM fconn c JOIN fedges e ON c.b = e.a
), fcanon AS (
  SELECT a AS doc_id, min(b) AS canonical_id FROM fconn GROUP BY a
), s2 AS (
  SELECT d.* FROM s1 d JOIN fcanon c ON d.doc_id = c.doc_id
  WHERE c.doc_id = c.canonical_id
), floser AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM ({ot.winnow_pairs_sql(**WINNOW, **WINNOW_PAIRS, table='s2')}) __w
  WHERE overlap >= {CORPUS_FILTER2["winnow_overlap"]!r}
), s3 AS (
  SELECT d.* FROM s2 d LEFT JOIN floser l ON d.doc_id = l.doc_id
  WHERE l.doc_id IS NULL
)
SELECT 1 AS stage_idx, 'all' AS stage, count(*) AS survivors FROM documents
UNION ALL
SELECT 2, 'exact', count(*) FROM s1
UNION ALL
SELECT 3, 'near_dup', count(*) FROM s2
UNION ALL
SELECT 4, 'substring', count(*) FROM s3
ORDER BY stage_idx
""",
        "dedup_exact_stream": ot.exact_dedup_sql(),
        "docs_contamination": ot.contamination_sql(**DECONTAM),
        "docs_chunk": ot.chunk_sql(**CHUNK),
        "docs_scrub": ot.scrub_sql(patterns=SCRUB_PATTERNS),
        "docs_unigram_lp": ot.unigram_logprob_sql(),
        "docs_vocab_coverage": ot.vocab_coverage_sql(**VOCAB),
        "docs_train_order": ot.global_order_sql(),
        "dedup_incremental": ot.incremental_dedup_sql(),
        "docs_pmi_bigrams": ot.pmi_bigrams_sql(topk=20),
        "events_mad_anomaly": _MAD_SQL,
        "events_mad_stream": _MAD_SQL,
        "events_trend": _TREND_SQL,
        "docs_corpus_filter2": f"""
WITH q AS ({ot.text_quality_sql()}),
r AS ({ot.repetition_sql()}),
b AS ({ot.boilerplate_sql(**BOILER)}),
lm AS ({ot.bigram_logprob_sql()}),
losers AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM ({ot.winnow_pairs_sql(**WINNOW, **WINNOW_PAIRS)})
  WHERE overlap >= {CORPUS_FILTER2["winnow_overlap"]}
)
SELECT d.doc_id, d.lang, q.quality_score, r.top_share, b.boiler_ratio,
       lm.avg_logprob
FROM documents d
JOIN q ON d.doc_id = q.doc_id
JOIN r ON d.doc_id = r.doc_id
JOIN b ON d.doc_id = b.doc_id
JOIN lm ON d.doc_id = lm.doc_id
WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
  AND q.quality_score >= {CORPUS_FILTER2["min_quality"]}
  AND q.lang_pred = d.lang
  AND r.top_share <= {CORPUS_FILTER2["max_top_share"]}
  AND b.boiler_ratio <= {CORPUS_FILTER2["max_boiler"]}
  AND lm.avg_logprob >= {CORPUS_FILTER2["min_bigram_lp"]}
ORDER BY d.doc_id
""",
        "docs_hll_distinct": ot.hll_distinct_sql(p=HLL_P),
        "docs_hll_stream": ot.hll_distinct_sql(p=HLL_P),
        "emb_mmr_rerank": ov.mmr_rerank_sql(dim=EMB_DIM, **MMR),
        "events_cusum": _CUSUM_SQL_BATCH,
        "events_twap": """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(value AS DOUBLE) AS v
  FROM events
), d AS (
  SELECT user_id, v,
         CAST(lead(ts_us) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us
           AS DOUBLE) AS dt
  FROM e
), a AS (
  SELECT user_id, count(*) AS n_intervals,
         sum(v * dt) AS wsum, sum(dt) AS tsum
  FROM d WHERE dt IS NOT NULL GROUP BY user_id
)
SELECT user_id, n_intervals,
       CASE WHEN tsum > 0
            THEN floor(wsum / tsum * 1000000.0 + 0.5) / 1000000.0
       END AS twap
FROM a
""",
        "events_value_skew": """
WITH per AS (
  SELECT user_id, round(sum(value), 6) AS w FROM events GROUP BY user_id
), r AS (
  SELECT w,
         row_number() OVER (ORDER BY w, user_id) AS ra,
         row_number() OVER (ORDER BY w DESC, user_id) AS rd
  FROM per
), a AS (
  SELECT count(*) AS n_users, sum(w) AS tot, max(w) AS mx,
         sum(ra * w) AS si,
         sum(CASE WHEN rd <= 10 THEN w ELSE 0.0 END) AS topn
  FROM r
)
SELECT n_users,
       floor(tot * 1000000.0 + 0.5) / 1000000.0 AS total_value,
       floor(mx / tot * 1000000.0 + 0.5) / 1000000.0 AS max_share,
       floor(topn / tot * 1000000.0 + 0.5) / 1000000.0 AS top10_share,
       floor((2.0 * si / (CAST(n_users AS DOUBLE) * tot)
              - (n_users + 1.0) / n_users) * 1000000.0 + 0.5)
         / 1000000.0 AS gini
FROM a
""",
        "events_key_skew": _key_skew_sql("events", "user_id"),
        "docs_source_boilerplate": f"""
WITH p AS (
  SELECT source,
         array_to_string(list_slice({ot.tokens_expr()}, 1, 3), ' ') AS pfx
  FROM documents
), c AS (
  SELECT source, pfx, count(*) AS n FROM p GROUP BY source, pfx
), pick AS (
  SELECT source, n, pfx,
         sum(n) OVER (PARTITION BY source) AS n_docs,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, pfx)
           AS rk
  FROM c
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, pfx AS top_prefix,
       round(CAST(n AS DOUBLE) / n_docs, 6) AS top_prefix_share
FROM pick WHERE rk = 1 ORDER BY source
""",
        "events_ohlc_stream": """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(value AS DOUBLE) AS v
  FROM events
)
SELECT user_id, event_id, ts_us // 86400000000 AS day,
       first_value(v) OVER w AS open,
       max(v) OVER w AS high,
       min(v) OVER w AS low,
       v AS close,
       count(*) OVER w AS volume
FROM e
WINDOW w AS (PARTITION BY user_id, ts_us // 86400000000
             ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
        "events_volume_anomaly": """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), w AS (
  SELECT event_type, day, n_events,
         CAST(n_events AS DOUBLE) AS x,
         count(n_events) OVER fr AS n_window,
         sum(CAST(n_events AS DOUBLE)) OVER fr AS s1,
         sum(CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
           OVER fr AS s2
  FROM daily
  WINDOW fr AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
), z AS (
  SELECT event_type, day, n_events, n_window,
         CASE WHEN s2 / n_window - (s1 / n_window) * (s1 / n_window) > 0
              THEN round((x - s1 / n_window)
                         / sqrt(s2 / n_window
                                - (s1 / n_window) * (s1 / n_window)), 4)
         END AS zscore
  FROM w
)
SELECT event_type, day, n_events, n_window, zscore
FROM z WHERE abs(zscore) >= 2.0
""",
        "events_p95_trend": """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         round(quantile_cont(CAST(value AS DOUBLE), 0.95), 6) AS y
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, y,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS i
  FROM daily
), base AS (
  SELECT event_type, y, i FROM idx WHERE y IS NOT NULL
), agg AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(i) AS DOUBLE) AS si,
         CAST(sum(CAST(i AS HUGEINT) * i) AS DOUBLE) AS si2,
         sum(y) AS sy, sum(i * y) AS siy
  FROM base GROUP BY event_type
), s AS (
  SELECT event_type, n,
         CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) * si2 - si * si) != 0 THEN
           (CAST(n AS DOUBLE) * siy - si * sy)
             / (CAST(n AS DOUBLE) * si2 - si * si)
         END AS slope,
         sy, si
  FROM agg
)
SELECT event_type, n,
       floor(slope * 1000000.0 + 0.5) / 1000000.0 AS slope,
       floor((sy - slope * si) / CAST(n AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS intercept
FROM s
""",
        "events_stickiness": """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         (epoch_us(ts) // 86400000000) // 7 AS week
  FROM events
), daily AS (
  SELECT week, day, count(DISTINCT user_id) AS dau
  FROM e GROUP BY week, day
), wd AS (
  SELECT week,
         floor(avg(CAST(dau AS DOUBLE)) * 1000000.0 + 0.5)
           / 1000000.0 AS avg_dau
  FROM daily GROUP BY week
), w AS (
  SELECT week, count(DISTINCT user_id) AS wau FROM e GROUP BY week
)
SELECT w.week, w.wau, wd.avg_dau,
       floor(wd.avg_dau / w.wau * 1000000.0 + 0.5) / 1000000.0
         AS stickiness
FROM w JOIN wd USING (week) ORDER BY w.week
""",
        "events_dau": """
WITH d AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1
)
SELECT day, dau,
       floor(avg(CAST(dau AS DOUBLE)) OVER (
           ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         * 1000000.0 + 0.5) / 1000000.0 AS dau_7d
FROM d ORDER BY day
""",
        "events_hourly_profile": """
WITH e AS (
  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hh,
         CAST(value AS DOUBLE) AS v
  FROM events
), c AS (
  SELECT event_type, hh, count(*) AS n_events,
         floor(avg(v) * 1000000.0 + 0.5) / 1000000.0 AS mean_value
  FROM e GROUP BY event_type, hh
), t AS (
  SELECT event_type, sum(n_events) AS tt FROM c GROUP BY event_type
)
SELECT c.event_type, c.hh, c.n_events, c.mean_value,
       floor(CAST(c.n_events AS DOUBLE) / tt * 1000000.0 + 0.5)
         / 1000000.0 AS share_of_type
FROM c JOIN t USING (event_type)
ORDER BY c.event_type, c.hh
""",
        "events_benford": f"""
WITH v AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE CAST(value AS DOUBLE) > 0
), d AS (
  SELECT CAST(CASE WHEN v >= 1000 THEN floor(v / 1000)
                   WHEN v >= 100 THEN floor(v / 100)
                   WHEN v >= 10 THEN floor(v / 10)
                   WHEN v >= 1 THEN floor(v)
                   WHEN v >= 0.1 THEN floor(v * 10)
                   ELSE floor(v * 100) END AS INT) AS digit
  FROM v
), c AS (
  SELECT digit, count(*) AS n FROM d
  WHERE digit BETWEEN 1 AND 9 GROUP BY digit
), t AS (SELECT sum(n) AS tt FROM c),
x(digit, expected_frac) AS (VALUES
  {", ".join(f"({d}, CAST({BENFORD_EXPECTED[d]!r} AS DOUBLE))" for d in range(1, 10))}
)
SELECT c.digit, c.n,
       floor(CAST(c.n AS DOUBLE) / tt * 1000000.0 + 0.5)
         / 1000000.0 AS observed_frac,
       x.expected_frac,
       floor(abs(CAST(c.n AS DOUBLE) / tt - x.expected_frac)
             * 1000000.0 + 0.5) / 1000000.0 AS abs_dev
FROM c JOIN x USING (digit), t
ORDER BY c.digit
""",
        "events_moments": """
WITH a AS (
  SELECT event_type, count(*) AS n,
         floor(avg(CAST(value AS DOUBLE)) * 1000000.0 + 0.5)
           / 1000000.0 AS m1,
         floor(avg(CAST(value AS DOUBLE) * CAST(value AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 AS m2,
         floor(avg(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                   * CAST(value AS DOUBLE)) * 1000000.0 + 0.5)
           / 1000000.0 AS m3,
         floor(avg(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                   * CAST(value AS DOUBLE) * CAST(value AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 AS m4
  FROM events GROUP BY event_type
), c AS (
  SELECT event_type, n, m1, m2 - m1 * m1 AS var,
         m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1 AS c3,
         m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
            - 3.0 * m1 * m1 * m1 * m1 AS c4
  FROM a
)
SELECT event_type, n,
       floor(m1 * 1000000.0 + 0.5) / 1000000.0 AS mean,
       floor(var * 1000000.0 + 0.5) / 1000000.0 AS variance,
       CASE WHEN var > 0
            THEN floor(c3 / (var * sqrt(var)) * 1000000.0 + 0.5)
                   / 1000000.0 END AS skewness,
       CASE WHEN var > 0
            THEN floor((c4 / (var * var) - 3.0) * 1000000.0 + 0.5)
                   / 1000000.0 END AS kurt_excess
FROM c ORDER BY event_type
""",
        "events_audience_overlap": """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
), sz AS (
  SELECT event_type, count(*) AS n FROM tu GROUP BY event_type
), cm AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_common
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_common, sa.n AS n_a, sb.n AS n_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM cm
JOIN sz sa ON sa.event_type = cm.type_a
JOIN sz sb ON sb.event_type = cm.type_b
ORDER BY type_a, type_b
""",
        "events_hll_by_type": ot.hll_grouped_sql(
            group="event_type", col="user_id", p=HLL_P, table="events",
        ),
        "docs_source_skew": _key_skew_sql("documents", "source"),
        "dedup_cross_lang": f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({ot.minhash_lsh_pairs_sql(**MINHASH)}) __p
)
SELECT least(la.lang, lb.lang) AS lang_a,
       greatest(la.lang, lb.lang) AS lang_b,
       count(*) AS n_pairs
FROM pairs p
JOIN documents la ON la.doc_id = p.doc_a
JOIN documents lb ON lb.doc_id = p.doc_b
GROUP BY 1, 2 ORDER BY 1, 2
""",
        "events_type_transitions": """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events
), h AS (
  SELECT event_type AS type_from,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS type_to
  FROM e
), p AS (
  SELECT type_from, type_to, count(*) AS n
  FROM h WHERE type_to IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT type_from, sum(n) AS tt FROM p GROUP BY type_from
)
SELECT p.type_from, p.type_to, p.n,
       floor(CAST(p.n AS DOUBLE) / tt * 1000000.0 + 0.5) / 1000000.0 AS p
FROM p JOIN t USING (type_from)
ORDER BY type_from, type_to
""",
        "events_user_lifetime": """
WITH s AS (
  SELECT user_id,
         (max(epoch_us(ts)) - min(epoch_us(ts))) / 86400000000.0 AS d
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       round(quantile_cont(d, 0.5), 6) AS p50_days,
       round(quantile_cont(d, 0.9), 6) AS p90_days,
       floor(avg(d) * 1000000.0 + 0.5) / 1000000.0 AS mean_days
FROM s
""",
        "events_user_lifetime_grid": """
WITH s AS (
  SELECT user_id,
         (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000 AS d_md,
         (max(epoch_us(ts)) - min(epoch_us(ts))) / 86400000000.0 AS d
  FROM events GROUP BY user_id
), tot AS (
  SELECT count(*) AS n,
         floor(avg(d) * 1000000.0 + 0.5) / 1000000.0 AS mean_d
  FROM s
), cnt AS (
  SELECT d_md, count(*) AS c FROM s GROUP BY d_md
), cum AS (
  SELECT d_md, sum(c) OVER (ORDER BY d_md) AS cum FROM cnt
)
SELECT n AS n_users,
       (SELECT min(d_md) FROM cum WHERE cum >= (1 * n + 1) // 2) / 1000.0
         AS p50_days,
       (SELECT min(d_md) FROM cum WHERE cum >= (9 * n + 9) // 10) / 1000.0
         AS p90_days,
       mean_d AS mean_days
FROM tot
""",
        "docs_token_mass_quantiles": _TOKEN_MASS_SQL,
        "docs_source_length_ks": """
WITH d AS (
  SELECT source, n_chars FROM documents WHERE n_chars IS NOT NULL
), cnt AS (
  SELECT source, n_chars, count(*) AS c FROM d GROUP BY source, n_chars
), tot AS (SELECT count(*) AS n FROM d),
per_len AS (SELECT n_chars, sum(c) AS ca FROM cnt GROUP BY n_chars),
cum_all AS (
  SELECT n_chars, CAST(sum(ca) OVER (ORDER BY n_chars) AS BIGINT) AS cum_all
  FROM per_len
), srcs AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs FROM cnt GROUP BY source
), fl AS (
  SELECT s.source, s.n_docs, g.n_chars, g.cum_all,
         COALESCE(c.c, 0) AS c
  FROM srcs s CROSS JOIN cum_all g
  LEFT JOIN cnt c ON c.source = s.source AND c.n_chars = g.n_chars
), cdf AS (
  SELECT source, n_docs, cum_all,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars)
              AS BIGINT) AS cum_src
  FROM fl
), gap AS (
  SELECT source, n_docs,
         abs(CAST(cum_src AS HUGEINT) * (SELECT n FROM tot)
             - CAST(cum_all AS HUGEINT) * n_docs) AS g
  FROM cdf
)
SELECT source, n_docs,
       floor(CAST(max(g) AS DOUBLE)
             / (CAST(n_docs AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM tot))
             * 1000000.0 + 0.5) / 1000000.0 AS ks_stat
FROM gap GROUP BY source, n_docs
""",
        "docs_token_mass_quantiles_stream": _TOKEN_MASS_SQL,
        "events_funnel_latency_grid": f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
), s AS (
  SELECT user_id, min(ts_us) AS t0 FROM e
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(ts_us) AS t1, min(t0) AS t0
  FROM e JOIN s USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[1]}' AND ts_us >= t0
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(ts_us) AS t2, min(t1) AS t1
  FROM e JOIN c USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[2]}' AND ts_us >= t1
  GROUP BY e.user_id
), h1 AS (SELECT (t1 - t0) // 1000000 AS lat_s FROM c),
h2 AS (SELECT (t2 - t1) // 1000000 AS lat_s FROM p),
t1r AS (SELECT count(*) AS n FROM h1),
t2r AS (SELECT count(*) AS n FROM h2),
c1 AS (SELECT lat_s, sum(cnt) OVER (ORDER BY lat_s) AS cum
       FROM (SELECT lat_s, count(*) AS cnt FROM h1 GROUP BY lat_s) __g1),
c2 AS (SELECT lat_s, sum(cnt) OVER (ORDER BY lat_s) AS cum
       FROM (SELECT lat_s, count(*) AS cnt FROM h2 GROUP BY lat_s) __g2)
SELECT 'signup->click' AS hop, n AS n_converted,
       (SELECT min(lat_s) FROM c1 WHERE cum >= (1 * n + 1) // 2) AS p50_s,
       (SELECT min(lat_s) FROM c1 WHERE cum >= (9 * n + 9) // 10) AS p90_s
FROM t1r
UNION ALL
SELECT 'click->purchase', n,
       (SELECT min(lat_s) FROM c2 WHERE cum >= (1 * n + 1) // 2),
       (SELECT min(lat_s) FROM c2 WHERE cum >= (9 * n + 9) // 10)
FROM t2r
""",
        "events_rfm": """
WITH pu AS (
  SELECT user_id, max(epoch_us(ts)) AS last_us,
         count(*) AS frequency,
         round(sum(value), 6) AS monetary
  FROM events GROUP BY user_id
), mx AS (SELECT max(last_us) AS mxv FROM pu)
SELECT user_id,
       (mxv - last_us) // 86400000000 AS recency_days,
       frequency, monetary,
       ntile(5) OVER (ORDER BY (mxv - last_us) // 86400000000 DESC,
                      user_id) AS r,
       ntile(5) OVER (ORDER BY frequency, user_id) AS f,
       ntile(5) OVER (ORDER BY monetary, user_id) AS m
FROM pu, mx
""",
        "events_session_sizes": f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
), f AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), g AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM f
), sz AS (
  SELECT user_id, session_id, count(*) AS n
  FROM g GROUP BY user_id, session_id
)
SELECT CASE WHEN n <= 8 THEN lpad(CAST(n AS VARCHAR), 2, '0')
            WHEN n <= 16 THEN '09-16'
            WHEN n <= 32 THEN '17-32'
            WHEN n <= 64 THEN '33-64'
            WHEN n <= 128 THEN '65-128'
            ELSE '>128' END AS size_bucket,
       count(*) AS n_sessions
FROM sz GROUP BY 1 ORDER BY 1
""",
        # Page-Hinkley: batch and stream share one prefix computation
        # (stream replay covers the full series in arrival==sort order)
        "events_page_hinkley": _PH_SQL,
        "events_page_hinkley_stream": _PH_SQL,
        "events_twap_stream": """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(value AS DOUBLE) AS v
  FROM events
), lg AS (
  SELECT user_id, ts_us, event_id,
         CAST(ts_us - lag(ts_us) OVER o AS DOUBLE) AS dt,
         lag(v) OVER o AS pv
  FROM e
  WINDOW o AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), r AS (
  SELECT user_id, event_id,
         count(dt) OVER w AS n_intervals,
         sum(pv * dt) OVER w AS wsum,
         sum(dt) OVER w AS tsum
  FROM lg
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, n_intervals,
       CASE WHEN tsum > 0
            THEN floor(wsum / tsum * 1000000.0 + 0.5) / 1000000.0
       END AS twap
FROM r
""",
        "events_ohlc": """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(value AS DOUBLE) AS v
  FROM events
)
SELECT user_id, ts_us // 86400000000 AS day,
       first(v ORDER BY ts_us, event_id) AS open,
       max(v) AS high, min(v) AS low,
       last(v ORDER BY ts_us, event_id) AS close,
       count(*) AS volume
FROM e GROUP BY user_id, ts_us // 86400000000
""",
        "events_funnel_latency": f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
), s AS (
  SELECT user_id, min(ts_us) AS t0 FROM e
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(ts_us) AS t1, min(t0) AS t0
  FROM e JOIN s USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[1]}' AND ts_us >= t0
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(ts_us) AS t2, min(t1) AS t1
  FROM e JOIN c USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[2]}' AND ts_us >= t1
  GROUP BY e.user_id
)
SELECT 'signup->click' AS hop, count(*) AS n_converted,
       round(quantile_cont(t1 - t0, 0.5), 6) AS p50_us,
       round(quantile_cont(t1 - t0, 0.9), 6) AS p90_us
FROM c
UNION ALL
SELECT 'click->purchase', count(*),
       round(quantile_cont(t2 - t1, 0.5), 6),
       round(quantile_cont(t2 - t1, 0.9), 6)
FROM p
""",
        "events_anomaly_consensus": f"""
WITH za AS (
  SELECT user_id, event_id, 1 AS b FROM ({_ANOM_SQL}) __z
), ma AS (
  SELECT user_id, event_id, 2 AS b FROM ({_MAD_SQL}) __m
), ca AS (
  SELECT user_id, event_id, 4 AS b FROM ({_CUSUM_SQL_BATCH}) __c
  WHERE alarm
), u AS (
  SELECT * FROM za UNION ALL SELECT * FROM ma UNION ALL SELECT * FROM ca
)
SELECT user_id, event_id,
       CAST(sum(b) AS BIGINT) AS detectors,
       count(*) AS n_detectors
FROM u GROUP BY user_id, event_id
HAVING count(*) >= 2
""",
        "events_cusum_stream": _CUSUM_SQL_STREAM,
        "emb_int8_quant": ov.int8_quant_sql(dim=EMB_DIM),
        "docs_bigram_lp": ot.bigram_logprob_sql(),
        "docs_winnow": ot.winnow_docs_sql(**WINNOW),
        "dedup_winnow_pairs": ot.winnow_pairs_sql(**WINNOW, **WINNOW_PAIRS),
        "dedup_containment": ot.containment_pairs_sql(**CONTAINMENT),
        "docs_boilerplate": ot.boilerplate_sql(**BOILER),
        # Holt fold: elements lifted to [x, 0.0] lists so list_reduce's
        # first-element seed IS the batch operator's (first value, 0)
        # seed; l' is recomputed inside the trend update in BOTH engines
        # (no let-binding in either lambda) -> bit-identical doubles.
        "events_holt": _HOLT_SQL_BOUNDED,
        "events_holt_stream": _HOLT_SQL_UNBOUNDED,
        "docs_mixture_temperature": f"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len({ot.tokens_expr()})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), sh AS (
  SELECT source, n_tokens,
         round(n_tokens / (SELECT CAST(sum(n_tokens) AS DOUBLE)
                           FROM per_src), 6) AS share
  FROM per_src
), w AS (
  SELECT source, n_tokens, share,
         round(pow(share, {1.0 / MIX_TEMP!r}), 6) AS raw_w
  FROM sh
)
SELECT source, n_tokens, share,
       round(raw_w / (SELECT sum(raw_w) FROM w), 6) AS temp_weight,
       round({float(MIX_BUDGET_TOKENS)!r}
             * round(raw_w / (SELECT sum(raw_w) FROM w), 6)
             / n_tokens, 6) AS epochs
FROM w
""",
        "dedup_lsh_s_curve": f"""
WITH g AS (SELECT unnest([{', '.join(repr(round(0.05 * i, 2)) for i in range(1, 20))}]) AS s)
SELECT s,
       round(pow(s, {float(MINHASH['num_hashes'] // MINHASH['bands'])!r}), 6)
         AS p_band,
       round(1.0 - pow(1.0 - round(pow(s,
             {float(MINHASH['num_hashes'] // MINHASH['bands'])!r}), 6),
             {float(MINHASH['bands'])!r}), 6) AS p_candidate
FROM g
""",
        "docs_mixture_sample": ot.mixture_sample_sql(
            rates=MIX_RATES, default_rate=MIX_DEFAULT
        ),
        "dedup_jaccard": ot.jaccard_pairs_sql(**JACCARD),
        "dedup_minhash_lsh": ot.minhash_lsh_pairs_sql(**MINHASH),
        "text_bm25": ot.bm25_topk_sql(**BM25),
        "docs_tfidf": ot.tfidf_top_terms_sql(topk=TFIDF_TOPK) + " ORDER BY doc_id, rank",
        "emb_dim_profile": """
SELECT label, CAST(i AS INT) AS dim,
       round(avg(embedding[i + 1]), 6) AS mean_x,
       round(stddev_pop(embedding[i + 1]), 6) AS std_x
FROM embeddings, range(64) t(i)
GROUP BY label, dim ORDER BY label, dim
""",
        "events_pivot": """
SELECT user_id, count(*) FILTER (WHERE event_type = 'click') AS n_click, count(*) FILTER (WHERE event_type = 'error') AS n_error, count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase, count(*) FILTER (WHERE event_type = 'signup') AS n_signup, count(*) FILTER (WHERE event_type = 'view') AS n_view,
       round(sum(value), 6) AS total_value
FROM events GROUP BY user_id ORDER BY user_id
""",
        "events_stream_join": f"""
WITH p AS (
  SELECT user_id, event_id AS p_event_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id AS c_event_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
)
SELECT p.user_id, p.p_event_id, c.c_event_id,
       floor((c.c_us - p.p_us) / 1000000.0 * 1000.0 + 0.5) / 1000.0 AS gap_sec
FROM p JOIN c
  ON c.user_id = p.user_id
 AND c.c_us > p.p_us AND c.c_us <= p.p_us + {24 * 3600 * 10**6}
ORDER BY p.p_event_id, c.c_event_id
""",
        "events_stream_enrich": """
SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
        "dedup_clusters": f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ot.minhash_lsh_pairs_sql(**MINHASH)}) __p
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), conn(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT c.a, e.b FROM conn c JOIN edges e ON c.b = e.a
), canon AS (
  SELECT a AS doc_id, min(b) AS canonical_id FROM conn GROUP BY a
), sizes AS (
  SELECT canonical_id, count(*) AS cluster_size FROM canon GROUP BY canonical_id
)
SELECT c.doc_id, c.canonical_id, s.cluster_size,
       c.doc_id <> c.canonical_id AS is_duplicate
FROM canon c JOIN sizes s USING (canonical_id)
ORDER BY c.doc_id
""",
        "dedup_triangles": f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({ot.minhash_lsh_pairs_sql(**MINHASH)}) __p
), e AS (
  SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
  FROM pairs WHERE doc_a <> doc_b
), tri AS (
  SELECT count(*) AS n_triangles
  FROM e ab
  JOIN e bc ON ab.b = bc.a
  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
), deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY v
), st AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
), ne AS (
  SELECT count(*) AS n_edges FROM e
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN floor(3.0 * n_triangles / n_wedges * 1000000.0 + 0.5)
                   / 1000000.0
       END AS clustering_coeff
FROM st, ne, tri
""",
        "dedup_simhash_fidelity": f"""
WITH cand AS (
  SELECT doc_a, doc_b, hamming
  FROM ({ot.simhash_pairs_sql(**SIMHASH_PAIRS)}) __c
), sets AS (
  SELECT doc_id, {ot.shingles_expr(JACCARD["k"])} AS sh FROM documents
), jx AS (
  SELECT c.hamming,
         len(list_intersect(sa.sh, sb.sh)) AS n_common,
         len(sa.sh) AS n_a, len(sb.sh) AS n_b
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
  WHERE (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) > 0
), er AS (
  SELECT hamming,
         round(n_common * 1.0 / (n_a + n_b - n_common), 4) AS jac
  FROM jx
)
SELECT hamming, count(*) AS n_pairs,
       floor(avg(jac) * 1000000.0 + 0.5) / 1000000.0 AS mean_jaccard,
       min(jac) AS min_jaccard
FROM er GROUP BY hamming ORDER BY hamming
""",
        "dedup_minhash_accuracy": f"""
WITH cand AS (
  SELECT doc_a, doc_b, est_jaccard
  FROM ({ot.minhash_lsh_pairs_sql(**{**MINHASH, "threshold": 0.0})}) __c
), sets AS (
  SELECT doc_id, {ot.shingles_expr(MINHASH["k"])} AS sh FROM documents
), jx AS (
  SELECT c.doc_a, c.doc_b, c.est_jaccard,
         len(list_intersect(sa.sh, sb.sh)) AS n_common,
         len(sa.sh) AS n_a, len(sb.sh) AS n_b
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
), er AS (
  SELECT est_jaccard - round(n_common * 1.0 / (n_a + n_b - n_common), 4)
           AS err,
         round(n_common * 1.0 / (n_a + n_b - n_common), 4) AS jac
  FROM jx WHERE (n_a + n_b - n_common) > 0
)
SELECT CAST(floor(jac * 10) AS INTEGER) AS bucket,
       count(*) AS n_pairs,
       floor(avg(err) * 1000000.0 + 0.5) / 1000000.0 AS mean_err,
       floor(avg(abs(err)) * 1000000.0 + 0.5) / 1000000.0 AS mean_abs_err,
       max(abs(err)) AS max_abs_err
FROM er GROUP BY 1 ORDER BY 1
""",
        "docs_contamination_by_source": f"""
WITH fl AS (
  SELECT doc_id FROM ({ot.contamination_sql(**DECONTAM)}) __c
), corp AS (
  SELECT doc_id, source FROM documents
  WHERE doc_id % {DECONTAM["bench_mod"]} != 0
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       floor(CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) * 1000000.0 + 0.5)
         / 1000000.0 AS rate
FROM corp LEFT JOIN fl USING (doc_id)
GROUP BY source ORDER BY source
""",
        "docs_shingle_df_profile": f"""
WITH sh AS (
  SELECT doc_id, unnest({ot.shingles_expr(JACCARD["k"])}) AS s
  FROM documents
), dfq AS (
  SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s
)
SELECT CASE WHEN df <= 2 THEN lpad(CAST(df AS VARCHAR), 3, '0')
            WHEN df <= 4 THEN '003-4'
            WHEN df <= 8 THEN '005-8'
            WHEN df <= 16 THEN '009-16'
            WHEN df <= 32 THEN '017-32'
            WHEN df <= 64 THEN '033-64'
            WHEN df <= 128 THEN '065-128'
            WHEN df <= 256 THEN '129-256'
            ELSE '>256' END AS df_bucket,
       count(*) AS n_shingles,
       CAST(sum(df) AS BIGINT) AS n_postings
FROM dfq GROUP BY 1 ORDER BY 1
""",
        "docs_quality_length_corr": f"""
WITH q AS (
  SELECT CAST(n_chars AS DOUBLE) AS x, quality_score AS y
  FROM ({ot.text_quality_sql()}) __q
), a AS (
  SELECT count(*) AS n_docs,
         floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS mx,
         floor(avg(y) * 1000000.0 + 0.5) / 1000000.0 AS my,
         floor(avg(x * x) * 1000000.0 + 0.5) / 1000000.0 AS mxx,
         floor(avg(y * y) * 1000000.0 + 0.5) / 1000000.0 AS myy,
         floor(avg(x * y) * 1000000.0 + 0.5) / 1000000.0 AS mxy
  FROM q
), v AS (
  SELECT n_docs, mx, my,
         greatest(0.0, mxx - mx * mx) AS vx,
         greatest(0.0, myy - my * my) AS vy,
         mxy - mx * my AS cov
  FROM a
)
SELECT n_docs,
       CASE WHEN vx > 0 AND vy > 0
            THEN floor(cov / (sqrt(vx) * sqrt(vy)) * 1000000.0 + 0.5)
                   / 1000000.0 END AS r,
       mx AS mean_len, my AS mean_quality
FROM v
""",
        "docs_hapax": f"""
WITH tk AS (
  SELECT lang, unnest({ot.tokens_expr()}) AS term FROM documents
), fr AS (
  SELECT lang, term, count(*) AS f FROM tk GROUP BY lang, term
)
SELECT lang, count(*) AS vocab,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_ratio
FROM fr GROUP BY lang ORDER BY lang
""",
        "docs_novelty_decay": f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
hs AS (
  SELECT doc_id, {ot.hash60(ot.normalized_expr())} AS h FROM documents
), fs AS (
  SELECT h, min(doc_id) AS first FROM hs GROUP BY h
), j AS (
  SELECT CAST(least(floor(hs.doc_id * 10 / nn.n), 9) AS INT) AS decile,
         CASE WHEN hs.doc_id = fs.first THEN 1 ELSE 0 END AS nov
  FROM hs JOIN fs USING (h), nn
)
SELECT decile, count(*) AS n_docs,
       CAST(sum(nov) AS BIGINT) AS n_novel,
       round(CAST(sum(nov) AS DOUBLE) / count(*), 6) AS novel_frac
FROM j GROUP BY decile ORDER BY decile
""",
        "docs_scorecard": f"""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
ex AS (
  SELECT count(*) AS n_exact_dups
  FROM ({ot.exact_dedup_sql()}) __e WHERE is_duplicate
), pr AS (
  SELECT doc_a, doc_b FROM ({ot.minhash_lsh_pairs_sql(**MINHASH)}) __p
), np AS (SELECT count(*) AS n_near_pairs FROM pr),
dd AS (
  SELECT count(*) AS n_dup_docs FROM (
    SELECT DISTINCT d FROM (
      SELECT doc_a AS d FROM pr UNION ALL SELECT doc_b FROM pr))
), q AS (
  SELECT floor(avg(quality_score) * 1000000.0 + 0.5) / 1000000.0
           AS mean_quality
  FROM ({ot.text_quality_sql()}) __q
), ct AS (
  SELECT count(*) AS n_contaminated
  FROM ({ot.contamination_sql(**DECONTAM)}) __c
)
SELECT n_docs, n_exact_dups, n_near_pairs, n_dup_docs, mean_quality,
       n_contaminated
FROM n, ex, np, dd, q, ct
""",
        "dedup_cluster_sizes": f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ot.minhash_lsh_pairs_sql(**MINHASH)}) __p
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), conn(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT c.a, e.b FROM conn c JOIN edges e ON c.b = e.a
), canon AS (
  SELECT a AS doc_id, min(b) AS canonical_id FROM conn GROUP BY a
), sizes AS (
  SELECT canonical_id, count(*) AS cluster_size FROM canon
  GROUP BY canonical_id
)
SELECT cluster_size, count(*) AS n_clusters,
       cluster_size * count(*) AS n_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
""",
        "dedup_lsh_refined": f"""
WITH cand AS (
  SELECT doc_a, doc_b
  FROM ({ot.minhash_lsh_pairs_sql(**{**MINHASH, "threshold": 0.0})}) __c
), sets AS (
  SELECT doc_id, {ot.shingles_expr(JACCARD["k"])} AS sh FROM documents
), j AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.sh, sb.sh)) AS n_common,
         len(sa.sh) AS n_a, len(sb.sh) AS n_b
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_common, n_a, n_b,
       round(n_common * 1.0 / (n_a + n_b - n_common), 4) AS jaccard
FROM j
WHERE (n_a + n_b - n_common) > 0
  AND round(n_common * 1.0 / (n_a + n_b - n_common), 4)
        >= {JACCARD["threshold"]}
ORDER BY doc_a, doc_b
""",
        "dedup_keep": f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ot.minhash_lsh_pairs_sql(**MINHASH)}) __p
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), conn(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT c.a, e.b FROM conn c JOIN edges e ON c.b = e.a
), canon AS (
  SELECT a AS doc_id, min(b) AS canonical_id FROM conn GROUP BY a
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN canon c ON d.doc_id = c.doc_id
WHERE c.doc_id = c.canonical_id
ORDER BY d.doc_id
""",
        "docs_clean": f"""
SELECT doc_id,
       {ot.normalized_expr()} AS clean_text,
       length(text) AS n_chars_raw,
       length({ot.normalized_expr()}) AS n_chars_clean
FROM documents
""",
        "dedup_minhash_stream": ot.minhash_stream_dedup_sql(
            k=MINHASH["k"], num_hashes=MINHASH["num_hashes"],
            bands=MINHASH["bands"], seed=MINHASH["seed"],
        ),
        "dedup_simhash": ot.simhash_sql(bits=SIMHASH_BITS),
        "dedup_simhash_pairs": ot.simhash_pairs_sql(**SIMHASH_PAIRS),
        "emb_cosine_topk": ov.cosine_topk_sql(query_id=0, k=TOPK, dim=EMB_DIM),
        "emb_knn_join": ov.knn_join_sql(dim=EMB_DIM, **KNN),
        "emb_ann_lsh": ov.ann_lsh_topk_sql(dim=EMB_DIM, **ANN),
        "emb_ann_multiprobe": ov.ann_lsh_topk_sql(
            dim=EMB_DIM, probe_hamming=1, **ANN
        ),
        # full-probe IVF scans every list -> provably the exact top-k
        "emb_ivf_topk": ov.cosine_topk_sql(
            query_id=IVF["query_id"], k=IVF["k"], dim=EMB_DIM
        ),
        "emb_lsh_recall": ov.ann_lsh_recall_sql(
            max_query_id=RECALL["max_query_id"], k=RECALL["k"],
            num_planes=ANN["num_planes"], seed=ANN["seed"], dim=EMB_DIM,
            probe_hamming=0,
        ),
        "emb_multiprobe_recall": ov.ann_lsh_recall_sql(
            max_query_id=RECALL["max_query_id"], k=RECALL["k"],
            num_planes=ANN["num_planes"], seed=ANN["seed"], dim=EMB_DIM,
            probe_hamming=1,
        ),
        "emb_ivf_recall": ov.ivf_recall_sql(
            max_query_id=RECALL["max_query_id"], k=RECALL["k"],
            num_lists=IVF["num_lists"], nprobe=RECALL["ivf_nprobe"],
            dim=EMB_DIM,
        ),
        "docs_dsir_weights": ot.dsir_logweights_sql(**DSIR),
        # the stream twin scores the SAME corpus against the SAME
        # offline-fitted model, so its oracle IS the batch SQL
        "docs_dsir_stream": ot.dsir_logweights_sql(**DSIR),
        "docs_source_cap": ot.source_cap_sql(per_source=SOURCE_CAP),
        "docs_novelty": ot.novelty_scores_sql(k=NOVELTY_K),
        "docs_char_entropy": ot.char_entropy_sql(),
        "docs_token_fertility": ot.token_fertility_sql(),
        "docs_ccnet_bucket": f"""
WITH lp AS ({ot.unigram_logprob_sql()}),
rk AS (
  SELECT doc_id, avg_logprob,
         row_number() OVER (ORDER BY avg_logprob DESC, doc_id) AS r,
         count(*) OVER () AS n
  FROM lp
)
SELECT doc_id, avg_logprob,
       CASE WHEN r * 3 <= n THEN 'head'
            WHEN r * 3 <= n * 2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM rk
""",
        "sax_vsm_pairs": oc.vsm_series_pairs_sql(
            VSM["n"], VSM["w"], VSM["c"],
            df_cap=VSM["df_cap"], top=VSM["top"],
        ),
        "sax_numerosity": oc.numerosity_reduce_sql(
            SLIDE["n"], SLIDE["w"], SLIDE["c"]
        ),
        "sax_discords": oc.discords_sql(
            TUMBLE_MOTIF["n"], TUMBLE_MOTIF["w"], TUMBLE_MOTIF["c"],
            **DISCORD,
        ),
        "emb_pca_power": ov.pca_power_sql(dim=EMB_DIM, iters=PCA_ITERS),
        "emb_abtt_topk": ov.abtt_topk_sql(
            query_id=ANN["query_id"], k=ANN["k"], dim=EMB_DIM,
            iters=PCA_ITERS,
        ),
        "docs_corpus_filter3": ot.corpus_filter3_sql(
            min_novelty=CORPUS_FILTER3["min_novelty"],
            per_source=SOURCE_CAP, novelty_k=NOVELTY_K, **DSIR,
        ),
        "emb_compression_tradeoff": f"""
SELECT 'int8' AS method, CAST(4.0 AS DOUBLE) AS compression_x,
       floor(avg(recall) * 1000000.0 + 0.5) / 1000000.0 AS mean_recall
FROM ({ov.int8_recall_sql(max_query_id=RECALL["max_query_id"], k=RECALL["k"], dim=EMB_DIM)}) __i
UNION ALL
SELECT 'trunc16', CAST(4.0 AS DOUBLE),
       floor(avg(recall) * 1000000.0 + 0.5) / 1000000.0
FROM ({ov.truncated_dim_recall_sql(max_query_id=RECALL["max_query_id"], k=RECALL["k"], trunc_dim=TRUNC_DIM, dim=EMB_DIM)}) __t
UNION ALL
SELECT 'pq', CAST({float(EMB_DIM * 4 / PQ["m"])!r} AS DOUBLE),
       floor(avg(recall) * 1000000.0 + 0.5) / 1000000.0
FROM ({ov.pq_recall_sql(max_query_id=RECALL["max_query_id"], k=RECALL["k"], m=PQ["m"], ks=PQ["ks"], dim=EMB_DIM)}) __p
""",
        "emb_norm_profile": f"""
WITH nv AS (
  SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, {EMB_DIM + 1}),
             i -> CAST(embedding[i] AS DOUBLE)
                  * CAST(embedding[i] AS DOUBLE))),
           (x, y) -> x + y)) AS nm
  FROM embeddings
), st AS (
  SELECT count(*) AS n_vectors,
         floor(avg(nm) * 1000000.0 + 0.5) / 1000000.0 AS mean_norm,
         floor(sqrt(greatest(0.0, avg(nm * nm) - avg(nm) * avg(nm)))
               * 1000000.0 + 0.5) / 1000000.0 AS std_norm,
         floor(min(nm) * 1000000.0 + 0.5) / 1000000.0 AS min_norm,
         floor(max(nm) * 1000000.0 + 0.5) / 1000000.0 AS max_norm
  FROM nv
), o AS (
  SELECT count(*) AS n_outliers
  FROM nv, st
  WHERE std_norm > 0 AND abs(nm - mean_norm) >= 3.0 * std_norm
)
SELECT n_vectors, mean_norm, std_norm, min_norm, max_norm, n_outliers
FROM st, o
""",
        "emb_fisher_dims": f"""
WITH d AS (
  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, range(1, {EMB_DIM + 1}) t(i)
), cls AS (
  SELECT label, dim, count(*) AS nc,
         floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS muc,
         floor(avg(x * x) * 1000000.0 + 0.5) / 1000000.0 AS m2c
  FROM d GROUP BY label, dim
), g AS (
  SELECT dim, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS mu,
         count(*) AS n
  FROM d GROUP BY dim
), pd AS (
  SELECT c.dim,
         floor(sum(nc * (muc - mu) * (muc - mu)) / min(n)
               * 1000000.0 + 0.5) / 1000000.0 AS between_var,
         floor(sum(nc * (m2c - muc * muc)) / min(n)
               * 1000000.0 + 0.5) / 1000000.0 AS within_var
  FROM cls c JOIN g USING (dim) GROUP BY c.dim
)
SELECT dim,
       CASE WHEN within_var > 0
            THEN floor(between_var / within_var * 1000000.0 + 0.5)
                   / 1000000.0 END AS fisher,
       between_var, within_var
FROM pd ORDER BY fisher DESC NULLS LAST, dim LIMIT 10
""",
        "emb_silhouette": ov.kmeans_silhouette_sql(
            k=KMEANS["k"], iters=KMEANS["iters"], dim=EMB_DIM,
        ),
        "emb_kmeans": ov.kmeans_assign_sql(
            k=KMEANS["k"], iters=KMEANS["iters"], dim=EMB_DIM
        ),
        "emb_semdedup": ov.semdedup_keep_sql(
            k=KMEANS["k"], iters=KMEANS["iters"], dim=EMB_DIM,
            threshold=SEMDEDUP_THRESHOLD,
        ),
        "emb_ivf_at_rest": ov.cosine_topk_sql(
            query_id=IVF["query_id"], k=IVF["k"], dim=EMB_DIM
        ),
        "emb_near_dup_recall": ov.near_dup_recall_sql(
            threshold=EMB_NEAR_DUP_LSH,
            num_planes=NEAR_DUP_PLANES,
            seed=13,
            dim=EMB_DIM,
        ),
        "emb_near_dup_lsh": ov.embedding_near_dup_lsh_sql(
            threshold=EMB_NEAR_DUP_LSH,
            num_planes=NEAR_DUP_PLANES,
            seed=13,
            dim=EMB_DIM,
        ),
        "media_byte_histogram": om.byte_histogram_sql(bins=HIST_BINS),
        "media_dhash": om.dhash_sql(),
        "media_dhash_pairs": om.dhash_pairs_sql(
            max_hamming=DHASH_HAM,
            bands=DHASH_BANDS,
            twin_mod=DHASH_TWIN_MOD,
            twin_off=DHASH_TWIN_OFF,
        ),
        "media_dhash_at_rest": om.dhash_probe_sql(
            probe_id=DHASH_TWIN_OFF,
            max_hamming=DHASH_WIDE_HAM,
            rows=DHASH_WIDE_ROWS,
            twin_mod=DHASH_TWIN_MOD,
            twin_off=DHASH_TWIN_OFF,
        ),
        "media_dup_clusters": f"""
WITH RECURSIVE m0 AS (
  SELECT doc_id FROM documents WHERE len(text) > 0
  UNION ALL
  SELECT doc_id + {DHASH_TWIN_OFF} FROM documents
  WHERE doc_id % {DHASH_TWIN_MOD} = 0 AND len(text) >= 63
), pairs AS (
  SELECT media_a, media_b FROM ({om.dhash_pairs_wide_sql(
      max_hamming=DHASH_WIDE_HAM, rows=DHASH_WIDE_ROWS,
      twin_mod=DHASH_TWIN_MOD, twin_off=DHASH_TWIN_OFF,
  )}) __p
), edges AS (
  SELECT media_a AS a, media_b AS b FROM pairs
  UNION ALL
  SELECT media_b AS a, media_a AS b FROM pairs
), conn(a, b) AS (
  SELECT doc_id, doc_id FROM m0
  UNION
  SELECT c.a, e.b FROM conn c JOIN edges e ON c.b = e.a
), canon AS (
  SELECT a AS media_id, min(b) AS canonical_id FROM conn GROUP BY a
), sizes AS (
  SELECT canonical_id, count(*) AS cluster_size FROM canon
  GROUP BY canonical_id
)
SELECT c.media_id, c.canonical_id, s.cluster_size,
       c.media_id <> c.canonical_id AS is_duplicate
FROM canon c JOIN sizes s USING (canonical_id)
ORDER BY c.media_id
""",
        "media_dhash_wide_pairs": om.dhash_pairs_wide_sql(
            max_hamming=DHASH_WIDE_HAM,
            rows=DHASH_WIDE_ROWS,
            twin_mod=DHASH_TWIN_MOD,
            twin_off=DHASH_TWIN_OFF,
        ),
        "media_frame_sample": om.frame_sample_sql(**FRAME),
        "media_decode_features": om.decode_features_sql(),
        "media_resize": om.resize_media_sql(factor=RESIZE_FACTOR),
    }
    out["events_forecast_backtest"] = _backtest_sql(
        out["events_ewma"], out["events_holt"], out["events_hw"]
    )
    # the stream twin shares the batch oracle verbatim: the ES top-k
    # reservoir is mergeable, so the final stream state must equal the
    # batch sample exactly
    out["docs_weighted_sample_stream"] = out["docs_weighted_sample"]
    return out
