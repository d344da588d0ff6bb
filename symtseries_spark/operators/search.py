"""SAX-space search operators: pattern matching, nearest-neighbor,
all-pairs similarity, motif counting.

These implement the query surface the reference only *hints* at ("HUGE
pattern collections", README.md:29-34): mindist is a lower bound on the
true Euclidean distance between z-normalized series, so every operator
here is a *pruning* primitive — filter cheap mindist first, refine with
exact distance only on survivors.

Scale notes:
* Literal query patterns are plan-time constants — no join at all.
* Pattern *collections* join via ``broadcast`` (a million SAX words is
  a few tens of MB — always broadcastable).
* All-pairs self-joins group by word prefix buckets when approximate
  mode is requested; exact mode is a full cross join and is flagged as
  such (the reference offers nothing better — mindist is not prunable
  without an index structure; iSAX trees are a possible extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import pykernel as pk
from ..functions.sax import (
    _let,
    _pattern_mindist,
    is_finite,
    sax_coarsen,
    sax_word_mindist,
    sax_zeuclidean,
    sax_znorm,
)


def mindist_to_pattern(
    words: DataFrame,
    pattern: str,
    *,
    c: int,
    word_col: str = "sax_word",
    n: str | int | None = None,
    out: str = "mindist",
) -> DataFrame:
    """Distance from every word row to a literal pattern; adds
    ``out``/``out_above``/``out_below`` columns.

    The pattern is parsed with n=0 (wildcard), so each row's own ``n``
    drives the compression scale — the reference's wildcard rule
    (src/symtseries.c:594-601). The pattern is validated eagerly
    (``ValueError``) and compiled to plan-time literal lookups (codegen
    path). A NULL word, a word whose length differs from the pattern's,
    or a word with a letter outside the first ``c`` letters and '#'
    gets NULL in all three columns; no input raises.

    ``n`` is the name of the rows' n column, a constant int (0 is the
    wildcard, so n = w), or ``None`` (n = w). A ``Column`` raises
    ``TypeError``: the expression is rendered as SQL text, which names
    its inputs.
    """
    if n is not None and not isinstance(n, (str, int)):
        raise TypeError(
            f"n must be a column name, an int or None, not {type(n).__name__}"
        )
    m = F.col("__m")
    return (
        words.withColumn("__m", _pattern_mindist(word_col, pattern, c=c, n=n))
        .withColumns(
            {out: m["dist"], f"{out}_above": m["above"], f"{out}_below": m["below"]}
        )
        .drop("__m")
    )


def topk_nearest(
    words: DataFrame,
    pattern: str,
    *,
    c: int,
    k: int,
    word_col: str = "sax_word",
    n: str | int | None = None,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Top-k rows nearest to a literal pattern (global order, deterministic
    via tiebreakers). Rows :func:`mindist_to_pattern` cannot score
    (NULL ``mindist``) are never returned, so fewer than ``k`` rows come
    back when fewer than ``k`` are scorable. A plan-time constant
    pattern means this is scan -> project -> TakeOrderedAndProject: no
    shuffle beyond the final top-k reduction, which AQE executes as
    partial top-k per partition. ``n`` is as in
    :func:`mindist_to_pattern`.
    """
    scored = mindist_to_pattern(words, pattern, c=c, word_col=word_col, n=n)
    order = [F.col("mindist").asc()] + [F.col(t) for t in (tiebreakers or [])]
    return scored.where(F.col("mindist").isNotNull()).orderBy(*order).limit(k)


def match_pattern(
    words: DataFrame,
    pattern: str,
    *,
    c: int,
    word_col: str = "sax_word",
) -> DataFrame:
    """Exact word equality against a literal pattern — the reference's
    ``__eq`` surface (structural (w, c, symbols) equality; '#' matches
    only '#'; src/symtseries.c:638-645). Plain string equality on the
    canonical form, so predicate pushdown applies when words are stored."""
    pk.parse(pattern, c)  # validate against cardinality
    return words.where(F.col(word_col) == pattern)


def motif_counts(
    words: DataFrame,
    *,
    word_col: str = "sax_word",
) -> DataFrame:
    """Occurrence count per SAX word ("motif"): dimensionality reduction
    makes the word a natural LSH-style bucket key; groupBy on it is a
    map-side-combinable single shuffle."""
    return (
        words.where(F.col(word_col).isNotNull())
        .groupBy(F.col(word_col).alias("motif"))
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )


def discords(
    df: DataFrame,
    *,
    key: str,
    order: str | list[str],
    value: str,
    n: int,
    w: int,
    c: int,
    rare_words: int = 10,
    top: int = 5,
) -> DataFrame:
    """HOT-SAX-style discord discovery over tumbling windows ->
    the ``top`` most anomalous windows as
    ``(series_key, window_id, sax_word, word_count, nn_dist)``.

    A *discord* is the subsequence farthest from its nearest neighbor
    (Keogh, Lin & Fu 2005, "HOT SAX: Efficiently Finding the Most
    Unusual Time Series Subsequence"). The paper's insight — rare SAX
    words flag discord candidates, because an unusual shape lands in a
    sparsely-populated word bucket — is exactly the reference's word
    space (src/symtseries.c:515-532) put to anomaly work. This operator
    is the candidate-bounded variant: candidates are the windows whose
    word is among the ``rare_words`` rarest (count asc, word asc — a
    deterministic plan-time bound, the role the paper's search budget
    plays); each candidate's exact nearest-neighbor distance is then
    computed against every other full window of the SAME series, and
    the ``top`` candidates by descending NN distance are the reported
    discords. Raw (not z-normed) Euclidean distance, on the engine's
    repo-wide left-to-right fold so the DuckDB oracle matches
    bit-for-bit; quantized 1e-6 after the sqrt.

    Scale shape: the word histogram is one map-side-combinable groupBy
    (word-space bounded: c^w keys); the rare-word table and the
    candidate windows (``rare_words`` × their occurrence count, small
    by construction — rare words are rare) are BROADCAST against the
    window relation, so the corpus-sized side is never shuffled for
    the refine; the per-candidate argmin collapses map-side. Windows
    materialize n<=4096 doubles per row (the reference's own cap).
    Series with a single full window have no neighbor and are not
    reported. Assumes finite values (NaN-bearing windows would need a
    finite-only prefilter; the SAX word itself handles NaN natively).
    """
    from ..functions.sax import sax_encode
    from .windows import tumbling_values

    if rare_words < 1 or top < 1:
        raise ValueError("discords needs rare_words >= 1, top >= 1")
    wins = tumbling_values(df, key=key, order=order, value=value, n=n)
    words = wins.select(
        "series_key",
        "window_id",
        sax_encode(F.col("vals"), w, c).alias("sax_word"),
        "vals",
    )
    counts = words.groupBy("sax_word").agg(
        F.count(F.lit(1)).alias("word_count")
    )
    rare = counts.orderBy("word_count", "sax_word").limit(rare_words)
    cand = words.join(F.broadcast(rare), "sax_word").select(
        "series_key",
        F.col("window_id"),
        "sax_word",
        "word_count",
        F.col("vals").alias("__cvals"),
    )
    others = words.select(
        "series_key",
        F.col("window_id").alias("__oid"),
        F.col("vals").alias("__ovals"),
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("__cvals"), F.col("__ovals"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nn = (
        F.broadcast(cand)
        .join(others, "series_key")
        .where(F.col("window_id") != F.col("__oid"))
        .groupBy("series_key", "window_id", "sax_word", "word_count")
        .agg(F.min(d2).alias("__m"))
    )
    scored = nn.select(
        "series_key",
        "window_id",
        "sax_word",
        "word_count",
        (F.floor(F.sqrt(F.col("__m")) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "nn_dist"
        ),
    )
    return scored.orderBy(
        F.desc("nn_dist"), "series_key", "window_id"
    ).limit(top)


def isax_buckets(
    words: DataFrame,
    *,
    c: int,
    coarse_c: int,
    word_col: str = "sax_word",
) -> DataFrame:
    """iSAX index statistics: occurrence count per cardinality-``coarse_c``
    prefix word -> ``(bucket, n_words)``. The coarse word is the node key
    of an iSAX prefix tree; at scale this is the partition/bucket column
    to sort data by for pruned similarity scans."""
    return (
        words.where(F.col(word_col).isNotNull())
        .groupBy(sax_coarsen(F.col(word_col), c, coarse_c).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_words"))
    )


def isax_topk(
    words: DataFrame,
    pattern: str,
    *,
    c: int,
    coarse_c: int,
    k: int,
    word_col: str = "sax_word",
    n: str | int | None = None,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Indexed (approximate) top-k: prune to the query's iSAX bucket —
    words whose coarse form equals the pattern's — then refine with exact
    mindist. The probe is approximate across bucket edges: neighbouring
    fine letters on opposite sides of a coarse boundary have mindist 0
    yet land in different buckets (at c=8, ``AAAD``/``AAAE`` coarsen to
    ``AAAB``/``AAAC`` at c=4), so the prune can drop exact matches and
    return fewer than ``k`` rows. Ranking is exact only within the bucket.
    The prefilter is a plan-time string constant -> parquet-pushable
    predicate; the scan reads ~1/coarse_c^w of the data. ``n`` is as in
    :func:`mindist_to_pattern`."""
    coarse_pattern = pk.coarsen(pattern, c, coarse_c)
    pruned = words.where(
        sax_coarsen(F.col(word_col), c, coarse_c) == coarse_pattern
    )
    return topk_nearest(
        pruned, pattern, c=c, k=k, word_col=word_col, n=n, tiebreakers=tiebreakers
    )


def euclidean_refine(
    pairs: DataFrame,
    values: DataFrame,
    *,
    key_col: str = "series_key",
    vals_col: str = "vals",
    key_a: str = "key_a",
    key_b: str = "key_b",
    out: str = "exact_dist",
    delta: float | None = None,
    cascade_frames: int | None = None,
) -> DataFrame:
    """Exact-distance refinement — the second half of the reference's
    prune-then-refine contract (/root/reference/README.md:29-34: MINDIST
    "lower bounds the Euclidean distance between z-normalized series",
    include/symtseries.h:5-7). ``pairs`` is a candidate set (e.g. from
    :func:`allpairs_within`); ``values`` maps each key to its raw window
    (``array<double>``, e.g. from
    :func:`..operators.windows.tumbling_values`). Adds ``out`` = true
    z-normalized Euclidean distance; with ``delta`` set, keeps only true
    matches — turning the mindist candidate superset into the exact
    answer.

    With ``delta`` and ``cascade_frames`` both set, a CASCADING second
    lower bound runs between the symbolic prune and the full distance:
    the PAA distance at ``cascade_frames`` frames (Keogh's lemma:
    sqrt(f) * ||paa_a - paa_b|| <= exact for fully-finite windows) is
    computed per pair first, and the full O(n) distance is evaluated
    only when the bound passes — windows containing NaN/Inf bypass the
    gate (the lemma needs finite frames), so the cascade never changes
    the result, only the cost.

    Honest A/B (sf0.1, 14M candidates, n=16): the PAA-8 gate prunes 90%
    of candidates but end-to-end time is a WASH (14.2s vs 13.7s warm) —
    at n=16 per-pair cost is dominated by join row materialization, not
    the O(n) arithmetic, so gating the 16-element sum while adding an
    8-element one saves nothing. Default OFF; it exists for long windows
    (n >= 256) where the full distance dwarfs the gate.

    Plan shape for 100 TB: z-normalization (and the PAA projection) is
    computed on the ``values`` side BEFORE the joins, so each window
    normalizes once (scan-stage, codegen) no matter how many pairs
    reference it; the two equi-joins then ship only candidate keys +
    their arrays. The candidate side is the delta-pruned (small)
    relation, so AQE broadcasts it against the big values scan; per-pair
    work is O(n) JVM-side arithmetic with no Python anywhere.
    """
    cascade = delta is not None and cascade_frames is not None
    # materialize the z-table once: it feeds BOTH join sides, and without
    # this the upstream window aggregation would run twice (same
    # single-compute + ContextCleaner-freed story as the word table above)
    z = values.select(
        F.col(key_col).alias("__k"), sax_znorm(F.col(vals_col)).alias("__z")
    )
    side_cols = ["__k", "__z"]
    if cascade:
        zc = F.col("__z")
        f = (F.size(zc) / cascade_frames).cast("int")
        paa = F.transform(
            F.sequence(F.lit(0), F.lit(cascade_frames - 1)),
            lambda j: _let(
                F.slice(zc, j * f + 1, f),
                lambda fr: F.aggregate(fr, F.lit(0.0), lambda a, v: a + v)
                / F.size(fr),
            ),
        )
        z = z.withColumn("__paa", paa).withColumn(
            "__fin",
            F.forall(zc, lambda x: is_finite(x)) & (F.size(zc) % cascade_frames == 0),
        )
        side_cols += ["__paa", "__fin"]
    z = z.localCheckpoint(eager=True)
    za = z.select(*[F.col(c).alias(c + "a") for c in side_cols])
    zb = z.select(*[F.col(c).alias(c + "b") for c in side_cols])
    joined = pairs.join(za, F.col(key_a) == F.col("__ka")).join(
        zb, F.col(key_b) == F.col("__kb")
    )
    exact = sax_zeuclidean(F.col("__za"), F.col("__zb"))
    if cascade:
        f_ratio = F.size(F.col("__za")) / cascade_frames
        paa_d2 = F.aggregate(
            F.zip_with("__paaa", "__paab", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        prune = (
            F.col("__fina")
            & F.col("__finb")
            & (F.sqrt(f_ratio * paa_d2) > F.lit(delta))
        )
        exact = F.when(~prune, exact)
    refined = joined.withColumn(out, exact).drop(
        *[c + s for c in side_cols for s in ("a", "b")]
    )
    if delta is not None:
        refined = refined.where(F.col(out) <= F.lit(delta))
    return refined


def allpairs_within(
    words: DataFrame,
    *,
    w: int,
    c: int,
    delta: float,
    key_col: str = "series_key",
    word_col: str = "sax_word",
    n_col: str | None = "n",
    attach: DataFrame | None = None,
    attach_key: str = "series_key",
    attach_col: str = "payload",
) -> DataFrame:
    """All unordered pairs of series whose words are mindist-compatible
    (equal w, compatible n) and within ``delta``.

    Plan (the scale-critical part of the engine): SAX words are a
    dimensionality reduction, so the number of DISTINCT words is bounded
    by c^w and in practice tiny relative to row count. Distances are
    therefore computed once per distinct word *pair* (a small broadcast
    nested-loop over distinct words only), the surviving pairs
    (dist <= delta, including the zero-distance diagonal) are broadcast,
    and the quadratic expansion back to key pairs happens as two
    shuffle-free equi-joins on the word. Row-pair work is then
    proportional to the OUTPUT size, not |rows|^2 — a naive key-pair
    nested loop at sf0.1 runs 500+ s single-task; this plan runs in
    seconds, fully parallel.

    mindist is a lower bound on true Euclidean distance, so the output is
    a candidate set guaranteed to contain every true match within delta.

    ``attach`` (optional): a per-key payload table (``attach_key`` ->
    ``attach_col``) joined onto BOTH key sides BEFORE the pair
    expansion, emitted as ``payload_a``/``payload_b`` (flip-corrected).
    This exists for fused prune-then-refine: attaching the z-normalized
    windows here lets the caller compute the exact distance scan-stage
    on the expansion output, instead of running two more joins against
    the (candidate-count-sized) pair set — the refine joins were ~half
    the cost of the end-to-end all-pairs query at sf0.1. Keys missing
    from ``attach`` keep NULL payloads (inner semantics preserved by the
    caller's distance filter).
    """
    cols = [F.col(key_col).alias("k"), F.col(word_col).alias("wd")] + (
        [F.col(n_col).alias("n")] if n_col else []
    )
    # the word table feeds three plan branches (distinct pairs + both
    # expansion sides); materialize it once so the upstream window
    # aggregation runs once — it is the compressed representation (key +
    # w chars), orders of magnitude smaller than its source series.
    # localCheckpoint (eager) rather than persist: same single-compute
    # guarantee, but the blocks are owned by the RDD and freed by the
    # ContextCleaner when the result DataFrame is released, instead of
    # sitting in the cache manager for the session lifetime.
    base = (
        words.where(F.col(word_col).isNotNull())
        .select(*cols)
        .localCheckpoint(eager=True)
    )

    # 1) distances over distinct words only (|D|^2/2 evals, |D| <= c^w).
    # The left (streamed) side drives the nested-loop parallelism and
    # arrives AQE-coalesced to one partition — spread it, or |D|^2 evals
    # run in one task (at fine w, |D| approaches the key count)
    parallelism = words.sparkSession.sparkContext.defaultParallelism
    dcols = ["wd"] + (["n"] if n_col else [])
    distinct = base.select(*dcols).distinct()
    da = distinct.select(
        F.col("wd").alias("word_a"), *([F.col("n").alias("n_a")] if n_col else [])
    ).repartition(parallelism)
    db = F.broadcast(distinct.select(
        F.col("wd").alias("word_b"), *([F.col("n").alias("n_b")] if n_col else [])
    ))
    cond = (F.col("word_a") <= F.col("word_b")) & (
        F.length("word_a") == F.length("word_b")
    )
    if n_col:
        cond = cond & (F.col("n_a") == F.col("n_b"))
    n_arg = F.col("n_a") if n_col else None
    parts = sax_word_mindist(F.col("word_a"), F.col("word_b"), w=w, c=c, n=n_arg)
    word_pairs = (
        da.join(db, cond)
        .withColumn("__m", parts)
        .where(F.col("__m")["dist"] <= delta)
        .select(
            "word_a",
            "word_b",
            *(["n_a"] if n_col else []),
            F.col("__m")["dist"].alias("__d"),
            F.col("__m")["above"].alias("__ab"),
            F.col("__m")["below"].alias("__be"),
        )
    )

    # 2) expand to key pairs: two equi-joins against the broadcast pair
    #    set. Distinct keys own exactly one word, so each unordered key
    #    pair appears once; orientation is normalized afterwards (the
    #    above/below decomposition flips with the operands).
    # the word table is tiny (often one partition after AQE coalesce),
    # but the expansion fans each row out by its word-pair multiplicity —
    # downstream per-pair work inherits THIS side's partitioning, so
    # spread it across the cluster first (cheap: |keys| rows)
    a_keys = base.select(
        F.col("k").alias("ka"), F.col("wd").alias("word_a"),
        *([F.col("n").alias("n_a")] if n_col else []),
    ).repartition(parallelism)
    b_keys = base.select(
        F.col("k").alias("kb"), F.col("wd").alias("__wb"),
        *([F.col("n").alias("__nb")] if n_col else []),
    )
    if attach is not None:
        # payload feeds both sides — materialize once (same
        # single-compute story as the word table above)
        pay = attach.select(
            F.col(attach_key).alias("__pk"), F.col(attach_col).alias("__pay")
        ).localCheckpoint(eager=True)
        a_keys = (
            a_keys.join(pay, F.col("ka") == F.col("__pk"), "left")
            .drop("__pk")
            .withColumnRenamed("__pay", "__paya")
        )
        b_keys = (
            b_keys.join(pay, F.col("kb") == F.col("__pk"), "left")
            .drop("__pk")
            .withColumnRenamed("__pay", "__payb")
        )
    join_a = ["word_a"] + (["n_a"] if n_col else [])
    b_cond = F.col("word_b") == F.col("__wb")
    if n_col:
        b_cond = b_cond & (F.col("n_a") == F.col("__nb"))
    expanded = (
        a_keys.join(F.broadcast(word_pairs), join_a)
        .join(b_keys, b_cond)
        .drop("__wb", *(["__nb"] if n_col else []))
        .where(
            F.when(F.col("word_a") == F.col("word_b"), F.col("ka") < F.col("kb"))
            .otherwise(F.col("ka") != F.col("kb"))
        )
    )
    flip = F.col("ka") > F.col("kb")
    out_cols = [
        F.when(flip, F.col("kb")).otherwise(F.col("ka")).alias("key_a"),
        F.when(flip, F.col("ka")).otherwise(F.col("kb")).alias("key_b"),
        F.when(flip, F.col("word_b")).otherwise(F.col("word_a")).alias("word_a"),
        F.when(flip, F.col("word_a")).otherwise(F.col("word_b")).alias("word_b"),
        F.col("__d").alias("mindist"),
        F.when(flip, F.col("__be")).otherwise(F.col("__ab")).alias("above"),
        F.when(flip, F.col("__ab")).otherwise(F.col("__be")).alias("below"),
    ]
    if attach is not None:
        out_cols += [
            F.when(flip, F.col("__payb")).otherwise(F.col("__paya"))
            .alias("payload_a"),
            F.when(flip, F.col("__paya")).otherwise(F.col("__payb"))
            .alias("payload_b"),
        ]
    return expanded.select(*out_cols)


def vsm_series_pairs(
    df: DataFrame,
    *,
    key: str,
    order: str | list[str],
    value: str,
    n: int,
    w: int,
    c: int,
    df_cap: int = 200,
    top: int = 20,
) -> DataFrame:
    """SAX-VSM series similarity (Senin & Malinchik 2013, "SAX-VSM:
    Interpretable Time Series Classification Using SAX and Vector Space
    Model"): each series becomes a bag of its tumbling SAX words,
    weighted tf * ln(N/df) (the engine's tf-idf convention,
    operators/retrieval.py), and the ``top`` most-similar series pairs
    by tf-idf cosine are reported ->
    ``(series_a, series_b, shared_words, cos_sim)``.

    Words with document frequency above ``df_cap`` are pruned BEFORE
    the pair expansion — they carry near-zero idf anyway, and the cap
    bounds the word-keyed self-join fanout at df_cap^2 per word: the
    same hot-key insurance as ``max_shingle_freq`` in the Jaccard
    dedup (docs/SCALING.md). Norms are computed over the same pruned
    space, so the cosine is exact within it; series whose words are
    all pruned drop out. Cosine is quantized 1e-6 before the ordering
    so the reported top set is engine-stable.

    Scale shape: word bags via one tumbling pass (map-side
    combinable); tf/df from the same shuffled relation; N as a
    broadcast scalar row; the pair dot is one equi-join on the word
    key (bounded by the cap) + a combinable groupBy; norms join is on
    series keys. No cartesian anywhere.
    """
    from .windows import tumbling_sax

    if df_cap < 1 or top < 1:
        raise ValueError("vsm_series_pairs needs df_cap >= 1, top >= 1")
    from symtseries_spark.cache import persist_tracked

    words = tumbling_sax(
        df, key=key, order=order, value=value, n=n, w=w, c=c
    )
    # persist (r12): tf is the first aggregation off the Window-heavy
    # tumbling pass and EVERY downstream branch (df counts, the N
    # scalar, weights -> both join sides + norms) re-derived it —
    # unpersisted, the query plan carried 24 copies of the tumbling
    # lineage (24 scans / 24 Window nodes / 118 Exchanges at sf0.1).
    # One (series, word, tf) row per distinct pair: the compressed
    # representation, orders of magnitude smaller than the series.
    tf = persist_tracked(
        words.groupBy("series_key", "sax_word").agg(
            F.count(F.lit(1)).alias("tf")
        )
    )
    dfw = tf.groupBy("sax_word").agg(F.count(F.lit(1)).alias("df"))
    # N from tf, not from the tumbling pass: a series contributes to N
    # iff it has >= 1 word, i.e. iff it has >= 1 tf row — identical
    # count, one less evaluation of the window lineage.
    n_row = tf.agg(
        F.countDistinct("series_key").alias("n")
    )
    # weights is read by both pair-expansion sides AND the norms
    # aggregate; its own lineage off the persisted tf is three joins —
    # cheap, but 4 references still quadruple the dfw/n_row shuffles.
    weights = persist_tracked(
        tf.join(dfw.where(F.col("df") <= df_cap), "sax_word")
        .join(F.broadcast(n_row))
        .select(
            "series_key",
            "sax_word",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("__w"),
        )
    )
    norms = weights.groupBy("series_key").agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__nrm")
    )
    a = weights.select(
        F.col("series_key").alias("series_a"),
        "sax_word",
        F.col("__w").alias("__wa"),
    )
    b = weights.select(
        F.col("series_key").alias("series_b"),
        "sax_word",
        F.col("__w").alias("__wb"),
    )
    dots = (
        a.join(b, "sax_word")
        .where(F.col("series_a") < F.col("series_b"))
        .groupBy("series_a", "series_b")
        .agg(
            F.count(F.lit(1)).alias("shared_words"),
            F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"),
        )
    )
    na = norms.select(
        F.col("series_key").alias("series_a"), F.col("__nrm").alias("__na")
    )
    nb = norms.select(
        F.col("series_key").alias("series_b"), F.col("__nrm").alias("__nb")
    )
    scored = (
        dots.join(na, "series_a")
        .join(nb, "series_b")
        .select(
            "series_a",
            "series_b",
            "shared_words",
            (
                F.floor(
                    F.col("__dot") / (F.col("__na") * F.col("__nb")) * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(
        F.desc("cos_sim"), "series_a", "series_b"
    ).limit(top)
