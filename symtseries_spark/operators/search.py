"""SAX-space search operators: pattern matching, nearest-neighbor,
all-pairs similarity, motif counting.

These implement the query surface the reference only *hints* at ("HUGE
pattern collections", README.md:29-34): mindist lower-bounds the true
Euclidean distance between z-normalized series (up to the pair table's
rounding, ``MINDIST_OVERSHOOT``), so every operator here is a *pruning*
primitive — filter cheap mindist first, refine with exact distance only
on survivors (:func:`allpairs_refined`).

Literal query patterns are plan-time constants — no join at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import pykernel as pk
from ..constants import LETTERS, MINDIST_OVERSHOOT, MISSING, validate_params
from ..functions.sax import _mindist_sums, sax_zeuclidean, sax_znorm


def _finish_mindist(scored: DataFrame, dist: str, above: str, below: str) -> DataFrame:
    """Finish the ``dist``, ``above`` and ``below`` columns from the
    ``__m`` STRUCT(above, below, scale) of :func:`_mindist_sums`, and
    drop ``__m``. A projection of its own, as SQL text, so each sum is
    evaluated once per row and building it costs a fixed few Py4J
    calls."""
    return scored.withColumns(
        {
            dist: F.expr("`__m`.scale * sqrt(`__m`.above + `__m`.below)"),
            above: F.expr("`__m`.scale * sqrt(`__m`.above)"),
            below: F.expr("`__m`.scale * sqrt(`__m`.below)"),
        }
    ).drop("__m")


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

    Two projections: the first evaluates each per-position sum once per
    row (:func:`_mindist_sums`), the second finishes the three columns
    from them (:func:`_finish_mindist`).
    """
    if n is not None and not isinstance(n, (str, int)):
        raise TypeError(
            f"n must be a column name, an int or None, not {type(n).__name__}"
        )
    sums = _mindist_sums(word_col, pattern=pattern, c=c, n=n)
    return _finish_mindist(words.withColumn("__m", sums), out, f"{out}_above", f"{out}_below")


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
    pattern means this is scan -> filter -> project ->
    TakeOrderedAndProject at the plan root, which takes a partial top-k
    per partition and merges them on the driver: no shuffle. ``n`` is
    as in :func:`mindist_to_pattern`.

    The unscorable rows are dropped before scoring by a predicate that
    reads no MINDIST sum: a word is scorable exactly when it has the
    pattern's length and every letter is one of the first ``c`` or
    '#'. Ordering by ``mindist`` and the tiebreakers then needs no NULL
    rule, and nothing sits above the limit.
    """
    word = F.col(word_col)
    scorable = (F.length(word) == len(pattern)) & (
        F.translate(word, LETTERS[:c] + MISSING, "") == ""
    )
    scored = mindist_to_pattern(words.where(scorable), pattern, c=c, word_col=word_col, n=n)
    return scored.orderBy("mindist", *(tiebreakers or [])).limit(k)


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
    discords. Raw (not z-normed) Euclidean distance by
    :func:`sax_zeuclidean`, whose left-to-right sum the DuckDB oracle
    matches bit-for-bit; quantized 1e-6.

    Scale shape: the word histogram is one map-side-combinable groupBy
    (word-space bounded: c^w keys); the rare-word table and the
    candidate windows (``rare_words`` × their occurrence count, small
    by construction — rare words are rare) are BROADCAST against the
    window relation, so the corpus-sized side is never shuffled for
    the refine; the per-candidate argmin collapses map-side. Windows
    materialize n<=4096 doubles per row (the reference's own cap).
    A window holding a NULL, NaN or ±Inf value is dropped before the
    word histogram: it is neither a candidate nor a neighbor, and its
    word is not counted. Series with a single full finite window have
    no neighbor and are not reported.
    """
    from ..functions.sax import is_finite, sax_encode
    from .windows import tumbling_values

    if rare_words < 1 or top < 1:
        raise ValueError("discords needs rare_words >= 1, top >= 1")
    wins = tumbling_values(df, key=key, order=order, value=value, n=n).where(
        F.forall("vals", is_finite)
    )
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
    nn = (
        F.broadcast(cand)
        .join(others, "series_key")
        .where(F.col("window_id") != F.col("__oid"))
        .groupBy("series_key", "window_id", "sax_word", "word_count")
        .agg(F.min(sax_zeuclidean(F.col("__cvals"), F.col("__ovals"), n)).alias("__m"))
    )
    scored = nn.select(
        "series_key",
        "window_id",
        "sax_word",
        "word_count",
        (F.floor(F.col("__m") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "nn_dist"
        ),
    )
    return scored.orderBy(
        F.desc("nn_dist"), "series_key", "window_id"
    ).limit(top)


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

    The output is a candidate set, not a complete one: the pair table
    is rounded while the breakpoints are truncated, so on all-finite
    n-point windows MINDIST can exceed the exact z-normalized Euclidean
    distance by up to √n·``MINDIST_OVERSHOOT[c]`` (at n=16, w=4, c=8 the
    words ``HAGB``/``AHGB`` have MINDIST 6.508211 over an exact 6.505948),
    and a true match within that excess of ``delta`` can be dropped.
    Callers that need every match use :func:`allpairs_refined`.

    ``n_col`` names the words' n column; pairs need equal n. ``None``
    reads every word as the wildcard n = 0, i.e. n = w.

    ``attach`` (optional): a per-key payload table (``attach_key`` ->
    ``attach_col``) joined onto the word table BEFORE the pair
    expansion, emitted as ``payload_a``/``payload_b`` (flip-corrected).
    This exists for fused prune-then-refine: attaching the z-normalized
    windows here lets the caller compute the exact distance scan-stage
    on the expansion output, instead of running two more joins against
    the (candidate-count-sized) pair set — the refine joins were ~half
    the cost of the end-to-end all-pairs query at sf0.1. Keys missing
    from ``attach`` keep NULL payloads (inner semantics preserved by the
    caller's distance filter).
    """
    cols = [F.col(key_col).alias("k"), F.col(word_col).alias("wd")]
    if n_col:
        cols.append(F.col(n_col).alias("n"))
    # the word table (with its payload) feeds three plan branches
    # (distinct pairs + both expansion sides); materialize it once so the
    # upstream window aggregation and the payload join run once.
    # localCheckpoint (eager) rather than persist: same single-compute
    # guarantee, but the blocks are owned by the RDD and freed by the
    # ContextCleaner when the result DataFrame is released, instead of
    # sitting in the cache manager for the session lifetime.
    base = words.where(F.col(word_col).isNotNull()).select(*cols)
    if attach is not None:
        pay = attach.select(F.col(attach_key).alias("__pk"), F.col(attach_col).alias("__pay"))
        base = base.join(pay, F.col("k") == F.col("__pk"), "left").drop("__pk")
    base = base.localCheckpoint(eager=True)
    if not n_col:
        # no n column: every word is the wildcard n = 0 (n = w). Added
        # after the checkpoint, the constant is visible to Catalyst,
        # which folds the n comparisons below away
        base = base.withColumn("n", F.lit(0))

    # 1) distances over distinct words only (|D|^2/2 evals, |D| <= c^w).
    # The left (streamed) side drives the nested-loop parallelism and
    # arrives AQE-coalesced to one partition — spread it, or |D|^2 evals
    # run in one task (at fine w, |D| approaches the key count)
    parallelism = words.sparkSession.sparkContext.defaultParallelism
    distinct = base.select("wd", "n").distinct()
    da = distinct.select(
        F.col("wd").alias("word_a"), F.col("n").alias("n_a")
    ).repartition(parallelism)
    db = F.broadcast(
        distinct.select(F.col("wd").alias("word_b"), F.col("n").alias("n_b"))
    )
    cond = (
        (F.col("word_a") <= F.col("word_b"))
        & (F.length("word_a") == F.length("word_b"))
        & (F.col("n_a") == F.col("n_b"))
    )
    # the join requires n_a = n_b, so the one-sided n rule is exact
    sums = _mindist_sums("word_a", other_col="word_b", w=w, c=c, n="n_a")
    word_pairs = (
        _finish_mindist(da.join(db, cond).withColumn("__m", sums), "__d", "__ab", "__be")
        .where(F.col("__d") <= delta)
        .select("word_a", "word_b", "n_a", "__d", "__ab", "__be")
    )

    # 2) expand to key pairs: two equi-joins against the broadcast pair
    #    set. Distinct keys own exactly one word, so each unordered key
    #    pair appears once; orientation is normalized afterwards (the
    #    above/below decomposition flips with the operands).
    # the word table is tiny (often one partition after AQE coalesce),
    # but the expansion fans each row out by its word-pair multiplicity —
    # downstream per-pair work inherits THIS side's partitioning, so
    # spread it across the cluster first (cheap: |keys| rows)
    pay_a = [F.col("__pay").alias("__paya")] if attach is not None else []
    pay_b = [F.col("__pay").alias("__payb")] if attach is not None else []
    a_keys = base.select(
        F.col("k").alias("ka"), F.col("wd").alias("word_a"), F.col("n").alias("n_a"), *pay_a
    ).repartition(parallelism)
    b_keys = base.select(
        F.col("k").alias("kb"), F.col("wd").alias("__wb"), F.col("n").alias("__nb"), *pay_b
    )
    b_cond = (F.col("word_b") == F.col("__wb")) & (F.col("n_a") == F.col("__nb"))
    expanded = (
        a_keys.join(F.broadcast(word_pairs), ["word_a", "n_a"])
        .join(b_keys, b_cond)
        .drop("__wb", "__nb")
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


def allpairs_refined(
    words: DataFrame,
    values: DataFrame,
    *,
    key: str,
    n: int,
    w: int,
    c: int,
    delta: float,
) -> DataFrame:
    """Exact all-pairs-within-``delta``: every unordered pair of windows
    whose z-normalized Euclidean distance is at most ``delta`` ->
    ``(key_a, key_b, mindist, exact_dist)`` — the reference's
    prune-then-refine contract (README.md:29-34) as one plan.

    ``words`` holds ``key`` and ``sax_word`` (n-point windows encoded
    at (w, c), e.g. :func:`..operators.windows.tumbling_sax`); ``values``
    holds ``key`` and the raw window ``vals`` (e.g.
    :func:`..operators.windows.tumbling_values`). Each window is
    z-normalized once (:func:`sax_znorm`) and rides the
    :func:`allpairs_within` pair expansion as its payload, so the exact
    distance (:func:`sax_zeuclidean` at ``n``) is a projection
    over the expansion output with no join back to ``values``. The prune
    runs at ``delta + √n·MINDIST_OVERSHOOT[c]``, the most MINDIST can
    exceed the exact distance, so the answer is complete over all-finite
    windows. ``mindist`` is at the true √(n/w) scale.

    A window holding NaN/±Inf gets its exact distance over the positions
    finite on both sides, which MINDIST ('#' frames count as the
    furthest letter) does not lower-bound: its pairs are exact but may
    be incomplete. Keys missing from ``values`` give no rows."""
    validate_params(n, w, c)
    scale = (n / w) ** 0.5
    z = values.select(key, sax_znorm(F.col("vals")).alias("z"))
    pairs = allpairs_within(
        words,
        w=w,
        c=c,
        delta=(delta + n**0.5 * MINDIST_OVERSHOOT[c]) / scale,
        key_col=key,
        n_col=None,
        attach=z,
        attach_key=key,
        attach_col="z",
    )
    return pairs.select(
        "key_a",
        "key_b",
        (F.col("mindist") * scale).alias("mindist"),
        sax_zeuclidean(F.col("payload_a"), F.col("payload_b"), n).alias(
            "exact_dist"
        ),
    ).where(F.col("exact_dist") <= delta)


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
