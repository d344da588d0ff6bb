"""Distributed exact global ranking.

``row_number() OVER (ORDER BY key)`` with no PARTITION BY funnels the
whole relation through ONE task — the classic 100x scale-killer. This
module provides the exact two-pass replacement used by every registered
query that needs a true global rank (CCNet buckets, DSIR rank gates,
Gini/skew reports, RFM ntiles):

1. **Boundary pass** — ``approxQuantile`` picks ``buckets-1`` range
   boundaries on the (double-cast) sort key. Boundary *placement* only
   affects balance, never correctness: any boundary set yields exact
   ranks because the bucket id is a monotone function of the
   ``(key, tiebreak)`` sort order. A boundary value REPEATED across
   quantiles flags a heavy tie run; with a numeric tiebreak it is
   sub-split by tiebreak quantiles into composite ``(key, tiebreak)``
   boundaries (see "Heavy ties" below).
2. **Count pass** — per-bucket row counts, collected to the driver
   (bounded: at most ``buckets`` rows) and turned into cumulative
   prefix offsets, re-entering the plan as a literal map. The same
   pass counts null/NaN keys and fails fast if any exist (they would
   bucket differently than they sort, silently corrupting ranks).
3. **Rank pass** — ``row_number()`` WITHIN each bucket (parallel
   window, one task per bucket) plus the bucket's offset. Bucket order
   + in-bucket order = global order, so the result is bit-identical to
   the single-task global window — the DuckDB oracles run the literal
   global form and stay green unchanged. A bucket id that was never
   counted raises at runtime instead of emitting NULL ranks. That
   guard is deliberately narrow: it only catches buckets absent from
   the count pass. A nondeterministic upstream lineage whose rows
   merely MOVE between already-counted buckets (or change count
   within them) between the two jobs produces gapped/duplicated ranks
   and a stale total with no error — determinism of the input lineage
   remains the caller's contract, as it is for every multi-action
   Spark plan.

The input lineage is persisted across the two driver actions and
unpersisted before the final plan is handed back, so upstream work runs
twice total (once cached for both actions, once in the caller's job)
instead of three times.

Preconditions: the sort key must be numeric, non-null, and non-NaN
(enforced at runtime in the count pass).

**Heavy ties are split by the tiebreak** (round 8): a dominant key
value shows up as a REPEATED approxQuantile boundary, and when the
tiebreak column is numeric the boundary set is extended to composite
``(key, tiebreak)`` pairs — the dominant key's run is sub-bucketed by
tiebreak quantiles computed over just that key's rows. The bucket id
stays a monotone function of the full ``(key, tiebreak)`` sort order
(which is exactly what the window orders by), so ranks remain
bit-identical while the 90%-tie worst case goes from one 0.9n-row
single-task sort to ~buckets parallel tasks (measured in BASELINE.md,
"Round 8: distributed-rank 100x probe": tie90 at 100M rows matched the
uniform distribution's wall time once split, vs 60x serialized before).
With a non-numeric tiebreak the operator degrades to the old behavior:
all ties land in one bucket, ranked in one task, still exact. Tie cuts are
budgeted out of the requested bucket count (each heavy value keeps at
most multiplicity-1 cuts), so the boundary list never exceeds
``buckets - 1`` entries (round 9).

**Per-row cost** (round 9): bucket assignment is an O(2*sqrt(buckets))
two-level literal scan (see ``_bucket_expr``) and the offset lookup is
one dense-array ``element_at`` — wide bucket counts no longer pay
O(buckets) per row, and the default cap is 16384 (``_default_buckets``).
The quantile pass runs at ``min(rel_err, 0.5/buckets)`` so adjacent
bucket boundaries stay resolved and a repeated boundary always means a
genuinely heavy key, not sketch resolution.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

__all__ = [
    "dense_ranked_with_total",
    "distributed_row_number",
    "distributed_ntile",
    "ntile_multi",
    "ranked_with_total",
]


def _default_buckets(df: DataFrame) -> int:
    """Bucket count when the caller doesn't pin one: the session's
    ``spark.sql.shuffle.partitions``. The rank pass is one window task
    per bucket, so tying bucket count to shuffle width means the rank
    stage scales with the cluster instead of capping at a constant (a
    hardcoded 64 would leave a 1000-executor cluster 94% idle during
    the rank window). Falls back to ``defaultParallelism`` when the
    conf is non-numeric (e.g. ``auto`` under some AQE setups).

    Capped at 16384: per-row cost no longer binds (bucket assignment
    binary-searches the boundary array in O(log buckets) probes and
    the offset lookup is one dense-array element_at — round 9; the
    linear scans they replaced measured 10s -> 242s from 32 -> 4096
    buckets on a 10M-row rank). What remains is the driver-side
    boundary collect (<= buckets rows) and the literal boundary/offset
    arrays embedded twice in the plan — ~buckets struct literals each,
    which at tens of thousands starts to bloat plan
    serialization/codegen rather than help: 16384 parallel sort tasks
    saturate any realistic executor fleet. Callers can still pin a
    larger count explicitly."""
    sess = df.sparkSession
    try:
        n = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n = 0
    if n < 1:
        n = sess.sparkContext.defaultParallelism
    return max(1, min(n, 16384))


# Below this boundary count the whole-array filter scan beats the
# binary search's aggregate/element_at overhead in codegen (and reads
# simpler in plans); above it the O(bounds)-per-row scan dominates the
# rank (measured at 10M rows: 10s at 32 buckets -> 242s at 4096 with
# the linear scan; flat with the search).
_LINEAR_SCAN_MAX = 64


def _bucket_expr(bounds: list[tuple[float, float | None]], key_d, tie_d):
    """Bucket id = number of boundaries lexicographically <= the row's
    ``(key, tiebreak)`` — monotone in the composite sort order.

    A boundary is ``(kb, tb)`` with ``tb=None`` meaning -infinity (a
    plain key boundary: counted whenever ``kb <= key``, identical to
    the scalar form). Tie-split boundaries carry a real ``tb`` and are
    counted when ``kb < key OR (kb == key AND tb <= tie)``. NULL
    tiebreaks make that second term false, putting the row in the
    LOWEST sub-bucket of its key — consistent with the window's
    nulls-first ascending tie order; NaN compares greatest in Spark,
    landing in the highest sub-bucket, again matching the window.

    Cost shape: the boundaries are sorted and distinct, so the counted
    set is always a PREFIX of the array — small boundary lists use one
    whole-array filter scan; larger ones a two-level (sqrt-decomposed)
    scan: count the chunks whose LAST boundary passes (``filter`` over
    ~sqrt(len) chunk-last entries), then scan only the one candidate
    chunk (``element_at`` + ``filter`` over ~sqrt(len) entries) —
    O(2*sqrt(buckets)) cheap per-element comparisons per row instead
    of O(buckets). (An O(log) per-row binary search via an
    ``aggregate`` fold was measured SLOWER here: each fold step pays
    interpreted struct/when overhead ~100x a filter comparison, so
    2*sqrt wins for any boundary count the bucket cap allows.) Both
    forms use the same comparison lambda over the same literals, so
    they count identically.
    """
    if not bounds:
        return F.lit(0)
    if all(tb is None for _, tb in bounds):

        def mk(b):
            return F.lit(float(b[0]))

        def le(b):
            return b <= key_d

    else:

        def mk(b):
            kb, tb = b
            return F.struct(
                F.lit(float(kb)).alias("kb"),
                F.lit(float("-inf") if tb is None else float(tb)).alias("tb"),
            )

        def le(b):
            return (b["kb"] < key_d) | ((b["kb"] == key_d) & (b["tb"] <= tie_d))

    n = len(bounds)
    if n <= _LINEAR_SCAN_MAX:
        return F.size(F.filter(F.array(*[mk(b) for b in bounds]), le))

    import math

    c = max(1, math.isqrt(n))
    chunks = [bounds[i : i + c] for i in range(0, n, c)]
    n_chunks = len(chunks)
    # Only the LAST chunk can be short, so every chunk BEFORE the
    # candidate contributes exactly c boundaries; a row past every
    # chunk-last is past every boundary (count = n).
    chunk_last = F.array(*[mk(ch[-1]) for ch in chunks])
    chunk_arr = F.array(*[F.array(*[mk(b) for b in ch]) for ch in chunks])
    full = F.size(F.filter(chunk_last, le))
    cand = F.element_at(chunk_arr, F.least(full + F.lit(1), F.lit(n_chunks)))
    within = F.when(
        full < F.lit(n_chunks), F.size(F.filter(cand, le))
    ).otherwise(F.lit(0))
    return F.when(full >= F.lit(n_chunks), F.lit(n)).otherwise(
        full * F.lit(c) + within
    )


def _trim_tie_bounds(
    kcnt: Counter, tie_bounds: dict[float, list[float]]
) -> dict[float, list[float]]:
    """Budget tie cuts out of the requested bucket count (in place):
    each heavy value keeps at most (multiplicity - 1) cuts — the
    boundary slots its tie run absorbed from the plain quantile pass —
    selected evenly from its mx-1 computed quantiles. Guarantees
    len(bounds) <= buckets - 1, so the O(len(bounds))-per-row bucket
    assignment honors the documented O(buckets) cap (the shared
    mx-sized cut list could otherwise push the boundary count to
    ~heavy*mx on skewed multiplicities). Fewer sub-buckets = less
    parallelism for that run, never a correctness change."""
    for v, lst in tie_bounds.items():
        alloc = kcnt[v] - 1
        if len(lst) > alloc:
            tie_bounds[v] = sorted(
                {
                    lst[
                        min(
                            len(lst) - 1,
                            int((j + 1) * len(lst) / (alloc + 1)),
                        )
                    ]
                    for j in range(alloc)
                }
            )
    return tie_bounds


def _assemble_bounds(
    kcnt: Counter, tie_bounds: dict[float, list[float]]
) -> list[tuple[float, float | None]]:
    """Plain + composite (key, tiebreak) boundary list in sort order."""
    bounds: list[tuple[float, float | None]] = []
    for v in sorted(kcnt):
        bounds.append((v, None))
        bounds.extend((v, t) for t in tie_bounds.get(v, []))
    return bounds


def ranked_with_total(
    df: DataFrame,
    key: str,
    *,
    tiebreak: str,
    out: str,
    descending: bool,
    buckets: int | None = None,
    rel_err: float = 0.01,
    key_bounds: list[float] | None = None,
    _keep_bucket: bool = False,
) -> tuple[DataFrame, int]:
    """Two-pass core: returns ``(ranked df, total row count)``.

    The total falls out of the count pass for free — callers that need
    it (ntile, rank-vs-total gates like CCNet terciles or the DSIR
    median cut) must use it as a plan literal, never re-aggregate the
    ranked lineage.

    ``buckets=None`` (the default) sizes the rank stage to the
    session's ``spark.sql.shuffle.partitions`` so parallelism follows
    the cluster; pass an explicit count only to pin a test plan.

    ``key_bounds`` (r12): callers that KNOW the oriented-key domain —
    the suffix-array doubling rounds rank dense integers in
    ``[1, prev_total]`` — may pass precomputed plain-key boundaries
    and skip the ``approxQuantile`` pass entirely (one less full pass
    over the input per call, and the input no longer needs an internal
    persist: the count pass is then the only pre-action). Boundary
    placement affects only balance, never correctness (module
    docstring), so ANY boundary list yields exact ranks; the trade is
    that heavy-tie sub-splitting is skipped — callers should pass
    bounds only when per-key multiplicity is structurally bounded.
    Values are in ORIENTED key space (negated when ``descending``).
    """
    if buckets is None:
        buckets = _default_buckets(df)
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    # Orientation: rank ascending over sgn * key so one code path
    # serves both directions. Negation of a double/long is exact.
    key_d = F.col(key).cast("double")
    oriented = (-key_d) if descending else key_d
    work = df.withColumn("__dk", oriented)

    # Tie-splitting needs a numeric tiebreak (the double cast must be
    # monotone in the tiebreak's own order); otherwise ties stay whole.
    tie_numeric = isinstance(df.schema[tiebreak].dataType, NumericType)
    tie_d = F.col(tiebreak).cast("double")

    if key_bounds is not None:
        bounds = [(float(v), None) for v in sorted({float(v) for v in key_bounds})]
        with_bkt = work.withColumn(
            "__bkt", _bucket_expr(bounds, F.col("__dk"), tie_d)
        )
        bad_bucket = F.when(
            F.col("__dk").isNull() | F.isnan("__dk"), F.lit(-1)
        ).otherwise(F.col("__bkt"))
        counts = {
            r["__b"]: r["cnt"]
            for r in with_bkt.groupBy(bad_bucket.alias("__b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        return _finish_ranked(
            df, counts, bounds, key, tiebreak, out, descending, tie_d,
            _keep_bucket,
        )

    work.persist()
    try:
        qs = [i / buckets for i in range(1, buckets)]
        # The sketch must RESOLVE adjacent bucket quantiles, or
        # distinct-key boundaries collapse into sketch-resolution
        # duplicates that masquerade as heavy ties (at rel_err=0.01 a
        # 16384-bucket request returned ~1700 distinct values over 1M
        # distinct keys — thousands of spurious "heavy" values, each
        # buying a pointless tie-split quantile job and composite
        # boundary). Half a bucket width keeps repeated boundaries
        # meaning what the splitter assumes: a value carrying more
        # than a bucket's worth of rows. Boundary precision only moves
        # rows between buckets — ranks stay exact at any rel_err.
        eff_rel_err = min(rel_err, 0.5 / buckets) if buckets > 1 else rel_err
        raw = work.stat.approxQuantile("__dk", qs, eff_rel_err) if qs else []
        # A key value repeated m times among the quantile boundaries
        # carries >~ (m-1)/buckets of the rows: a heavy tie run. Split
        # each into sub-buckets by tiebreak quantiles over that key's
        # rows. ALL heavy values are quantiled in ONE grouped
        # percentile_approx job (a per-value approxQuantile loop cost
        # one driver action each — measured +3.5s on a zipf-shaped 1M
        # input with ~8 heavy head values). Every heavy value gets the
        # max multiplicity's cut count: extra sub-buckets are free
        # parallelism, never a correctness concern.
        kcnt = Counter(raw)
        heavy = (
            [v for v, m in kcnt.items() if m >= 2 and v == v]  # no NaN
            if tie_numeric
            else []
        )
        tie_bounds: dict[float, list[float]] = {}
        if heavy:
            mx = max(kcnt[v] for v in heavy)
            probs = F.array(*[F.lit(i / mx) for i in range(1, mx)])
            acc = int(1.0 / max(eff_rel_err, 1e-4))
            rows = (
                work.where(F.col("__dk").isin(heavy))
                .groupBy("__dk")
                .agg(
                    F.percentile_approx(tiebreak, probs, F.lit(acc)).alias(
                        "__tbs"
                    )
                )
                .collect()
            )
            tie_bounds = {
                r["__dk"]: sorted({float(t) for t in r["__tbs"] if t is not None})
                for r in rows
                if r["__tbs"] is not None  # all-null tiebreaks: no split
            }
            _trim_tie_bounds(kcnt, tie_bounds)
        bounds = _assemble_bounds(kcnt, tie_bounds)
        with_bkt = work.withColumn(
            "__bkt", _bucket_expr(bounds, F.col("__dk"), tie_d)
        )
        # One grouped pass yields bucket counts AND the bad-key count
        # (null/NaN keys bucket differently than they sort — fail fast
        # instead of silently mis-ranking).
        bad_bucket = F.when(
            F.col("__dk").isNull() | F.isnan("__dk"), F.lit(-1)
        ).otherwise(F.col("__bkt"))
        counts = {
            r["__b"]: r["cnt"]
            for r in with_bkt.groupBy(bad_bucket.alias("__b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
    finally:
        work.unpersist()

    return _finish_ranked(
        df, counts, bounds, key, tiebreak, out, descending, tie_d,
        _keep_bucket,
    )


def _finish_ranked(
    df: DataFrame,
    counts: dict,
    bounds: list,
    key: str,
    tiebreak: str,
    out: str,
    descending: bool,
    tie_d,
    _keep_bucket: bool,
) -> tuple[DataFrame, int]:
    """Offsets-from-counts + the final within-bucket rank pass — the
    shared tail of :func:`ranked_with_total` (factored out in r12 so
    the ``key_bounds`` fast path reuses it verbatim)."""
    n_bad = counts.pop(-1, 0)
    if n_bad:
        raise ValueError(
            f"distributed rank over {key!r}: {n_bad} null/NaN key rows "
            "(the sort key must be non-null and non-NaN)"
        )

    offsets: dict[int, int] = {}
    total = 0
    for b in sorted(counts):
        offsets[b] = total
        total += counts[b]
    if offsets:
        # DENSE array indexed by bucket id (possible ids are exactly
        # 0..len(bounds) by construction of _bucket_expr), so the
        # per-row lookup is one O(1) element_at instead of a literal-
        # map scan that is O(buckets) per row. Holes — bucket ids the
        # count pass never observed — carry NULL. Explicit long casts:
        # a Python-int literal becomes IntegerType only while it fits
        # in 32 bits, so past 2^31 accumulated offsets the array's
        # element types would conflict exactly at the scale this
        # module targets.
        off_arr = F.array(
            *[
                F.lit(offsets[b]).cast("long")
                if b in offsets
                else F.lit(None).cast("long")
                for b in range(len(bounds) + 1)
            ]
        )
        # A bucket missing from the counted set (one way an upstream
        # lineage can be nondeterministic between the two jobs) raises
        # instead of emitting silent NULL ranks. Rows that merely move
        # between counted buckets are NOT detectable here — see the
        # module docstring. element_at is 1-based; __bkt is bounded in
        # [0, len(bounds)] so the index never leaves the array (ANSI
        # element_at would raise on out-of-range).
        off = F.coalesce(
            F.element_at(off_arr, F.col("__bkt").cast("int") + F.lit(1)),
            F.raise_error(
                F.lit(
                    "distributed rank: bucket/offset mismatch — upstream "
                    "lineage produced a bucket absent from the count pass "
                    "(nondeterministic input?)"
                )
            ).cast("long"),
        )
    else:
        off = F.lit(0).cast("long")

    order_key = F.col(key).desc() if descending else F.col(key).asc()
    w_in = Window.partitionBy("__bkt").orderBy(order_key, F.col(tiebreak))
    # Rebuild bucket on the original lineage (post-unpersist) — the
    # bucket expression is a pure function of the key, so the final
    # job's bucket ids match the counted ones exactly.
    key_d2 = F.col(key).cast("double")
    oriented2 = (-key_d2) if descending else key_d2
    ranked = df.withColumn(
        "__bkt", _bucket_expr(bounds, oriented2, tie_d)
    ).withColumn(out, F.row_number().over(w_in).cast("long") + off)
    if not _keep_bucket:
        # tests pass _keep_bucket=True to assert tie-split spread
        ranked = ranked.drop("__bkt")
    return ranked, total


def dense_ranked_with_total(
    df: DataFrame,
    key: str,
    *,
    tiebreak: str,
    out: str,
    key_bounds: list[float],
) -> tuple[DataFrame, int]:
    """Append ``out`` = exact global ``dense_rank() OVER (ORDER BY key,
    tiebreak)`` to EVERY input row (duplicates share a rank) and return
    the total number of distinct ``(key, tiebreak)`` classes — without
    materializing the distinct relation or joining it back.

    This is the fused form of the ``distinct -> ranked_with_total ->
    join-back`` shape (r13, suffix doubling rounds): the two-pass core
    runs directly on the non-distinct rows — the count pass counts
    DISTINCT pairs per bucket (map-side partial dedup, so what crosses
    the wire is ~distinct-sized), and the rank pass is one exchange on
    the bucket id + an in-bucket ``dense_rank`` window plus the
    cumulative distinct-count offset. Compared to the unfused shape
    this removes the distinct exchange, its recompute in the final
    plan, AND the corpus-sized join-back (two exchanges + SMJ sorts),
    at the cost of windowing the full relation instead of its distinct
    projection — a win whenever the caller would join the ranks back
    onto the full relation anyway.

    Scoped to the domain-known fast path: ``key_bounds`` are REQUIRED
    (ascending key space, the ``ranked_with_total`` convention), and
    both ``key`` and ``tiebreak`` must be non-null (NaN keys also
    rejected) — enforced in the count pass exactly like
    ``ranked_with_total``. Bucket id is a monotone function of ``key``
    alone (plain-key bounds), so all rows of one ``(key, tiebreak)``
    class share a bucket and per-bucket distinct counts sum to the
    global class total. The caller must hand in a deterministic
    (persisted/checkpointed) lineage — two driver actions read it, the
    multi-action contract of the module docstring.
    """
    bounds = [(float(v), None) for v in sorted({float(v) for v in key_bounds})]
    key_d = F.col(key).cast("double")
    tie_d = F.col(tiebreak).cast("double")
    bkt = _bucket_expr(bounds, key_d, tie_d)
    bad_bucket = F.when(
        F.col(key).isNull() | F.isnan(key_d) | F.col(tiebreak).isNull(),
        F.lit(-1),
    ).otherwise(bkt)
    # One grouped pass yields the per-bucket DISTINCT class count (the
    # rank offsets) AND the raw row count (the -1 group's row count is
    # the bad-row detector: count_distinct alone would read 0 over a
    # null-carrying group and let bad rows through silently).
    stats = {
        r["__b"]: (r["cls"], r["rows"])
        for r in df.groupBy(bad_bucket.alias("__b"))
        .agg(
            F.count_distinct(F.col(key), F.col(tiebreak)).alias("cls"),
            F.count(F.lit(1)).alias("rows"),
        )
        .collect()
    }
    n_bad = stats.pop(-1, (0, 0))[1]
    if n_bad:
        raise ValueError(
            f"dense rank over ({key!r}, {tiebreak!r}): {n_bad} null/NaN "
            "key rows (both columns must be non-null, key non-NaN)"
        )
    offsets: dict[int, int] = {}
    total = 0
    for b in sorted(stats):
        offsets[b] = total
        total += stats[b][0]
    if offsets:
        # same dense offset array + missing-bucket guard as
        # _finish_ranked (see the comments there)
        off_arr = F.array(
            *[
                F.lit(offsets[b]).cast("long")
                if b in offsets
                else F.lit(None).cast("long")
                for b in range(len(bounds) + 1)
            ]
        )
        off = F.coalesce(
            F.element_at(off_arr, F.col("__bkt").cast("int") + F.lit(1)),
            F.raise_error(
                F.lit(
                    "dense rank: bucket/offset mismatch — upstream lineage "
                    "produced a bucket absent from the count pass "
                    "(nondeterministic input?)"
                )
            ).cast("long"),
        )
    else:
        off = F.lit(0).cast("long")
    w_in = Window.partitionBy("__bkt").orderBy(F.col(key).asc(), F.col(tiebreak))
    ranked = (
        df.withColumn("__bkt", bkt)
        .withColumn(out, F.dense_rank().over(w_in).cast("long") + off)
        .drop("__bkt")
    )
    return ranked, total


def distributed_row_number(
    df: DataFrame,
    key: str,
    *,
    tiebreak: str,
    out: str = "rn",
    descending: bool = False,
    buckets: int | None = None,
    rel_err: float = 0.01,
) -> DataFrame:
    """Append ``out`` = exact global ``row_number() OVER (ORDER BY key
    [DESC], tiebreak)`` without a single-partition sort.

    ``tiebreak`` always orders ascending (the repo-wide deterministic
    tie rule). Ranks are 1-based and bit-identical to the global-window
    form; see the module docstring for the two-pass shape.
    """
    ranked, _ = ranked_with_total(
        df,
        key,
        tiebreak=tiebreak,
        out=out,
        descending=descending,
        buckets=buckets,
        rel_err=rel_err,
    )
    return ranked


def distributed_ntile(
    df: DataFrame,
    key: str,
    *,
    tiebreak: str,
    n_tiles: int,
    out: str = "tile",
    descending: bool = False,
    buckets: int | None = None,
    rel_err: float = 0.01,
) -> DataFrame:
    """Append ``out`` = exact global ``ntile(n_tiles) OVER (ORDER BY
    key [DESC], tiebreak)`` via the shared two-pass rank core.

    SQL ntile semantics: with ``n`` rows, the first ``n % k`` tiles get
    ``n div k + 1`` rows, the rest ``n div k``. The total ``n`` comes
    from the rank core's count pass (no extra aggregate), so the tile
    boundaries are driver-side Python integers and the per-row mapping
    is pure int64 arithmetic — bit-identical to the window form (and to
    DuckDB's ``ntile``) at any scale, with no FP boundary rounding.
    """
    if n_tiles < 1:
        raise ValueError("n_tiles must be >= 1")
    ranked, total = ranked_with_total(
        df,
        key,
        tiebreak=tiebreak,
        out="__gr",
        descending=descending,
        buckets=buckets,
        rel_err=rel_err,
    )
    return ranked.withColumn(
        out, _tile_expr("__gr", total, n_tiles)
    ).drop("__gr")


def _tile_expr(rank_name: str, total: int, n_tiles: int):
    """SQL-ntile mapping of the exact global rank column ``rank_name``:
    with n rows, the first ``n % k`` tiles get ``n div k + 1`` rows, the
    rest ``n div k``. The boundaries are driver-side Python integers
    and the per-row mapping is pure int64 arithmetic — bit-identical to
    the window form (and to DuckDB's ``ntile``) at any scale."""
    q, rem = divmod(total, n_tiles)
    cut = rem * (q + 1)
    if q == 0:
        # n < k: every row lands in its own tile (tile = rank).
        return F.col(rank_name).cast("int")
    return (
        F.when(
            F.col(rank_name) <= F.lit(cut),
            F.expr(f"({rank_name} - 1) div {q + 1} + 1"),
        )
        .otherwise(F.expr(f"{rem} + ({rank_name} - 1 - {cut}) div {q} + 1"))
        .cast("int")
    )


def ntile_multi(
    df: DataFrame,
    specs: list[dict],
    *,
    buckets: int | None = None,
    rel_err: float = 0.01,
) -> DataFrame:
    """Append SEVERAL exact global ntile columns in shared passes.

    ``specs`` is a list of dicts with keys ``key`` (sort column),
    ``tiebreak``, ``n_tiles``, ``out`` and optional ``descending``
    (default False). The result is bit-identical to chaining
    :func:`distributed_ntile` once per spec — ntile values are exact
    integers under ANY bucket-boundary placement (module docstring) —
    but the pre-pass driver jobs are shared across keys (guide §1.2,
    don't run the same pass per column):

    * ONE multi-column ``approxQuantile`` call replaces one boundary
      job per key;
    * ONE grouped tie-split ``percentile_approx`` job covers every
      heavy key (vs one job per key that has heavy ties);
    * ONE exploded ``(key_idx, bucket)`` count pass replaces one count
      job per key — it shuffles len(specs) tiny rows per input row of
      the CACHED projection, not the input itself.

    The final plan still carries one window per spec (each orders by a
    different key — that part is irreducible), so only the boundary /
    count scheduling changes, never the rank math. Null/NaN sort keys
    fail fast exactly like the single-key form.
    """
    specs = [dict(s) for s in specs]
    if not specs:
        raise ValueError("ntile_multi needs at least one spec")
    outs = [s["out"] for s in specs]
    if len(set(outs)) != len(outs):
        raise ValueError("ntile_multi specs must have distinct 'out' names")
    for s in specs:
        s.setdefault("descending", False)
        if s["n_tiles"] < 1:
            raise ValueError("n_tiles must be >= 1")
    if buckets is None:
        buckets = _default_buckets(df)
    if buckets < 1:
        raise ValueError("buckets must be >= 1")

    work = df
    for i, s in enumerate(specs):
        key_d = F.col(s["key"]).cast("double")
        work = work.withColumn(
            f"__dk{i}", (-key_d) if s["descending"] else key_d
        )
    work = work.persist()
    try:
        qs = [i / buckets for i in range(1, buckets)]
        eff_rel_err = min(rel_err, 0.5 / buckets) if buckets > 1 else rel_err
        dk_names = [f"__dk{i}" for i in range(len(specs))]
        raws = (
            work.stat.approxQuantile(dk_names, qs, eff_rel_err)
            if qs
            else [[] for _ in specs]
        )
        kcnts = [Counter(raw) for raw in raws]
        heavies = [
            [v for v, m in kcnts[i].items() if m >= 2 and v == v]
            if isinstance(df.schema[s["tiebreak"]].dataType, NumericType)
            else []
            for i, s in enumerate(specs)
        ]
        tie_bounds_all: list[dict[float, list[float]]] = [
            {} for _ in specs
        ]
        hidx = [i for i, h in enumerate(heavies) if h]
        if hidx:
            # One grouped job for EVERY key's heavy values: explode
            # (key_idx, oriented key, double-cast tiebreak) triples and
            # percentile_approx per (key_idx, value) group. The double
            # cast is the same monotone map _bucket_expr compares with,
            # so the cuts remain valid composite boundaries (placement
            # is balance-only). Every heavy value gets the max
            # multiplicity's cut count; _trim_tie_bounds budgets each
            # back to its own multiplicity - 1.
            mx = max(max(kcnts[i][v] for v in heavies[i]) for i in hidx)
            probs = F.array(*[F.lit(j / mx) for j in range(1, mx)])
            acc = int(1.0 / max(eff_rel_err, 1e-4))
            triples = F.array(
                *[
                    F.struct(
                        F.lit(i).alias("__ki"),
                        F.col(f"__dk{i}").alias("__dk"),
                        F.col(specs[i]["tiebreak"])
                        .cast("double")
                        .alias("__tb"),
                    )
                    for i in hidx
                ]
            )
            ex = work.select(F.explode(triples).alias("__s")).select(
                "__s.__ki", "__s.__dk", "__s.__tb"
            )
            cond = F.lit(False)
            for i in hidx:
                cond = cond | (
                    (F.col("__ki") == F.lit(i))
                    & F.col("__dk").isin(heavies[i])
                )
            rows = (
                ex.where(cond)
                .groupBy("__ki", "__dk")
                .agg(
                    F.percentile_approx("__tb", probs, F.lit(acc)).alias(
                        "__tbs"
                    )
                )
                .collect()
            )
            for r in rows:
                if r["__tbs"] is not None:
                    tie_bounds_all[r["__ki"]][r["__dk"]] = sorted(
                        {float(t) for t in r["__tbs"] if t is not None}
                    )
            for i in hidx:
                _trim_tie_bounds(kcnts[i], tie_bounds_all[i])
        bounds_all = [
            _assemble_bounds(kcnts[i], tie_bounds_all[i])
            for i in range(len(specs))
        ]
        # ONE count pass for every key: explode (key_idx, bucket) pairs
        # off the cached projection. Null/NaN keys map to bucket -1 per
        # key, preserving the single-key fail-fast.
        bkt_structs = []
        for i, s in enumerate(specs):
            tie_d = F.col(s["tiebreak"]).cast("double")
            bkt = _bucket_expr(bounds_all[i], F.col(f"__dk{i}"), tie_d)
            bad = F.when(
                F.col(f"__dk{i}").isNull() | F.isnan(f"__dk{i}"),
                F.lit(-1),
            ).otherwise(bkt)
            bkt_structs.append(
                F.struct(F.lit(i).alias("__ki"), bad.alias("__b"))
            )
        exb = work.select(
            F.explode(F.array(*bkt_structs)).alias("__s")
        ).select("__s.__ki", "__s.__b")
        counts_all: list[dict] = [{} for _ in specs]
        for r in (
            exb.groupBy("__ki", "__b")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        ):
            counts_all[r["__ki"]][r["__b"]] = r["cnt"]
    finally:
        work.unpersist()

    out_df = df
    for i, s in enumerate(specs):
        tie_d = F.col(s["tiebreak"]).cast("double")
        ranked, total = _finish_ranked(
            out_df,
            counts_all[i],
            bounds_all[i],
            s["key"],
            s["tiebreak"],
            "__gr_multi",
            s["descending"],
            tie_d,
            False,
        )
        out_df = ranked.withColumn(
            s["out"], _tile_expr("__gr_multi", total, s["n_tiles"])
        ).drop("__gr_multi")
    return out_df
