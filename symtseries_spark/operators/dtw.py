"""Exact banded DTW similarity search with LB_Keogh admissible pruning.

The reference's similarity surface is SAX ``mindist`` — a lower bound
on Euclidean distance over fixed alignments (src/symtseries.c:591-635).
DTW is the other classic series-similarity primitive (elastic
alignment), and the UCR-suite search shape — scan-stage lower bound,
exact refine only on survivors (Keogh & Ratanamahatana 2005; Rakthanmanon
et al. 2012) — is the same prune-then-refine discipline this engine
already runs for SAX (`allpairs_refined`).

Everything stays JVM-side — there is NO Python in the distance path:

* **DP as an anti-diagonal fold.** The Sakoe-Chiba-banded DTW matrix
  is evaluated diagonal by diagonal: cells on diagonal ``s = i + j``
  depend only on diagonals ``s-1`` and ``s-2``, so the whole DP is one
  ``F.aggregate`` over ``sequence(1, 2n-2)`` whose accumulator is a
  ``struct(prev, pp)`` pair of n-slot arrays (slot i holds
  ``D(i, s-i)``, +inf outside the band/range). No intra-step
  dependency means each step is one ``transform`` — expressible on
  BOTH engines (the row-by-row DP is not: its in-row prefix recurrence
  has no DuckDB counterpart, since ``list_reduce`` accumulators must
  be element-typed).
* **Bit-exact cross-engine by construction.** Series values are
  1e-6-quantized up front (the kmeans/EWMA convention), and the DP
  then performs the SAME IEEE adds/multiplies/mins in the SAME order
  on both engines — no transcendental functions, no data-dependent
  summation order — so distances match exactly, not just to a
  rounding.
* **LB_Keogh prune.** The query envelope (U, L over a ±band window)
  is computed driver-side from the literal query series and enters the
  scan as literal arrays; ``LB(x) = Σ (x_j − U_j)²⁺ + (L_j − x_j)²⁺``
  is one zip_with+aggregate per row. LB_Keogh lower-bounds
  band-constrained DTW (same band), so the two-phase search — exact
  refine of the k best-LB candidates, then exact refine of every row
  with ``LB ≤ δ`` (δ = k-th best candidate distance) — returns the
  EXACT top-k. The driver's DuckDB oracle brute-forces the DP over
  ALL rows, so every correctness run re-proves admissibility, not
  just agreement.

Scale shape: the LB pass is one corpus scan (scan-stage fold, O(n) per
row); the refine touches only LB survivors (O(n·band) per row, all in
whole-stage-eligible expressions); driver actions are bounded (the
1-row query series, the k-row candidate refine, the 1-row δ). Top-k is
TakeOrderedAndProject. At 10⁹ series the prune ratio — not code — is
the lever, exactly as published.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hourly_profile",
    "lb_keogh",
    "lb_frechet",
    "dtw_distance",
    "frechet_distance",
    "dtw_topk",
    "frechet_topk",
]

_INF = float("inf")


def _q6(col: Column) -> Column:
    """Engine-stable 1e-6 floor-quantization (repo-wide idiom)."""
    return F.floor(col * 1e6 + F.lit(0.5)) / 1e6


def hourly_profile(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key 24-slot hour-of-day mean-value series ->
    ``(key, x array<double>)``; missing hours are 0.0 and each mean is
    1e-6-quantized so both engines hand the DP bit-identical inputs.
    The hour bucket comes from pure epoch arithmetic on the loader's
    epoch-nanos ts (the events_dow_hour rule — no engine calendar
    conventions)."""
    hour = F.expr(f"(({ts_col} div 1000) div 3600000000) % 24")
    per = (
        events.groupBy(F.col(key_col).alias("key"), hour.alias("__h"))
        .agg(_q6(F.avg(value_col)).alias("__v"))
    )
    return per.groupBy("key").agg(
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


def _envelope(q: list[float], band: int) -> tuple[list[float], list[float]]:
    n = len(q)
    upper = [max(q[max(0, j - band) : min(n, j + band + 1)]) for j in range(n)]
    lower = [min(q[max(0, j - band) : min(n, j + band + 1)]) for j in range(n)]
    return upper, lower


def lb_keogh(x: Column, q: list[float], *, band: int) -> Column:
    """Scan-stage LB_Keogh vs the literal query series: sum of squared
    envelope violations. Admissible for band-constrained DTW with the
    same band."""
    upper, lower = _envelope(q, band)
    u = F.array(*[F.lit(float(v)) for v in upper])
    lo = F.array(*[F.lit(float(v)) for v in lower])
    above = F.zip_with(x, u, lambda xi, ui: F.when(xi > ui, (xi - ui) * (xi - ui)).otherwise(F.lit(0.0)))
    below = F.zip_with(x, lo, lambda xi, li: F.when(xi < li, (li - xi) * (li - xi)).otherwise(F.lit(0.0)))
    add = lambda a: F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v)  # noqa: E731
    return add(above) + add(below)


def lb_frechet(x: Column, q: list[float], *, band: int) -> Column:
    """Scan-stage lower bound for band-constrained discrete Fréchet:
    the MAX squared envelope violation. A warping path visits every x
    index i against q values inside its ±band window, so the path's
    max local cost is at least the worst per-index envelope violation
    — the max-aggregation analogue of LB_Keogh's sum."""
    upper, lower = _envelope(q, band)
    u = F.array(*[F.lit(float(v)) for v in upper])
    lo = F.array(*[F.lit(float(v)) for v in lower])
    viol = F.zip_with(
        F.zip_with(
            x, u, lambda xi, ui: F.when(xi > ui, (xi - ui) * (xi - ui)).otherwise(F.lit(0.0))
        ),
        F.zip_with(
            x, lo, lambda xi, li: F.when(xi < li, (li - xi) * (li - xi)).otherwise(F.lit(0.0))
        ),
        lambda a, b: F.greatest(a, b),
    )
    return F.aggregate(viol, F.lit(0.0), lambda acc, v: F.greatest(acc, v))


def _path_dp(x: Column, q: list[float], *, band: int, mode: str) -> Column:
    """Shared anti-diagonal DP: ``mode='sum'`` accumulates local costs
    along the best path (DTW); ``mode='max'`` takes the bottleneck
    local cost (discrete Fréchet). Everything else — band validity,
    slot layout, seeding — is identical."""
    n = len(q)
    if n < 1:
        raise ValueError("query series must be non-empty")
    if band < 0:
        raise ValueError("band must be >= 0")
    if mode not in ("sum", "max"):
        raise ValueError("mode must be 'sum' or 'max'")
    qlit = F.array(*[F.lit(float(v)) for v in q])
    inf = F.lit(_INF)
    inf_row = F.array(*[inf for _ in range(n)])

    def cost(i_col: Column, j_col: Column) -> Column:
        xi = F.try_element_at(x, i_col + 1)
        qj = F.try_element_at(qlit, j_col + 1)
        return (xi - qj) * (xi - qj)

    def diag(s: Column, prev: Column, pp: Column) -> Column:
        # slot i on diagonal s holds D(i, s-i); +inf off-band/range.
        def cell(i: Column) -> Column:
            j = s - i
            valid = (
                (j >= 0)
                & (j <= n - 1)
                & (F.abs(i - j) <= band)
            )
            # nullif: position 0 (slot -1) must read as missing, but
            # try_element_at still raises on a LITERAL index of 0 — a
            # NULL index returns NULL instead
            i0 = F.nullif(i.cast("int"), F.lit(0))
            best = F.least(
                F.coalesce(F.try_element_at(prev, i0), inf),  # D(i-1, j)
                F.coalesce(F.try_element_at(prev, i + 1), inf),  # D(i, j-1)
                F.coalesce(F.try_element_at(pp, i0), inf),  # D(i-1, j-1)
            )
            seeded = F.when((i == 0) & (j == 0), F.lit(0.0)).otherwise(best)
            combined = (
                cost(i, j) + seeded
                if mode == "sum"
                else F.greatest(cost(i, j), seeded)
            )
            return F.when(valid, combined).otherwise(inf)

        return F.transform(F.sequence(F.lit(0), F.lit(n - 1)), cell)

    # seed: diagonal 0 = D(0,0) alone; fold diagonals 1 .. 2n-2
    seed_prev = diag(F.lit(0), inf_row, inf_row)
    if n == 1:
        return F.element_at(seed_prev, 1)
    out = F.aggregate(
        F.sequence(F.lit(1), F.lit(2 * n - 2)),
        F.struct(seed_prev.alias("prev"), inf_row.alias("pp")),
        lambda acc, s: F.struct(
            diag(s, acc["prev"], acc["pp"]).alias("prev"),
            acc["prev"].alias("pp"),
        ),
        lambda acc: F.element_at(acc["prev"], n),  # D(n-1, n-1)
    )
    return out


def dtw_distance(x: Column, q: list[float], *, band: int) -> Column:
    """Exact Sakoe-Chiba-banded DTW (squared local cost, SUM over the
    optimal warping path) between array column ``x`` and the literal
    query ``q`` — one JVM ``aggregate`` over the 2n-1 anti-diagonals,
    zero Python, zero shuffles."""
    return _path_dp(x, q, band=band, mode="sum")


def frechet_distance(x: Column, q: list[float], *, band: int) -> Column:
    """Exact band-constrained discrete Fréchet distance (squared local
    cost, MAX over the best path — the bottleneck alignment metric;
    Eiter & Mannila 1994) — same anti-diagonal fold as
    :func:`dtw_distance` with ``greatest`` in place of ``+``."""
    return _path_dp(x, q, band=band, mode="max")


def dtw_topk(
    series: DataFrame,
    q: list[float],
    *,
    k: int,
    band: int,
    key_col: str = "key",
    vec_col: str = "x",
) -> DataFrame:
    """Exact top-``k`` nearest series to ``q`` under banded DTW ->
    ``(key, lb, dtw)``, via the two-phase LB_Keogh search (module
    docstring). Output is provably identical to brute-force DP over
    every row; the prune only changes how much work the refine does."""
    return _bounded_topk(
        series,
        q,
        k=k,
        band=band,
        key_col=key_col,
        vec_col=vec_col,
        dist_fn=dtw_distance,
        lb_fn=lb_keogh,
        out="dtw",
    )


def frechet_topk(
    series: DataFrame,
    q: list[float],
    *,
    k: int,
    band: int,
    key_col: str = "key",
    vec_col: str = "x",
) -> DataFrame:
    """Exact top-``k`` nearest series under band-constrained discrete
    Fréchet -> ``(key, lb, frechet)`` — the same two-phase admissible
    search as :func:`dtw_topk` with the max-violation bound
    (:func:`lb_frechet`)."""
    return _bounded_topk(
        series,
        q,
        k=k,
        band=band,
        key_col=key_col,
        vec_col=vec_col,
        dist_fn=frechet_distance,
        lb_fn=lb_frechet,
        out="frechet",
    )


def _bounded_topk(
    series: DataFrame,
    q: list[float],
    *,
    k: int,
    band: int,
    key_col: str,
    vec_col: str,
    dist_fn,
    lb_fn,
    out: str,
) -> DataFrame:
    if k < 1:
        raise ValueError("k must be >= 1")
    x = F.col(vec_col)
    # lb and the distance stay UNROUNDED: the quantized inputs make
    # both exact cross-engine already, and rounding lb could nudge it
    # past δ and wrongly exclude a row the bound does not exclude
    with_lb = series.select(
        F.col(key_col).alias("key"),
        x.alias("x"),
        lb_fn(x, q, band=band).alias("lb"),
    ).localCheckpoint(eager=True)
    # phase 1: exact distances for the k best-LB candidates -> δ
    cand = (
        with_lb.orderBy("lb", "key")
        .limit(k)
        .select("key", dist_fn(F.col("x"), q, band=band).alias("d"))
        .collect()
    )
    if not cand:
        return with_lb.select(
            "key", "lb", F.lit(0.0).alias(out)
        ).limit(0)
    delta = sorted(r["d"] for r in cand)[min(k, len(cand)) - 1]
    # phase 2: exact refine of every row the bound cannot exclude
    survivors = with_lb.where(F.col("lb") <= F.lit(float(delta)))
    return (
        survivors.select(
            "key",
            "lb",
            dist_fn(F.col("x"), q, band=band).alias(out),
        )
        .orderBy(out, "key")
        .limit(k)
    )
