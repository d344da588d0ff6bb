"""Property tests for the engine's central semantic claims.

The headline invariant (the whole point of SAX/iSAX, README.md:27-34 of
the reference): MINDIST between two SAX words NEVER overestimates the
true Euclidean distance between the two z-normalized series. Every
pruning operator in the engine (allpairs_within, allpairs_refined) relies
on it.
"""

from __future__ import annotations

import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from symtseries_spark import pykernel as pk
from symtseries_spark.constants import BREAKPOINTS, MINDIST_LUT, MINDIST_OVERSHOOT


def _znorm(vals: list[float]) -> list[float]:
    mu, std = pk.mu_std(vals)
    if std < 1e-2:
        return [0.0 for _ in vals]
    return [(v - mu) / std for v in vals]


def _euclid(a: list[float], b: list[float]) -> float:
    return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))


series_strategy = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    min_size=8,
    max_size=8,
)


class TestMindistLowerBound:
    @given(series_strategy, series_strategy, st.sampled_from([2, 4, 8, 16]))
    @settings(max_examples=300, deadline=None)
    def test_mindist_lower_bounds_euclidean(self, a, b, c):
        w = 4
        wa, wb = pk.encode(a, w, c), pk.encode(b, w, c)
        d = pk.mindist(pk.parse(wa, c), pk.parse(wb, c), c=c, n_a=8, n_b=8)
        true_d = _euclid(_znorm(a), _znorm(b))
        # float32 tables + per-frame aggregation: small tolerance
        assert d <= true_d + 1e-4, (a, b, wa, wb, d, true_d)

    @pytest.mark.parametrize("c", [4, 8, 16])
    def test_mindist_at_breakpoint_gaps_within_overshoot_bound(self, c):
        """Frame means placed just inside the two breakpoints of each
        letter pair (i, j >= i + 2) whose pair-table entry exceeds their
        gap: a = [p, q, r, s] and b = [q, p, r, s], one value per frame
        repeated n/w times, z-normalized already (mean 0, sigma 1). The
        exact distance is sqrt(2n/w) * (q - p), MINDIST sqrt(2n/w) times
        the table entry, so MINDIST exceeds it, by at most
        sqrt(n) * MINDIST_OVERSHOOT[c]."""
        n, w, eps = 16, 4, 1e-6
        brk, lut = BREAKPOINTS[c], MINDIST_LUT[c]
        excess = []
        for i in range(c):
            for j in range(i + 2, c):
                p, q = brk[i] - eps, brk[j - 1] + eps
                rs_sum, rs_sq = -(p + q), w - p * p - q * q
                spread = 2 * rs_sq - rs_sum * rs_sum
                if lut[i * c + j] <= brk[j - 1] - brk[i] or spread < 0:
                    continue  # no overshoot, or no sigma-1 r, s
                r = (rs_sum + math.sqrt(spread)) / 2
                s = rs_sum - r
                a = [x for x in (p, q, r, s) for _ in range(n // w)]
                b = [x for x in (q, p, r, s) for _ in range(n // w)]
                wa, wb = pk.encode(a, w, c), pk.encode(b, w, c)
                assert (pk.parse(wa, c)[:2], pk.parse(wb, c)[:2]) == ([i, j], [j, i])
                d = pk.mindist(pk.parse(wa, c), pk.parse(wb, c), c=c, n_a=n, n_b=n)
                exact = _euclid(_znorm(a), _znorm(b))
                assert d <= exact + math.sqrt(n) * MINDIST_OVERSHOOT[c], (i, j, d, exact)
                excess.append(d - exact)
        # the pair that sets MINDIST_OVERSHOOT[c] is among the cases
        assert max(excess) > math.sqrt(2 * n / w) * (MINDIST_OVERSHOOT[c] - 3 * eps) > 0

    @given(series_strategy, st.sampled_from([4, 8]))
    @settings(max_examples=100, deadline=None)
    def test_mindist_self_is_zero(self, a, c):
        wa = pk.encode(a, 4, c)
        assert pk.mindist(pk.parse(wa, c), pk.parse(wa, c), c=c) == 0.0

    @given(series_strategy, series_strategy, st.sampled_from([4, 8]))
    @settings(max_examples=100, deadline=None)
    def test_mindist_symmetric_with_swapped_decomposition(self, a, b, c):
        wa, wb = pk.encode(a, 4, c), pk.encode(b, 4, c)
        d1 = pk.mindist_parts(pk.parse(wa, c), pk.parse(wb, c), c=c)
        d2 = pk.mindist_parts(pk.parse(wb, c), pk.parse(wa, c), c=c)
        assert d1 is not None and d2 is not None
        assert math.isclose(d1[0], d2[0], abs_tol=1e-9)
        assert math.isclose(d1[1], d2[2], abs_tol=1e-9)  # above <-> below
        assert math.isclose(d1[2], d2[1], abs_tol=1e-9)


class TestCoarseningMonotone:
    @given(series_strategy, series_strategy)
    @settings(max_examples=100, deadline=None)
    def test_coarse_mindist_never_exceeds_fine(self, a, b):
        """iSAX tree soundness: distance at a coarser cardinality is a
        lower bound of the distance at the finer one (so pruning a whole
        coarse node never loses a true match)."""
        wa8, wb8 = pk.encode(a, 4, 8), pk.encode(b, 4, 8)
        wa2, wb2 = pk.coarsen(wa8, 8, 2), pk.coarsen(wb8, 8, 2)
        d8 = pk.mindist(pk.parse(wa8, 8), pk.parse(wb8, 8), c=8, n_a=8, n_b=8)
        d2 = pk.mindist(pk.parse(wa2, 2), pk.parse(wb2, 2), c=2, n_a=8, n_b=8)
        assert d2 <= d8 + 1e-6


class TestTextKernelFuzz:
    """Fuzz the Spark text kernels against a pure-Python oracle over
    random printable-ASCII strings (regex edge cases: runs of
    punctuation, digits, empty tokens, leading/trailing separators)."""

    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    min_codepoint=32, max_codepoint=126
                ),
                max_size=40,
            ),
            min_size=1,
            max_size=8,
        )
    )
    @settings(max_examples=30, deadline=None)
    def test_tokens_and_fingerprint_match_python(self, texts):
        import hashlib

        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from symtseries_spark.functions import text as T
        from tests.test_pipeline_operators import py_hash60, py_tokens

        spark = TestTextKernelFuzz._spark
        df = spark.createDataFrame(
            [Row(i=i, text=t) for i, t in enumerate(texts)]
        )
        rows = df.select(
            "i",
            T.tokens(F.col("text")).alias("toks"),
            T.rolling_fingerprint(F.col("text")).alias("fp"),
            T.shingles(F.col("text"), 2).alias("sh2"),
        ).collect()
        for r in rows:
            t = texts[r.i]
            ptoks = py_tokens(t)
            assert r.toks == ptoks, t
            acc = 0
            for tok in ptoks:
                acc = (acc * 31 + py_hash60(tok) % T.HASH_PRIME) % 1_000_000_007
            assert r.fp == acc, t
            psh = {" ".join(ptoks[i : i + 2]) for i in range(len(ptoks) - 1)}
            assert set(r.sh2) == psh, t


import pytest as _pytest


@_pytest.fixture(scope="module", autouse=True)
def _bind_spark(spark):
    TestTextKernelFuzz._spark = spark
    yield


class TestFunnelGreedy:
    """The funnel operator's semantic claim: the earliest-chain greedy
    finds a strictly-increasing stage chain iff ANY such chain exists
    (i.e. iff the stage sequence is a subsequence of the time-ordered
    event types with strictly increasing timestamps)."""

    @staticmethod
    def _greedy(events, stages):
        # mirror of operators/funnel.py: t_i = min ts of stage_i with ts > t_{i-1}
        t_prev = None
        for s in stages:
            cand = [
                ts for ts, typ in events
                if typ == s and (t_prev is None or ts > t_prev)
            ]
            if not cand:
                return False
            t_prev = min(cand)
        return True

    @staticmethod
    def _exists_chain(events, stages):
        import itertools

        pools = [
            [ts for ts, typ in events if typ == s] for s in stages
        ]
        if any(not p for p in pools):
            return False
        for combo in itertools.product(*pools):
            if all(combo[i] < combo[i + 1] for i in range(len(combo) - 1)):
                return True
        return False

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=20),
                st.sampled_from(["a", "b", "c", "x"]),
            ),
            min_size=0,
            max_size=12,
        )
    )
    @settings(max_examples=300, deadline=None)
    def test_greedy_iff_exists(self, events):
        stages = ["a", "b", "c"]
        assert self._greedy(events, stages) == self._exists_chain(
            events, stages
        )


class TestSketchProperties:
    """md5-replay properties of the bloom/CMS sketches (the same bit/
    counter addressing as operators/sketches.py, pure Python)."""

    @staticmethod
    def _positions(val, m_bits, k):
        import hashlib

        return [
            int(hashlib.md5(f"{val}:{i}".encode()).hexdigest()[:15], 16)
            % m_bits
            for i in range(k)
        ]

    @given(
        st.lists(st.integers(min_value=0, max_value=10_000), max_size=50),
        st.integers(min_value=0, max_value=10_000),
    )
    @settings(max_examples=200, deadline=None)
    def test_bloom_no_false_negative(self, build, probe):
        m_bits, k = 256, 3
        bits = set()
        for v in build:
            bits.update(self._positions(v, m_bits, k))
        if probe in build:
            assert all(p in bits for p in self._positions(probe, m_bits, k))

    @given(st.lists(st.integers(min_value=0, max_value=50), max_size=60))
    @settings(max_examples=200, deadline=None)
    def test_cms_never_underestimates(self, vals):
        import collections
        import hashlib

        width, depth = 16, 3
        counters = collections.Counter()
        for v in vals:
            for r in range(depth):
                c = (
                    int(
                        hashlib.md5(f"{v}#{r}".encode()).hexdigest()[:15], 16
                    )
                    % width
                )
                counters[(r, c)] += 1
        truth = collections.Counter(vals)
        for v, true_n in truth.items():
            est = min(
                counters[
                    (
                        r,
                        int(
                            hashlib.md5(f"{v}#{r}".encode()).hexdigest()[:15],
                            16,
                        )
                        % width,
                    )
                ]
                for r in range(depth)
            )
            assert est >= true_n


class TestLateRound4Invariants:
    """Seeded-random invariant checks for the late-round-4 operators
    (one Spark job per assertion, not per example)."""

    def _series_df(self, spark, n_series=6, n=40, seed=11):
        rng = random.Random(seed)
        rows = [
            (k, i, rng.gauss(10.0 * (i > n // 2), 3.0))
            for k in range(n_series)
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "k long, i long, v double")

    def test_changepoint_split_invariant_under_affine(self, spark):
        """SSE scales by a^2 under v -> a*v + b (a > 0), so the argmin
        split must not move."""
        from pyspark.sql import functions as F

        from symtseries_spark.operators.timeseries import changepoint

        df = self._series_df(spark)
        base = {
            r.k: r.split_i
            for r in changepoint(df, key="k", order=["i"], value="v").collect()
        }
        aff = df.withColumn("v", F.col("v") * 3.5 - 7.0)
        moved = {
            r.k: r.split_i
            for r in changepoint(aff, key="k", order=["i"], value="v").collect()
        }
        assert base == moved and len(base) == 6

    def test_pagerank_mass_conserved_and_positive(self, spark):
        from symtseries_spark.operators.graph import pagerank

        rng = random.Random(5)
        edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(60)})
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        rows = pagerank(df).collect()
        total = sum(r.pagerank for r in rows)
        assert abs(total - 1.0) < 1e-3  # per-round 1e-6 quantization x n
        assert all(r.pagerank > 0 for r in rows)
        assert all(r.degree >= 1 for r in rows)

    def test_histogram_quantile_error_bounded_by_bucket_width(self, spark):
        from symtseries_spark.operators.sketches import histogram_quantiles

        rng = random.Random(7)
        vals = [rng.expovariate(0.01) for _ in range(3000)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        width = (max(vals) - min(vals)) / 64
        rows = histogram_quantiles(df, value="v", bins=64).collect()
        assert len(rows) == 3
        for r in rows:
            # right-edge estimate overshoots by at most one bucket
            assert r.abs_err <= width + 1e-6
