"""Operator-level tests: the windowed operators and codegen-path distance
variants must match the pure-Python reference on randomized data,
including NaN/±Inf mixes that the DuckDB oracle (clean testdata) never
exercises."""

import math
import random

import pytest
from pyspark.sql import functions as F

from symtseries_spark import pykernel as pk
from symtseries_spark.constants import MINDIST_OVERSHOOT
from symtseries_spark.operators import (
    allpairs_refined,
    allpairs_within,
    mindist_to_pattern,
    sliding_sax,
    topk_nearest,
    tumbling_sax,
    tumbling_values,
    whole_series_sax,
)

NAN = float("nan")
INF = float("inf")


def _series(rng, n, dirty=True):
    out = []
    for _ in range(n):
        r = rng.random()
        if dirty and r < 0.08:
            out.append(NAN)
        elif dirty and r < 0.12:
            out.append(INF if rng.random() < 0.5 else -INF)
        else:
            out.append(rng.uniform(-50, 50))
    return out


@pytest.fixture(scope="module")
def long_df(spark):
    rng = random.Random(99)
    rows = []
    for key in range(8):
        for seq, v in enumerate(_series(rng, rng.choice([5, 17, 40, 64]))):
            rows.append((key, seq, v))
    return (
        spark.createDataFrame(rows, "key int, seq int, v double"),
        rows,
    )


def test_sliding_matches_pykernel_replay(spark, long_df):
    df, rows = long_df
    n, w, c = 8, 4, 8
    got = {
        (r["key"], r["seq"]): r["sax_word"]
        for r in sliding_sax(df, key="key", order="seq", value="v", n=n, w=w, c=c).collect()
    }
    by_key: dict[int, list] = {}
    for key, seq, v in sorted(rows):
        by_key.setdefault(key, []).append((seq, v))
    for key, series in by_key.items():
        win = pk.SlidingWindow(n, w, c)
        for seq, v in series:
            expected = win.append(v)
            assert got[(key, seq)] == expected, (key, seq, got[(key, seq)], expected)


def test_sliding_full_windows_only(spark, long_df):
    df, rows = long_df
    got = sliding_sax(
        df, key="key", order="seq", value="v", n=8, w=4, c=8, emit_partial=False
    )
    counts = {r["key"]: r["cnt"] for r in got.groupBy("key").agg(F.count("*").alias("cnt")).collect()}
    by_key: dict[int, int] = {}
    for key, seq, v in rows:
        by_key[key] = by_key.get(key, 0) + 1
    for key, total in by_key.items():
        expected = max(0, total - 7)
        assert counts.get(key, 0) == expected


def _encoder_rows(kind, long_df):
    """(key, seq, value) rows for the batch-encoder tests: ``dirty`` is the
    shared NaN/±Inf fixture; ``nulls`` has NULL measurements; ``flat`` has
    constant series (one with an Inf); ``long`` is three random walks long
    enough for n=4096 windows."""
    if kind == "dirty":
        return long_df[1]
    rng = random.Random(7)
    if kind == "nulls":
        return [
            (k, i, None if rng.random() < 0.2 else rng.uniform(-5, 5))
            for k in range(3) for i in range(rng.choice([9, 16, 30]))
        ]
    if kind == "flat":
        vals = {0: [2.5] * 16, 1: [-1.0] * 7 + [INF] + [-1.0] * 8, 2: [0.0] * 24}
        return [(k, i, v) for k, series in vals.items() for i, v in enumerate(series)]
    rows = []
    for k, length in enumerate([4096 * 2, 4096 + 1000, 4096]):
        x = 0.0
        for i in range(length):
            x += rng.gauss(0, 1)
            rows.append((k, i, x))
    return rows


def _by_key(rows):
    by_key: dict[int, list] = {}
    for key, seq, v in sorted(rows, key=lambda r: (r[0], r[1])):
        by_key.setdefault(key, []).append(NAN if v is None else v)
    return by_key


@pytest.mark.parametrize(
    "kind,n,w,c,keep_partial",
    [
        pytest.param("dirty", 8, 2, 5, False, id="dirty-n8-w2-c5"),
        pytest.param("dirty", 8, 2, 5, True, id="dirty-n8-w2-c5-partial"),
        pytest.param("dirty", 8, 8, 4, True, id="dirty-w_eq_n"),
        pytest.param("dirty", 16, 4, 16, True, id="dirty-c16"),
        pytest.param("nulls", 8, 4, 8, True, id="nulls"),
        pytest.param("flat", 8, 4, 8, True, id="flat"),
        pytest.param("long", 4096, 2048, 8, False, id="long-n4096-w2048"),
        pytest.param("long", 4096, 256, 8, True, id="long-n4096-w256"),
    ],
)
def test_tumbling_matches_pykernel(spark, long_df, kind, n, w, c, keep_partial):
    rows = _encoder_rows(kind, long_df)
    df = spark.createDataFrame(rows, "key int, seq int, v double")
    got = {
        (r["series_key"], r["window_id"]): r["sax_word"]
        for r in tumbling_sax(
            df, key="key", order="seq", value="v", n=n, w=w, c=c, keep_partial=keep_partial
        ).collect()
    }
    expected = {}
    for key, series in _by_key(rows).items():
        for wid in range(0, len(series), n):
            chunk = series[wid : wid + n]
            if len(chunk) == n or keep_partial:
                # a kept partial window reads as NaN-padded at the back
                expected[(key, wid // n)] = pk.encode(chunk + [NAN] * (n - len(chunk)), w, c)
    assert got == expected


@pytest.mark.parametrize(
    "kind,w,c",
    [
        pytest.param("dirty", 4, 8, id="dirty-w4-c8"),
        pytest.param("dirty", 17, 4, id="dirty-w_eq_n"),
        pytest.param("dirty", 8, 16, id="dirty-c16"),
        pytest.param("nulls", 3, 8, id="nulls"),
        pytest.param("flat", 4, 8, id="flat"),
        pytest.param("long", 2048, 8, id="long-w2048"),
        pytest.param("long", 256, 16, id="long-w256"),
    ],
)
def test_whole_series_matches_pykernel(spark, long_df, kind, w, c):
    rows = _encoder_rows(kind, long_df)
    if kind == "long":  # pykernel encodes at most 4096 points; keep ragged lengths
        rows = [r for r in rows if r[1] < 4096 - 37 * r[0]]
    df = spark.createDataFrame(rows, "key int, seq int, v double")
    got = {
        r["series_key"]: (r["n"], r["sax_word"])
        for r in whole_series_sax(df, key="key", order="seq", value="v", w=w, c=c).collect()
    }
    expected = {}
    for key, series in _by_key(rows).items():
        usable = (len(series) // w) * w
        if usable >= w:
            expected[key] = (usable, pk.encode(series[:usable], w, c))
    assert got == expected


def test_codegen_mindist_variants_match_pykernel(spark):
    rng = random.Random(5)
    for c in (3, 8, 16):
        alphabet = [pk.letter_of(i, c) for i in range(c)] + ["#"]
        w = 6
        pairs = [
            (
                "".join(rng.choice(alphabet) for _ in range(w)),
                "".join(rng.choice(alphabet) for _ in range(w)),
                w * rng.choice([1, 3]),
            )
            for _ in range(120)
        ]
        # the two-column form behind allpairs_within: every pair of words
        # with equal n, each random pair among them as keys (2j, 2j+1)
        rows = [(2 * j + s, pair[s], pair[2]) for j, pair in enumerate(pairs) for s in (0, 1)]
        n_of = {k: n for k, _, n in rows}
        words = spark.createDataFrame(rows, "series_key int, sax_word string, n int")
        got = allpairs_within(words, w=w, c=c, delta=float("inf")).collect()
        assert {(2 * j, 2 * j + 1) for j in range(len(pairs))} <= {
            (r["key_a"], r["key_b"]) for r in got
        }
        for r in got:
            n = n_of[r["key_a"]]
            assert n_of[r["key_b"]] == n, r
            exp = pk.mindist_parts(
                pk.parse(r["word_a"], c), pk.parse(r["word_b"], c), c=c, n_a=n, n_b=n
            )
            assert abs(r["mindist"] - exp[0]) < 1e-9
            assert abs(r["above"] - exp[1]) < 1e-9
            assert abs(r["below"] - exp[2]) < 1e-9

        # the literal-pattern form (SQL text) against pykernel, bit for
        # bit, for every spelling of n
        for w in (4, 16):
            rows = [
                (
                    i,
                    "".join(rng.choice(alphabet) for _ in range(w)),
                    rng.choice([None, 0, w, 3 * w]),
                )
                for i in range(60)
            ]
            pdf = spark.createDataFrame(rows, "id int, wa string, n int")
            pattern = "".join(rng.choice(alphabet) for _ in range(w))
            for n in ("n", 2 * w, 0, None):
                got2 = mindist_to_pattern(pdf, pattern, c=c, word_col="wa", n=n).select(
                    "wa", "n", "mindist", "mindist_above", "mindist_below"
                ).collect()
                for r in got2:
                    n_a = (r["n"] if n == "n" else n) or 0
                    exp = pk.mindist_parts(
                        pk.parse(r["wa"], c), pk.parse(pattern, c), c=c, n_a=n_a
                    )
                    pat = (r["mindist"], r["mindist_above"], r["mindist_below"])
                    assert pat == exp, (c, w, n, pattern, r)


def test_pattern_n_rejects_column(spark):
    words = spark.createDataFrame(
        [(1, "ABCD", 32)], "series_key int, sax_word string, n int"
    )
    for op in (
        lambda: mindist_to_pattern(words, "ABCD", c=8, n=F.col("n")),
        lambda: topk_nearest(words, "ABCD", c=8, k=1, n=F.col("n")),
    ):
        with pytest.raises(TypeError, match="column name"):
            op()


def test_topk_build_py4j_calls_flat_in_w_and_c(spark, py4j_calls):
    """Building a literal-pattern top-k costs a fixed number of
    driver->JVM round trips: the MINDIST expression is one SQL string,
    not a Column tree that grows with w*c."""
    words = spark.createDataFrame([(1, "ABCD")], "series_key int, sax_word string")
    topk_nearest(words, "ABCD", c=8, k=3, n=32, tiebreakers=["series_key"])  # warm-up
    calls = {}
    for w, c in ((4, 8), (16, 16)):
        start = py4j_calls.n
        topk_nearest(words, "ABCDEFGHIJKLMNOP"[:w], c=c, k=3, n=32, tiebreakers=["series_key"])
        calls[(w, c)] = py4j_calls.n - start
    assert calls[(4, 8)] == calls[(16, 16)] < 300, calls


@pytest.mark.parametrize("w", [4, 16])
def test_topk_plan_evaluates_each_mindist_sum_once(spark, w):
    """The optimized top-k plan holds each per-position MINDIST lookup
    once per sum (2w), not the 6w of a struct that spells ``dist`` out
    of both sums plus a NULL filter pushed below the projection."""
    words = spark.createDataFrame([(1, "A" * w)], "series_key int, sax_word string")
    top = topk_nearest(words, "ABCDEFGHABCDEFGH"[:w], c=8, k=3, n="series_key",
                       tiebreakers=["series_key"])
    plan = top._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("element_at(") == 2 * w, plan


@pytest.mark.parametrize("w, c", [(4, 8), (8, 16)])
@pytest.mark.parametrize("n_col", ["n", None])
def test_allpairs_plan_evaluates_each_mindist_sum_once(spark, w, c, n_col):
    """The optimized all-pairs plan holds 4w per-position MINDIST
    lookups: 2w in the nested-loop condition (the ``dist <= delta`` test
    every distinct word pair pays) and 2w in the projection over the
    surviving pairs, not the 6w of a struct that spells ``dist`` out of
    both sums."""
    words = spark.createDataFrame(
        [(1, "A" * w, 32), (2, "B" * w, 32)], "series_key int, sax_word string, n int"
    )
    pairs = allpairs_within(words, w=w, c=c, delta=1.0, n_col=n_col)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("element_at(") == 4 * w, plan


def test_topk_plan_root_is_take_ordered_on_multi_file_input(spark, tmp_path):
    """Unscorable words are dropped before scoring, so nothing sits above
    the limit: over a scan of several partitions the executed plan's
    root is TakeOrderedAndProject (per-partition top-k merged on the
    driver) and no exchange runs. A filter above the limit would make
    Spark shuffle the top-k to one partition first."""
    path = str(tmp_path / "words")
    spark.createDataFrame(
        list(enumerate(["AAAA", "AAAB", None, "AAAZ", "HHHH", "BAAA"])),
        "series_key int, sax_word string",
    ).repartition(2).write.parquet(path)
    words = spark.read.parquet(path)
    assert len(words.inputFiles()) == words.rdd.getNumPartitions() == 2
    top = topk_nearest(words, "AAAA", c=8, k=3, n=32, tiebreakers=["series_key"])
    plan = top._jdf.queryExecution().executedPlan()
    assert plan.nodeName() == "TakeOrderedAndProject", plan.toString()
    assert "Exchange" not in plan.toString(), plan.toString()
    assert [r.series_key for r in top.collect()] == [0, 1, 5]


def test_window_operators_shuffle_once(spark, long_df):
    """Each windowed operator hash-partitions on the series key once, as
    the windows module promises, with AQE on and off; the row-numbered
    ones compute row_number once."""
    df, _ = long_df
    kw = dict(key="key", order="seq", value="v")
    ops = {
        "sliding_sax": lambda: sliding_sax(df, n=8, w=4, c=8, **kw),
        "tumbling_sax": lambda: tumbling_sax(df, n=8, w=4, c=8, **kw),
        "whole_series_sax": lambda: whole_series_sax(df, w=4, c=8, **kw),
        "tumbling_values": lambda: tumbling_values(df, n=8, **kw),
    }
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for aqe in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            plans = {
                name: op()._jdf.queryExecution().executedPlan().toString()
                for name, op in ops.items()
            }
            exchanges = {
                name: p.count("Exchange hashpartitioning") for name, p in plans.items()
            }
            assert exchanges == dict.fromkeys(ops, 1), (aqe, exchanges)
            row_numbers = {
                name: plans[name].count("row_number()")
                for name in ("tumbling_sax", "whole_series_sax", "tumbling_values")
            }
            assert row_numbers == dict.fromkeys(row_numbers, 1), (aqe, row_numbers)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)


def test_allpairs_matches_bruteforce(spark):
    rng = random.Random(21)
    c, w, n = 4, 4, 16
    alphabet = [pk.letter_of(i, c) for i in range(c)]
    words = [(k, "".join(rng.choice(alphabet) for _ in range(w)), n) for k in range(30)]
    df = spark.createDataFrame(words, "series_key int, sax_word string, n int")
    delta = 1.5
    got = {
        (r["key_a"], r["key_b"]): r["mindist"]
        for r in allpairs_within(df, w=w, c=c, delta=delta).collect()
    }
    expected = {}
    for ka, wa, na in words:
        for kb, wb, nb in words:
            if ka < kb:
                d = pk.mindist(pk.parse(wa, c), pk.parse(wb, c), c=c, n_a=na, n_b=nb)
                if d <= delta:
                    expected[(ka, kb)] = d
    assert set(got) == set(expected)
    for k, d in got.items():
        assert abs(d - expected[k]) < 1e-9


def _refine_inputs(spark, series, n, w, c):
    """(words, values) of one n-point tumbling window per series key."""
    rows = [(key, seq, v) for key, vs in series.items() for seq, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "key int, seq int, v double")
    words = tumbling_sax(df, key="key", order="seq", value="v", n=n, w=w, c=c)
    vals = tumbling_values(df, key="key", order="seq", value="v", n=n)
    return words, vals


@pytest.mark.parametrize(
    "n, dirty",
    [
        pytest.param(16, False, id="clean"),
        pytest.param(16, True, id="dirty"),
        pytest.param(256, False, id="clean-n256"),
    ],
)
def test_allpairs_refined_matches_bruteforce_and_lower_bound(spark, n, dirty):
    """Prune-then-refine: exact_dist must equal the Python-computed
    z-normalized Euclidean distance — including on NaN/Inf-dirty series
    the clean-testdata oracle never exercises. On complete series the
    (scaled) mindist candidate bound must never exceed it (the
    lower-bound law the reference states at include/symtseries.h:5-7),
    and at a finite delta the answer is exactly the brute-force set
    {exact <= delta}, pairs just under delta included.
    With missing values the law intentionally does NOT hold: '#' frames
    substitute the furthest letter (pessimistic, src/symtseries.c:612-620)
    while the exact distance skips non-finite positions, so dirty series
    only check the brute-force equality. n=256 runs the unrolled
    exact-distance sum at a long window."""
    rng = random.Random(7)
    w, c = 4, 8
    series = {key: _series(rng, n, dirty=dirty) for key in range(10)}
    words, vals = _refine_inputs(spark, series, n, w, c)

    def refined(delta):
        out = allpairs_refined(
            words, vals, key="series_key", n=n, w=w, c=c, delta=delta
        ).collect()
        return {(r["key_a"], r["key_b"]): r for r in out}

    def znorm(vs):
        fin = [x for x in vs if math.isfinite(x)]
        mu, std = pk.mu_std(fin)
        if std < 1e-2:
            return [0.0 if math.isfinite(x) else x for x in vs]
        return [(x - mu) / std if math.isfinite(x) else x for x in vs]

    zs = {k: znorm(v) for k, v in series.items()}
    exact = {
        (ka, kb): math.sqrt(
            sum(
                (x - y) ** 2
                for x, y in zip(zs[ka], zs[kb])
                if math.isfinite(x) and math.isfinite(y)
            )
        )
        for ka in series
        for kb in series
        if ka < kb
    }

    everything = refined(1e9)
    assert set(everything) == set(exact)
    for pair, r in everything.items():
        assert abs(r["exact_dist"] - exact[pair]) < 1e-9, (r, exact[pair])
        if not dirty:
            # f32 LUT + frame aggregation tolerance, as in test_properties
            assert r["mindist"] <= r["exact_dist"] + 1e-4, (r, exact[pair])

    if not dirty:
        # a delta within the prune slack above the median pair's distance
        slack = n**0.5 * MINDIST_OVERSHOOT[c]
        delta = sorted(exact.values())[len(exact) // 2] + slack / 2
        assert all(abs(d - delta) > 1e-6 for d in exact.values())
        expected = {pair for pair, d in exact.items() if d <= delta}
        assert 0 < len(expected) < len(exact)
        assert set(refined(delta)) == expected


@pytest.mark.parametrize("n", [512, 4096])
def test_allpairs_refined_at_domain_edges(spark, n):
    """Windows up to the n <= 4096 cap plan and run: the exact distances
    of every pair equal a NumPy brute force, and a finite delta returns
    exactly the brute-force set {exact <= delta}."""
    import numpy as np

    w, c = 4, 8
    rng = np.random.default_rng(n)
    series = {key: np.cumsum(rng.normal(size=n)).tolist() for key in range(4)}
    words, vals = _refine_inputs(spark, series, n, w, c)

    z = {k: (np.array(v) - np.mean(v)) / np.std(v) for k, v in series.items()}
    exact = {
        (ka, kb): float(np.sqrt(np.sum((z[ka] - z[kb]) ** 2)))
        for ka in z for kb in z if ka < kb
    }
    got = {
        (r["key_a"], r["key_b"]): r["exact_dist"]
        for r in allpairs_refined(
            words, vals, key="series_key", n=n, w=w, c=c, delta=1e9
        ).collect()
    }
    assert set(got) == set(exact)
    for pair, d in got.items():
        assert abs(d - exact[pair]) < 1e-9, (pair, d, exact[pair])
    delta = sorted(exact.values())[len(exact) // 2]
    delta = (delta + max(d for d in exact.values() if d < delta)) / 2
    expected = {pair for pair, d in exact.items() if d <= delta}
    got = allpairs_refined(words, vals, key="series_key", n=n, w=w, c=c, delta=delta)
    assert {(r["key_a"], r["key_b"]) for r in got.collect()} == expected


@pytest.mark.parametrize("w", [512, 2048])
def test_long_word_mindist_matches_pykernel(spark, w):
    """Words up to the w <= 2048 cap plan and run: ``topk_nearest`` (the
    pattern form) and ``allpairs_within`` (the two-column form) equal
    pykernel bit for bit, '#' letters included."""
    c, n = 8, 2 * w
    rng = random.Random(w)
    alphabet = [pk.letter_of(i, c) for i in range(c)] + ["#"]
    words = ["".join(rng.choice(alphabet) for _ in range(w)) for _ in range(5)]
    pattern = "".join(rng.choice(alphabet) for _ in range(w))
    df = spark.createDataFrame(
        [(i, x, n) for i, x in enumerate(words)], "series_key int, sax_word string, n int"
    )

    def parts(a, b):
        return pk.mindist_parts(pk.parse(a, c), pk.parse(b, c), c=c, n_a=n, n_b=0)

    top = topk_nearest(df, pattern, c=c, k=3, n="n", tiebreakers=["series_key"]).collect()
    ranked = sorted(range(len(words)), key=lambda i: (parts(words[i], pattern)[0], i))
    assert [r["series_key"] for r in top] == ranked[:3]
    for r in top:
        got = (r["mindist"], r["mindist_above"], r["mindist_below"])
        assert got == parts(r["sax_word"], pattern), r["series_key"]

    pairs = allpairs_within(df, w=w, c=c, delta=float("inf")).collect()
    assert len(pairs) == len(words) * (len(words) - 1) // 2
    for r in pairs:
        assert (r["mindist"], r["above"], r["below"]) == parts(r["word_a"], r["word_b"])


def test_mindist_overshoots_exact_distance_within_bound(spark):
    """The pair table is rounded while the breakpoints are truncated
    (2.301 against a gap of 2.300 at c=8), so MINDIST can exceed the
    exact distance, by at most sqrt(n) * MINDIST_OVERSHOOT[c]. Four
    frames of four equal values each, a = [h, -h, k, -k] and
    b = [-h, h, k, -k]: the prune alone loses this true match at
    delta = 6.507; the refined query keeps it."""
    n, w, c = 16, 4, 8
    h = 1.1501
    k = math.sqrt(2 - h * h)
    frames = {1: (h, -h, k, -k), 2: (-h, h, k, -k)}
    series = {key: [x for x in f for _ in range(n // w)] for key, f in frames.items()}
    words, vals = _refine_inputs(spark, series, n, w, c)
    assert sorted(r["sax_word"] for r in words.collect()) == ["AHGB", "HAGB"]

    exact = math.sqrt(32) * h
    lb = pk.mindist(pk.parse("HAGB", c), pk.parse("AHGB", c), c=c, n_a=n, n_b=n)
    assert abs(exact - 6.505948) < 1e-6 and abs(lb - 6.508211) < 1e-6
    assert exact < lb <= exact + n**0.5 * MINDIST_OVERSHOOT[c]

    delta = 6.507
    scale = (n / w) ** 0.5
    pruned = allpairs_within(
        words, w=w, c=c, delta=delta / scale, key_col="series_key", n_col=None
    )
    assert pruned.count() == 0
    got = allpairs_refined(
        words, vals, key="series_key", n=n, w=w, c=c, delta=delta
    ).collect()
    assert [(r["key_a"], r["key_b"]) for r in got] == [(1, 2)]
    assert abs(got[0]["exact_dist"] - exact) < 1e-9
    assert abs(got[0]["mindist"] - lb) < 1e-9


def test_tumbling_non_finite_matches_oracle_and_pykernel(spark):
    """Windows holding NULL, NaN, +Inf, -Inf, and +Inf with -Inf in one
    frame: ``tumbling_sax`` equals ``pk.encode`` (NULL read as NaN) and
    the DuckDB oracle, whose stats read finite values only, whose frame
    sums and counts skip NULL and NaN, and whose NaN frame sum is '#'."""
    import duckdb

    from symtseries_spark.oracle import tumbling_words_sql

    n, w, c = 8, 4, 8
    rng = random.Random(11)
    specials = [{}, {1: None}, {2: NAN}, {5: INF}, {0: -INF}, {6: INF, 7: -INF},
                {0: NAN, 1: NAN, 3: INF}, {2: None, 4: -INF, 5: INF}]
    rows = []
    for wid, special in enumerate(specials):
        vals = [round(rng.gauss(0.0, 1.0), 3) for _ in range(n)]
        for pos, v in special.items():
            vals[pos] = v
        rows += [(1, wid * n + p, v) for p, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, ts long, value double")
    got = sorted(
        (r["window_id"], r["sax_word"])
        for r in tumbling_sax(df, key="user_id", order="ts", value="value", n=n, w=w, c=c).collect()
    )
    series = [NAN if v is None else v for _, _, v in rows]
    assert got == [(k, pk.encode(series[k * n : (k + 1) * n], w, c)) for k in range(len(specials))]
    assert got[3][1][2] == "H" and got[4][1][0] == "A" and got[5][1][3] == "#"

    con = duckdb.connect()
    con.execute("CREATE TABLE ev (user_id BIGINT, ts BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?)", rows)
    oracle = con.execute(
        f"SELECT window_id, sax_word FROM ({tumbling_words_sql(n, w, c, table='ev', order='ts')})"
        " ORDER BY window_id"
    ).fetchall()
    assert oracle == got


class TestNullHandling:
    def test_null_values_behave_as_nan(self, spark):
        """NULL measurements must behave exactly like the reference's NaN
        inputs (missing) in every windowed operator."""
        import math
        from pyspark.sql import Row
        from pyspark.sql import functions as F
        from symtseries_spark import pykernel as pk
        from symtseries_spark.operators import sliding_sax, tumbling_sax

        vals = [1.0, None, 3.0, 10.0, None, None, 2.0, 5.0]
        rows = [Row(k=1, seq=i, v=v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "k long, seq long, v double")

        got = {
            r.seq: r.sax_word
            for r in sliding_sax(
                df, key="k", order="seq", value="v", n=4, w=2, c=4
            ).collect()
        }
        win = pk.SlidingWindow(4, 2, 4)
        for i, v in enumerate(vals):
            expected = win.append(math.nan if v is None else v)
            assert got[i] == expected, i

        tumb = tumbling_sax(
            df, key="k", order="seq", value="v", n=4, w=2, c=4
        ).collect()
        by_win = {r.window_id: r.sax_word for r in tumb}
        assert by_win[0] == pk.encode([1.0, math.nan, 3.0, 10.0], 2, 4)
        assert by_win[1] == pk.encode([math.nan, math.nan, 2.0, 5.0], 2, 4)


class TestNumerosityReduce:
    def test_runs_collapse_and_reconstruct(self, spark):
        from pyspark.sql import functions as F

        from symtseries_spark.operators.windows import numerosity_reduce

        rows = [
            (1, 0, "AA"), (1, 1, "AA"), (1, 2, "AB"), (1, 3, "AA"),
            (1, 4, "AA"), (1, 5, "AA"),
            (2, 0, "CC"),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts long, sax_word string"
        ).withColumn("event_id", F.col("ts") + 100)
        out = sorted(
            map(
                tuple,
                numerosity_reduce(
                    df, key="user_id", order=["ts", "event_id"],
                    id_col="event_id",
                ).collect(),
            )
        )
        assert out == [
            (1, 100, "AA", 2),
            (1, 102, "AB", 1),
            (1, 103, "AA", 3),
            (2, 100, "CC", 1),
        ]
        # run lengths reconstruct the original row count
        assert sum(r[3] for r in out) == len(rows)
