"""Unit tests for the winnowing fingerprint family (functions.text
kgram_hashes / winnow_fingerprints, operators.dedup winnow_pairs /
containment_pairs, operators.retrieval boilerplate_metrics), Holt
double-exponential smoothing (batch + stream), and the Holt-Winters and
Page-Hinkley streams, against Python oracles and batch twins."""

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark.functions.text import kgram_hashes, winnow_fingerprints
from symtseries_spark.operators import containment_pairs, holt, winnow_pairs
from symtseries_spark.operators.retrieval import boilerplate_metrics

HASH_PRIME = 2_147_483_647


def py_tokens(s: str) -> list[str]:
    out, cur = [], []
    for ch in s.lower():
        if ch.isascii() and (ch.isdigit() or "a" <= ch <= "z"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def py_gram_hashes(text: str, k: int) -> list[int]:
    toks = py_tokens(text)
    return [
        int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:15], 16)
        % HASH_PRIME
        for i in range(len(toks) - k + 1)
    ]


def py_winnow(text: str, k: int, w: int) -> list[int]:
    h = py_gram_hashes(text, k)
    if len(h) < w:
        return []
    return sorted({min(h[p : p + w]) for p in range(len(h) - w + 1)})


PASSAGE = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"


class TestWinnowFingerprints:
    def test_matches_python_oracle(self, spark):
        texts = [
            "the quick brown fox jumps over the lazy dog again and again",
            PASSAGE + " kilo lima mike november oscar",
            "one two three four five six seven eight nine ten eleven twelve",
        ]
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
        )
        out = {
            r.doc_id: r.fps
            for r in df.select(
                "doc_id", winnow_fingerprints(F.col("text"), 3, 4).alias("fps")
            ).collect()
        }
        for i, t in enumerate(texts):
            assert out[i] == py_winnow(t, 3, 4), f"doc {i}"

    def test_short_doc_empty(self, spark):
        df = spark.createDataFrame([Row(doc_id=0, text="too short here")])
        out = df.select(
            winnow_fingerprints(F.col("text"), 4, 8).alias("fps"),
            kgram_hashes(F.col("text"), 4).alias("gh"),
        ).first()
        assert out.fps == []
        assert out.gh == []  # 3 tokens < k=4

    def test_shared_run_guarantee(self, spark):
        """Any shared token run >= k + w - 1 must contribute at least one
        identical fingerprint to both documents (the winnowing paper's
        core guarantee)."""
        k, w = 3, 4  # guarantee threshold = 6 tokens
        a = "xx yy zz " + PASSAGE + " aa bb cc"
        b = "completely different preamble words " + PASSAGE
        df = spark.createDataFrame([Row(doc_id=0, text=a), Row(doc_id=1, text=b)])
        fps = {
            r.doc_id: set(r.fps)
            for r in df.select(
                "doc_id", winnow_fingerprints(F.col("text"), k, w).alias("fps")
            ).collect()
        }
        assert fps[0] & fps[1], "shared 10-token passage left no shared fp"


class TestWinnowPairs:
    def test_detects_shared_passage(self, spark):
        docs = spark.createDataFrame(
            [
                Row(doc_id=0, text="intro words here " + PASSAGE + " outro"),
                Row(doc_id=1, text=PASSAGE + " totally different ending text"),
                Row(doc_id=2, text="unrelated content about spark shuffles "
                                   "and partitions and catalyst plans"),
            ]
        )
        out = winnow_pairs(docs, k=3, w=4, min_shared=1).collect()
        pairs = {(r.doc_a, r.doc_b) for r in out}
        assert (0, 1) in pairs
        assert all(2 not in p for p in pairs)
        r01 = next(r for r in out if (r.doc_a, r.doc_b) == (0, 1))
        shared = set(py_winnow(docs.collect()[0].text, 3, 4)) & set(
            py_winnow(docs.collect()[1].text, 3, 4)
        )
        assert r01.n_shared == len(shared)
        assert r01.overlap == pytest.approx(
            round(len(shared) / min(r01.n_a, r01.n_b), 4)
        )

    def test_hot_fp_cap_drops_universal_fingerprint(self, spark):
        # the same passage in every doc -> its fingerprints exceed the
        # cap and are dropped, leaving no qualifying pairs
        docs = spark.createDataFrame(
            [Row(doc_id=i, text=PASSAGE) for i in range(4)]
        )
        capped = winnow_pairs(docs, k=3, w=4, min_shared=1, max_fp_freq=3)
        assert capped.count() == 0
        uncapped = winnow_pairs(docs, k=3, w=4, min_shared=1)
        assert uncapped.count() == 6  # all C(4,2) pairs


class TestContainmentPairs:
    def test_excerpt_detected_where_jaccard_dilutes(self, spark):
        small = PASSAGE  # 10 tokens -> 8 distinct 3-shingles
        big = (
            "filler one two three four five six seven eight nine ten "
            + PASSAGE
            + " more filler eleven twelve thirteen fourteen fifteen sixteen "
              "seventeen eighteen nineteen twenty twentyone twentytwo"
        )
        docs = spark.createDataFrame(
            [Row(doc_id=0, text=small), Row(doc_id=1, text=big)]
        )
        out = containment_pairs(docs, k=3, threshold=0.9).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.doc_a, r.doc_b) == (0, 1)
        assert r.cont_a == pytest.approx(1.0)  # small fully inside big
        # Jaccard on the same pair is diluted well below the threshold
        jac = r.n_common / (r.n_a + r.n_b - r.n_common)
        assert jac < 0.5

    def test_threshold_filters(self, spark):
        docs = spark.createDataFrame(
            [
                Row(doc_id=0, text="aa bb cc dd ee"),
                Row(doc_id=1, text="vv ww xx yy zz"),
            ]
        )
        assert containment_pairs(docs, k=3, threshold=0.1).count() == 0


class TestBoilerplate:
    def test_ratio_matches_manual(self, spark):
        header = "copyright acme corp all rights reserved"
        bodies = [
            "unique article about storage engines",
            "another piece on vectorized execution",
            "third text concerning shuffle services",
        ]
        docs = spark.createDataFrame(
            [Row(doc_id=i, text=header + " " + b) for i, b in enumerate(bodies)]
            + [Row(doc_id=9, text="no common header content at all here")]
        )
        out = {
            r.doc_id: r
            for r in boilerplate_metrics(docs, k=3, min_df=3).collect()
        }
        # manual: grams appearing in >= 3 distinct docs
        from collections import Counter

        gram_docs: Counter = Counter()
        per_doc: dict[int, list[int]] = {}
        for r in docs.collect():
            gh = py_gram_hashes(r.text, 3)
            per_doc[r.doc_id] = gh
            for g in set(gh):
                gram_docs[g] += 1
        frequent = {g for g, c in gram_docs.items() if c >= 3}
        for doc_id, gh in per_doc.items():
            n_boiler = sum(1 for g in gh if g in frequent)
            assert out[doc_id].n_grams == len(gh)
            assert out[doc_id].n_boiler == n_boiler
            assert out[doc_id].boiler_ratio == pytest.approx(
                round(n_boiler / len(gh), 4) if gh else 0.0
            )
        assert out[9].n_boiler == 0

    def test_gram_free_doc_zero(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=0, text="ab"), Row(doc_id=1, text="x y z w v u t s")]
        )
        out = {r.doc_id: r for r in boilerplate_metrics(docs, k=3, min_df=2).collect()}
        assert out[0].n_grams == 0 and out[0].boiler_ratio == 0.0


def py_holt(vals, alpha, beta):
    l = t = None
    out = []
    for x in vals:
        if l is None:
            l, t = x, 0.0
        else:
            l2 = alpha * x + (1 - alpha) * (l + t)
            t = beta * (l2 - l) + (1 - beta) * t
            l = l2
        out.append((l, t))
    return out


def _series(spark, values, key=1):
    return spark.createDataFrame(
        [Row(k=key, i=i, v=float(v)) for i, v in enumerate(values)]
    )


class TestHoltBatch:
    def test_matches_python_fold(self, spark):
        vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
        a, b, win = 0.5, 0.25, 4
        out = holt(
            _series(spark, vals), key="k", order=["i"], value="v",
            alpha=a, beta=b, window=win,
        ).orderBy("i").collect()
        for r in out:
            frame = vals[max(0, r.i - win + 1) : r.i + 1]
            l, t = py_holt(frame, a, b)[-1]
            assert r.level == pytest.approx(l, abs=1e-6)
            assert r.trend == pytest.approx(t, abs=1e-6)
            assert r.forecast == pytest.approx(
                round(l + t, 6), abs=1e-5
            )

    def test_single_value_seeds(self, spark):
        out = holt(
            _series(spark, [7.0]), key="k", order=["i"], value="v",
            alpha=0.5, beta=0.5, window=4,
        ).first()
        assert out.level == 7.0 and out.trend == 0.0 and out.forecast == 7.0

    def test_param_validation(self, spark):
        df = _series(spark, [1.0])
        with pytest.raises(ValueError):
            holt(df, key="k", order=["i"], value="v", alpha=0.0, beta=0.5,
                 window=4)
        with pytest.raises(ValueError):
            holt(df, key="k", order=["i"], value="v", alpha=0.5, beta=1.5,
                 window=4)
        with pytest.raises(ValueError):
            holt(df, key="k", order=["i"], value="v", alpha=0.5, beta=0.5,
                 window=0)


def py_cusum(vals, target, slack):
    acc, out = 0.0, []
    for x in vals:
        acc = max(0.0, acc + (x - target - slack))
        out.append(acc)
    return out


class TestCusum:
    def test_identity_matches_recursion(self, spark):
        """The batch prefix-sum identity must equal the direct recursion
        (exact in real arithmetic; agree to quantization in floats)."""
        from symtseries_spark.operators import cusum

        vals = [5.0, 9.0, 2.0, 8.0, 8.5, 1.0, 9.5, 9.5, 9.5, 0.0]
        out = cusum(
            _series(spark, vals), key="k", order=["i"], value="v",
            target=4.0, slack=1.0, threshold=6.0,
        ).orderBy("i").collect()
        exp = py_cusum(vals, 4.0, 1.0)
        for r in out:
            assert r.cusum == pytest.approx(exp[r.i], abs=1e-6)
            assert r.alarm == (round(exp[r.i], 6) > 6.0)

    def test_resets_after_drop(self, spark):
        from symtseries_spark.operators import cusum

        # big positive drift, then values far below target drain to 0
        vals = [10.0, 10.0, 0.0, 0.0, 0.0, 0.0]
        out = cusum(
            _series(spark, vals), key="k", order=["i"], value="v",
            target=4.0, slack=1.0, threshold=100.0,
        ).orderBy("i").collect()
        assert out[1].cusum == pytest.approx(10.0)
        assert out[-1].cusum == pytest.approx(0.0)  # clamped at zero

    def test_stream_equals_batch_recursion(self, spark):
        import glob as globmod
        import os
        import tempfile
        import uuid

        from symtseries_spark.streaming import cusum_stream

        rows = [(1, i, float(v)) for i, v in
                enumerate([5, 9, 2, 8, 8.5, 1, 9.5])]
        rows += [(2, i, float(v)) for i, v in enumerate([0, 9, 9])]
        df = spark.createDataFrame(rows, "k long, i long, v double")
        in_dir = tempfile.mkdtemp(prefix="cusum_in_")
        stage = tempfile.mkdtemp(prefix="cusum_stage_")
        df.where("i < 3").coalesce(1).write.parquet(f"{stage}/b0")
        df.where("i >= 3").coalesce(1).write.parquet(f"{stage}/b1")
        for i in range(2):
            part = globmod.glob(f"{stage}/b{i}/part-*.parquet")[0]
            dst = f"{in_dir}/b{i}.parquet"
            os.rename(part, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        stream = spark.readStream.schema(df.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(in_dir)
        cs = cusum_stream(stream, key="k", order=["i"], value="v",
                          target=4.0, slack=1.0)
        name = f"cusum_t_{uuid.uuid4().hex[:8]}"
        q = (
            cs.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="cusum_tc_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {(r.k, r.i): r.cusum for r in spark.table(name).collect()}
        for key, series in ((1, [5, 9, 2, 8, 8.5, 1, 9.5]), (2, [0, 9, 9])):
            exp = py_cusum([float(x) for x in series], 4.0, 1.0)
            for i, c in enumerate(exp):
                assert got[(key, i)] == pytest.approx(c, abs=1e-12)


class TestHoltStream:
    def test_state_carries_across_batches(self, spark):
        """Two micro-batches must reproduce the batch recursion over the
        concatenated series (state = two doubles per key)."""
        import glob as globmod
        import os
        import tempfile
        import uuid

        from symtseries_spark.streaming import holt_stream

        a, b = 0.25, 0.125
        rows = [(1, i, float(v)) for i, v in enumerate([3, 1, 4, 1, 5, 9])]
        rows += [(2, i, float(v)) for i, v in enumerate([2, 7, 1])]
        df = spark.createDataFrame(rows, "k long, i long, v double")
        in_dir = tempfile.mkdtemp(prefix="holt_in_")
        stage = tempfile.mkdtemp(prefix="holt_stage_")
        df.where("i < 3").coalesce(1).write.parquet(f"{stage}/b0")
        df.where("i >= 3").coalesce(1).write.parquet(f"{stage}/b1")
        for i in range(2):
            part = globmod.glob(f"{stage}/b{i}/part-*.parquet")[0]
            dst = f"{in_dir}/b{i}.parquet"
            os.rename(part, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        stream = spark.readStream.schema(df.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(in_dir)
        hs = holt_stream(stream, key="k", order=["i"], value="v",
                         alpha=a, beta=b)
        name = f"holt_t_{uuid.uuid4().hex[:8]}"
        q = (
            hs.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="holt_tc_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {(r.k, r.i): (r.level, r.trend)
               for r in spark.table(name).collect()}
        for key, series in ((1, [3, 1, 4, 1, 5, 9]), (2, [2, 7, 1])):
            for i, (l, t) in enumerate(py_holt([float(x) for x in series], a, b)):
                assert got[(key, i)][0] == pytest.approx(l, abs=1e-12)
                assert got[(key, i)][1] == pytest.approx(t, abs=1e-12)


# keys the per-key state must keep apart: a NULL key, one past 2**53
# (a float64 round trip would merge it with 2**60), and an all-NULL series
BIG_KEY = 2**60 + 1
REPLAY_SERIES = {
    None: [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0],
    BIG_KEY: [None, 2.0, 7.0, None, 1.0, 8.0, 2.0],
    2**60: [4.0, 4.0, 4.0, 4.0],
    7: [None, None, None, None, None],
}


def _replay_two_files(spark, build, split=3):
    """Rows ``(k, i, v)`` of ``REPLAY_SERIES`` as two parquet files,
    ``i < split`` then the rest, streamed one file per micro-batch
    through ``build(stream)``; returns the memory sink's rows keyed by
    ``(k, i)`` and the rows as one batch DataFrame."""
    import glob as globmod
    import os
    import shutil
    import tempfile
    import uuid

    rows = [(k, i, v) for k, vs in REPLAY_SERIES.items() for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "k long, i long, v double")
    root = tempfile.mkdtemp(prefix="replay_")
    try:
        for b, cond in enumerate([F.col("i") < split, F.col("i") >= split]):
            df.where(cond).coalesce(1).write.parquet(f"{root}/b{b}")
            part = globmod.glob(f"{root}/b{b}/part-*.parquet")[0]
            dst = f"{root}/in/b{b}.parquet"
            os.makedirs(f"{root}/in", exist_ok=True)
            os.rename(part, dst)
            os.utime(dst, (1_000_000_000 + b, 1_000_000_000 + b))
        stream = spark.readStream.schema(df.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(f"{root}/in")
        name = f"replay_{uuid.uuid4().hex[:8]}"
        q = (
            build(stream).writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{root}/chk")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {(r.k, r.i): r for r in spark.table(name).collect()}
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert len(got) == len(rows)
    return got, df


def py_holt_winters(vals, a, b, g, m):
    """Additive Holt-Winters over ``vals`` (None skipped, but it still
    advances the phase), seeded (first value, 0, zeros): per row None
    or (level, trend, this row's seasonal slot, one-step forecast)."""
    l = t = None
    s = [0.0] * m
    out = []
    for p, x in enumerate(vals):
        j = p % m
        if x is not None:
            if l is None:
                l, t = x, 0.0
            else:
                l2 = a * (x - s[j]) + (1 - a) * (l + t)
                t = b * (l2 - l) + (1 - b) * t
                s[j] = g * (x - l2) + (1 - g) * s[j]
                l = l2
        out.append(None if l is None else (l, t, s[j], l + t + s[(j + 1) % m]))
    return out


class TestHoltWintersStream:
    def test_state_carries_across_batches(self, spark):
        """Two micro-batches equal the Holt-Winters fold over each whole
        series. Season 4 with the split after row 3: the phase counter
        and the seasonal slots carry over mid-season, and the second
        batch crosses the season boundary at row 4."""
        from symtseries_spark.streaming import holt_winters_stream

        a, b, g, m = 0.5, 0.25, 0.125, 4
        got, _ = _replay_two_files(
            spark,
            lambda s: holt_winters_stream(
                s, key="k", order=["i"], value="v",
                alpha=a, beta=b, gamma=g, season=m,
            ),
        )
        for key, vals in REPLAY_SERIES.items():
            for i, exp in enumerate(py_holt_winters(vals, a, b, g, m)):
                r = got[(key, i)]
                row = (r.level, r.trend, r.season_adj, r.forecast)
                if exp is None:
                    assert row == (None,) * 4, (key, i)
                else:
                    assert row == pytest.approx(exp, abs=1e-12), (key, i)


class TestPageHinkleyStream:
    def test_state_carries_across_batches(self, spark):
        """Two micro-batches equal the batch twin on the same rows: both
        run in integer micro-units, so ``ph`` and ``alarm`` agree
        exactly, NULL before a series' first value."""
        from symtseries_spark.operators.timeseries import page_hinkley
        from symtseries_spark.streaming import page_hinkley_stream

        got, df = _replay_two_files(
            spark,
            lambda s: page_hinkley_stream(
                s, key="k", order=["i"], value="v", delta=0.5, lam=3.0
            ),
        )
        expect = page_hinkley(df, key="k", order=["i"], value="v", delta=0.5, lam=3.0)
        exp = {(r.k, r.i): (r.ph, r.alarm) for r in expect.collect()}
        assert {k: (r.ph, r.alarm) for k, r in got.items()} == exp
        assert exp[(7, 4)] == (None, None)
        assert any(alarm for _, alarm in exp.values())
