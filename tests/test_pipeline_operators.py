"""Tests for the training-data pipeline operators (text analysis, dedup,
similarity search) against hand-computed fixtures and Python oracles."""

from __future__ import annotations

import hashlib
import math
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark.functions import text as T
from symtseries_spark.operators import (
    ann_lsh_topk,
    cosine_topk,
    embedding_near_dup,
    embedding_near_dup_lsh,
    exact_dedup_map,
    jaccard_pairs,
    knn_join,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_pairs,
)
from symtseries_spark.operators.dedup import minhash_coefficients
from symtseries_spark.operators.simsearch import hyperplanes


def py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


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


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "THE  Quick   brown fox jumps over the lazy dog"),  # ws/case dup of 0
    (3, "completely different text about spark engines and shuffles"),
    (4, "der hund und die katze sind ein team"),
    (5, "12345 67890 11111"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in DOCS]
    )


class TestTextFunctions:
    def test_tokens_and_counts(self, docs_df):
        rows = docs_df.select(
            "doc_id",
            T.token_count(F.col("text")).alias("n"),
            T.tokens(F.col("text")).alias("toks"),
        ).collect()
        by_id = {r.doc_id: r for r in rows}
        for i, t in DOCS:
            assert by_id[i].toks == py_tokens(t), i
            assert by_id[i].n == len(py_tokens(t))

    def test_doc_hash60_matches_md5(self, docs_df):
        rows = docs_df.select("text", T.doc_hash60(F.col("text")).alias("h")).collect()
        for r in rows:
            assert r.h == py_hash60(r.text)

    def test_rolling_fingerprint_oracle(self, docs_df):
        rows = docs_df.select(
            "text", T.rolling_fingerprint(F.col("text")).alias("fp")
        ).collect()
        for r in rows:
            acc = 0
            for tok in py_tokens(r.text):
                acc = (acc * 31 + py_hash60(tok) % T.HASH_PRIME) % 1_000_000_007
            assert r.fp == acc

    def test_lang_id(self, docs_df):
        rows = {
            r.doc_id: r.lang
            for r in docs_df.select(
                "doc_id", T.lang_id(F.col("text")).alias("lang")
            ).collect()
        }
        assert rows[0] == "en"
        assert rows[4] == "de"
        assert rows[5] == "und"  # no markers at all

    def test_quality_metrics(self, docs_df):
        r = (
            docs_df.where(F.col("doc_id") == 0)
            .select(T.quality_metrics(F.col("text")).alias("q"))
            .collect()[0]
            .q
        )
        toks = py_tokens(DOCS[0][1])
        assert r.n_tokens == len(toks)
        assert r.n_chars == len(DOCS[0][1])
        assert r.avg_token_len == round(sum(map(len, toks)) / len(toks), 4)
        assert 0.0 <= r.quality_score <= 1.0
        # digit-only doc scores low
        r5 = (
            docs_df.where(F.col("doc_id") == 5)
            .select(T.quality_metrics(F.col("text")).alias("q"))
            .collect()[0]
            .q
        )
        assert r5.digit_ratio > 0.8
        assert r5.quality_score < r.quality_score

    def test_shingles(self, docs_df):
        rows = docs_df.where(F.col("doc_id") == 0).select(
            T.shingles(F.col("text"), 3).alias("sh")
        ).collect()
        toks = py_tokens(DOCS[0][1])
        expected = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        assert set(rows[0].sh) == expected


class TestDedup:
    def test_exact_dedup(self, docs_df):
        rows = {r.doc_id: r for r in exact_dedup_map(docs_df).collect()}
        assert rows[2].canonical_id == 0 and rows[2].is_duplicate
        assert rows[0].canonical_id == 0 and not rows[0].is_duplicate
        assert not rows[1].is_duplicate  # one word differs

    def test_jaccard_pairs(self, docs_df):
        out = {
            (r.doc_a, r.doc_b): r
            for r in jaccard_pairs(docs_df, k=2, threshold=0.5).collect()
        }
        assert (0, 2) in out and out[(0, 2)].jaccard == 1.0
        assert (0, 1) in out  # one-token change keeps most 2-shingles
        # python oracle for (0, 1)
        t0, t1 = py_tokens(DOCS[0][1]), py_tokens(DOCS[1][1])
        s0 = {" ".join(t0[i : i + 2]) for i in range(len(t0) - 1)}
        s1 = {" ".join(t1[i : i + 2]) for i in range(len(t1) - 1)}
        jac = len(s0 & s1) / len(s0 | s1)
        assert out[(0, 1)].jaccard == round(jac, 4)
        assert (0, 3) not in out

    def test_minhash_signature_oracle(self, docs_df):
        num, seed = 8, 7
        sig = {
            r.doc_id: [r[f"m{i}"] for i in range(num)]
            for r in minhash_signatures(
                docs_df, k=2, num_hashes=num, seed=seed
            ).collect()
        }
        coeffs = minhash_coefficients(num, seed)
        t0 = py_tokens(DOCS[0][1])
        sh0 = {" ".join(t0[i : i + 2]) for i in range(len(t0) - 1)}
        hs = [py_hash60(s) % T.HASH_PRIME for s in sh0]
        for i, (a, b) in enumerate(coeffs):
            assert sig[0][i] == min((a * h + b) % T.HASH_PRIME for h in hs)
        # identical token streams -> identical signatures
        assert sig[0] == sig[2]

    def test_minhash_lsh_finds_exact_dup(self, docs_df):
        pairs = {
            (r.doc_a, r.doc_b): r.est_jaccard
            for r in minhash_lsh_pairs(
                docs_df, k=2, num_hashes=16, bands=4, threshold=0.5
            ).collect()
        }
        assert pairs.get((0, 2)) == 1.0

    def test_simhash_identical_and_near(self, docs_df):
        sims = {r.doc_id: r.simhash for r in simhash(docs_df).collect()}
        assert sims[0] == sims[2]
        ham01 = bin(sims[0] ^ sims[1]).count("1")
        ham03 = bin(sims[0] ^ sims[3]).count("1")
        assert ham01 < ham03
        pairs = {
            (r.doc_a, r.doc_b): r.hamming
            for r in simhash_pairs(docs_df, max_hamming=3).collect()
        }
        assert pairs.get((0, 2)) == 0


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [-1.0, 0.0, 0.0, 0.0]),
    (4, [0.5, 0.5, 0.5, 0.5]),
]


@pytest.fixture(scope="module")
def vecs_df(spark):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in VECS]
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))


def py_cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


class TestSimsearch:
    def test_cosine_topk(self, vecs_df):
        rows = cosine_topk(vecs_df, query_id=0, k=3).collect()
        assert [r.vec_id for r in rows] == [1, 4, 2]
        assert rows[0].cos == pytest.approx(py_cos(VECS[0][1], VECS[1][1]), abs=1e-5)

    def test_knn_join(self, vecs_df):
        q = vecs_df.where(F.col("vec_id") < 2)
        out = knn_join(vecs_df, q, k=2).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
        assert sorted(by_q[0]) == [(1, 1), (2, 4)]
        assert len(out) == 4

    def test_near_dup_exact_vs_lsh(self, vecs_df):
        exact = {
            (r.vec_a, r.vec_b)
            for r in embedding_near_dup(vecs_df, threshold=0.9).collect()
        }
        assert exact == {(0, 1)}
        # LSH candidates are a subset verified at the same threshold
        lsh = {
            (r.vec_a, r.vec_b)
            for r in embedding_near_dup_lsh(
                vecs_df, threshold=0.9, num_planes=2, dim=4
            ).collect()
        }
        assert lsh <= exact

    def test_ann_lsh_is_bucket_filtered_exact(self, vecs_df):
        out = ann_lsh_topk(
            vecs_df, query_id=0, k=5, num_planes=1, seed=13, dim=4
        ).collect()
        planes = hyperplanes(1, 4, 13)
        def bucket(v):
            return 1 if sum(x * p for x, p in zip(v, planes[0])) >= 0 else 0
        qb = bucket(VECS[0][1])
        expected = {i for i, v in VECS if i != 0 and bucket(v) == qb}
        assert {r.vec_id for r in out} == expected

    def test_hyperplanes_deterministic(self):
        assert hyperplanes(2, 4, 13) == hyperplanes(2, 4, 13)
        rng = random.Random(13)
        first = [round(rng.uniform(-1.0, 1.0), 6) for _ in range(4)]
        assert hyperplanes(2, 4, 13)[0] == first


class TestISax:
    def test_coarsen_equals_reencode(self):
        """iSAX nesting: encoding at c2 == coarsening the c-encoding —
        holds because the reference's power-of-two breakpoint tables
        nest exactly."""
        import numpy as np
        from symtseries_spark import pykernel as pk

        rng = np.random.default_rng(7)
        for _ in range(50):
            vals = list(rng.normal(size=16))
            if rng.random() < 0.3:
                vals[int(rng.integers(0, 16))] = math.nan
            for c, c2 in [(16, 8), (16, 4), (8, 4), (8, 2), (4, 2)]:
                full = pk.encode(vals, 4, c)
                assert pk.coarsen(full, c, c2) == pk.encode(vals, 4, c2), (
                    vals, c, c2,
                )

    def test_coarse_inequality_allows_zero_mindist(self):
        """Pins why read_words_multilevel's chain read is approximate as
        the input of a top-k: adjacent fine letters across a coarse
        boundary are at mindist 0 but fall into different chains, so the
        pattern's chain can miss exact matches."""
        from symtseries_spark import pykernel as pk

        a, b = "AAAD", "AAAE"
        assert pk.mindist(pk.parse(a, 8), pk.parse(b, 8), c=8) == 0.0
        assert (pk.coarsen(a, 8, 4), pk.coarsen(b, 8, 4)) == ("AAAB", "AAAC")
        assert (pk.coarsen(a, 8, 2), pk.coarsen(b, 8, 2)) == ("AAAA", "AAAB")

    def test_topk_drops_unscorable_rows(self, spark):
        """Words mindist cannot score (NULL, empty, short, long, foreign
        letter) never appear in a top-k, even when k exceeds the scorable
        rows (ascending order puts NULLs first), and the query does not
        raise. With k below the scorable count and many ties at mindist
        0, the rows and their order are the brute-force sort on
        (mindist, series_key)."""
        from symtseries_spark import pykernel as pk
        from symtseries_spark.operators import topk_nearest

        c, n, pattern = 8, 32, "AAAA"
        good = ["AAAA", "AAAB", "AAA#", "BAAA", "HHHH"]
        bad = [None, "", "AAA", "AAAAH", "AAAZ"]
        df = spark.createDataFrame(
            list(enumerate(bad + good)), "series_key int, sax_word string"
        )
        p = pk.parse(pattern, c)
        ranked = sorted(
            (pk.mindist(p, pk.parse(x, c), c=c, n_b=n), i)
            for i, x in enumerate(bad + good)
            if x in good
        )
        top = topk_nearest(df, pattern, c=c, k=10, n=n, tiebreakers=["series_key"])
        assert [(r.mindist, r.series_key) for r in top.collect()] == ranked

        rng = random.Random(12)
        pattern, k = "CDEF", 20
        # letters within one of the pattern's, so many words tie at 0;
        # keys shuffled, so the tie order is not the insertion order
        words = ["".join(rng.choice("BCDEFG") for _ in range(4)) for _ in range(500)]
        keys = rng.sample(range(10_000), len(words))
        df = spark.createDataFrame(
            list(zip(keys, words)), "series_key int, sax_word string"
        ).repartition(4)
        p = pk.parse(pattern, c)
        brute = sorted(
            (pk.mindist(p, pk.parse(x, c), c=c, n_b=n), key)
            for key, x in zip(keys, words)
        )
        assert sum(d == 0.0 for d, _ in brute) > k  # the cut splits the 0 ties
        top = topk_nearest(df, pattern, c=c, k=k, n=n, tiebreakers=["series_key"])
        assert [(r.mindist, r.series_key) for r in top.collect()] == brute[:k]

    def test_sax_coarsen_column(self, spark):
        from pyspark.sql import Row
        from symtseries_spark.functions.sax import sax_coarsen
        from symtseries_spark import pykernel as pk

        words = ["AH#D", "ABCD", "HHHH", "####"]
        df = spark.createDataFrame([Row(w=x) for x in words])
        out = [r.c for r in df.select(sax_coarsen(F.col("w"), 8, 4).alias("c")).collect()]
        assert out == [pk.coarsen(x, 8, 4) for x in words]

    def test_coarsen_validates(self):
        from symtseries_spark import pykernel as pk

        with pytest.raises(ValueError):
            pk.coarsen("AB", 6, 3)
        with pytest.raises(ValueError):
            pk.coarsen("AB", 8, 3)


class TestVectorizedKnn:
    def test_matches_expression_path(self, spark, sf_dir):
        """Arrow/BLAS path agrees with the expression path up to float
        round-off (neighbor sets equal at 1e-5 cosine tolerance)."""
        from pyspark.sql import functions as F
        from symtseries_spark.operators import knn_join
        from symtseries_spark.operators.simsearch import knn_join_vectorized
        from symtseries_spark.sources import load

        emb = load(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 3)
        exact = knn_join(emb, queries, k=5).collect()
        fast = knn_join_vectorized(emb, queries, k=5).collect()
        by_q_exact, by_q_fast = {}, {}
        for r in exact:
            by_q_exact.setdefault(r.query_id, {})[r.neighbor_id] = r.cos
        for r in fast:
            by_q_fast.setdefault(r.query_id, {})[r.neighbor_id] = r.cos
        assert set(by_q_exact) == set(by_q_fast) == {0, 1, 2}
        for q in by_q_exact:
            assert set(by_q_exact[q]) == set(by_q_fast[q]), q
            for nid, cos in by_q_exact[q].items():
                assert abs(cos - by_q_fast[q][nid]) < 1e-5


class TestSkewCaps:
    """The LSH/stopword-gram protections: hot shingles and degenerate
    buckets are dropped, never exploded."""

    def test_max_shingle_freq_drops_hot_grams(self, spark):
        from pyspark.sql import Row

        # 'x y' appears in every doc -> with cap 2 it contributes nothing
        docs = spark.createDataFrame(
            [Row(doc_id=i, text=f"x y unique{i} token{i}") for i in range(4)]
        )
        uncapped = jaccard_pairs(docs, k=2, threshold=0.01).collect()
        capped = jaccard_pairs(
            docs, k=2, threshold=0.01, max_shingle_freq=2
        ).collect()
        assert len(uncapped) == 6  # all pairs share 'x y'
        assert len(capped) == 0

    def test_max_bucket_caps_minhash(self, spark):
        from pyspark.sql import Row

        docs = spark.createDataFrame(
            [Row(doc_id=i, text="same words everywhere here") for i in range(5)]
        )
        pairs = minhash_lsh_pairs(
            docs, k=2, num_hashes=8, bands=4, threshold=0.5
        ).collect()
        assert len(pairs) == 10  # identical docs: every pair
        capped = minhash_lsh_pairs(
            docs, k=2, num_hashes=8, bands=4, threshold=0.5, max_bucket=3
        ).collect()
        assert len(capped) == 0  # every bucket holds all 5 > cap


class TestIVF:
    def test_ivf_recall_vs_bruteforce(self, spark, sf_dir):
        """IVF with enough probes must recover most of the true top-k;
        probing ALL lists must equal brute force exactly."""
        from symtseries_spark.operators import cosine_topk
        from symtseries_spark.operators.simsearch import ivf_topk
        from symtseries_spark.sources import load

        emb = load(spark, sf_dir, "embeddings")
        k, lists = 10, 8
        exact = [r.vec_id for r in cosine_topk(emb, query_id=0, k=k).collect()]
        all_probes = [
            r.vec_id
            for r in ivf_topk(
                emb, query_id=0, k=k, num_lists=lists, nprobe=lists
            ).collect()
        ]
        assert all_probes == exact  # full probe == brute force
        some = {
            r.vec_id
            for r in ivf_topk(
                emb, query_id=0, k=k, num_lists=lists, nprobe=3
            ).collect()
        }
        recall = len(some & set(exact)) / k
        assert recall >= 0.5, recall

    def test_ivf_assignment_partitions_data(self, spark, sf_dir):
        from symtseries_spark.operators.simsearch import ivf_index
        from symtseries_spark.sources import load

        emb = load(spark, sf_dir, "embeddings")
        assigned, centroids = ivf_index(emb, num_lists=4, dim=64)
        counts = {r.list_id: r.c for r in assigned.groupBy("list_id").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("c")
        ).collect()}
        assert sum(counts.values()) == emb.count()
        cent_rows = sorted(
            (r.list_id, tuple(r.centroid)) for r in centroids.collect()
        )
        assert len(cent_rows) == 4
        # deterministic: same call -> same centroids
        _, centroids2 = ivf_index(emb, num_lists=4, dim=64)
        assert cent_rows == sorted(
            (r.list_id, tuple(r.centroid)) for r in centroids2.collect()
        )


class TestStratifiedSample:
    def test_exact_floor_counts_and_determinism(self, spark, sf_dir):
        from symtseries_spark.operators.pipeline import stratified_sample
        from symtseries_spark.sources import load
        import pyspark.sql.functions as F

        docs = load(spark, sf_dir, "documents")
        totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        s1 = stratified_sample(docs, stratum="lang", fraction=0.3)
        got = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        for lang, n in totals.items():
            assert got.get(lang, 0) == int(0.3 * n)
        ids1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
        ids2 = sorted(
            r.doc_id
            for r in stratified_sample(docs.repartition(7), stratum="lang", fraction=0.3)
            .select("doc_id").collect()
        )
        assert ids1 == ids2  # partitioning-independent

    def test_fraction_bounds(self, spark):
        from symtseries_spark.operators.pipeline import stratified_sample
        import pytest as _pytest

        df = spark.createDataFrame([(1, "a")], "doc_id long, lang string")
        with _pytest.raises(ValueError):
            stratified_sample(df, stratum="lang", fraction=1.5)


class TestPackShards:
    def test_offsets_partition_id_order(self, spark):
        from symtseries_spark.operators.pipeline import pack_shards

        rows = [(i, "en", "tok " * t) for i, t in enumerate([5, 5, 5, 5, 5])]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        # budget 12: offsets 0,5,10,15,20 -> shards 0,0,0,1,1
        got = {r.shard_id: (r.n_docs, r.first_id, r.last_id)
               for r in pack_shards(df, shard_tokens=12, group="lang").collect()}
        assert got == {0: (3, 0, 2), 1: (2, 3, 4)}


class TestJaccardRefine:
    def _docs(self, spark):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [
                Row(doc_id=1, text="red widget spins fast and well"),
                Row(doc_id=2, text="red widget spins fast and badly"),
                Row(doc_id=3, text="entirely different words here now"),
                Row(doc_id=4, text="too short"),  # < k tokens: empty shingles
                Row(doc_id=5, text="also tiny"),
            ]
        )

    def test_matches_jaccard_pairs_on_shared_candidates(self, spark):
        from pyspark.sql import Row

        from symtseries_spark.operators import jaccard_pairs, jaccard_refine

        docs = self._docs(spark)
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_pairs(docs, k=3, threshold=0.2).collect()
        }
        cand = spark.createDataFrame(
            [Row(doc_a=1, doc_b=2), Row(doc_a=1, doc_b=3)]
        )
        refined = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_refine(cand, docs, k=3, threshold=0.2).collect()
        }
        assert refined == {(1, 2): exact[(1, 2)]}

    def test_empty_shingle_pair_dropped(self, spark):
        from pyspark.sql import Row

        from symtseries_spark.operators import jaccard_refine

        cand = spark.createDataFrame([Row(doc_a=4, doc_b=5)])
        out = jaccard_refine(
            cand, self._docs(spark), k=3, threshold=0.0
        ).collect()
        assert out == []

    def test_custom_column_names(self, spark):
        from pyspark.sql import Row

        from symtseries_spark.operators import jaccard_refine

        docs = self._docs(spark).withColumnRenamed("doc_id", "id").withColumnRenamed(
            "text", "body"
        )
        cand = spark.createDataFrame([Row(left_id=1, right_id=2)])
        [r] = jaccard_refine(
            cand, docs, k=3, threshold=0.2, id_col="id", text_col="body",
            pair_a="left_id", pair_b="right_id",
        ).collect()
        assert r.left_id == 1 and r.right_id == 2 and r.jaccard > 0.2


class TestKeySkew:
    def test_uniform_keys_gini_zero(self, spark):
        from symtseries_spark.operators.pipeline import key_skew

        rows = [(k, i) for k in range(10) for i in range(5)]
        df = spark.createDataFrame(rows, "k long, i long")
        r = key_skew(df, key="k").collect()[0]
        assert r.n_keys == 10 and r.total_rows == 50
        assert r.max_share == pytest.approx(0.1, abs=1e-6)
        assert r.gini == pytest.approx(0.0, abs=1e-6)

    def test_dominant_key_detected(self, spark):
        from symtseries_spark.operators.pipeline import key_skew

        rows = [(0, i) for i in range(90)] + [(k, 0) for k in range(1, 11)]
        df = spark.createDataFrame(rows, "k long, i long")
        r = key_skew(df, key="k", top_n=1).collect()[0]
        assert r.max_share == pytest.approx(0.9, abs=1e-6)
        assert r.top1_share == pytest.approx(0.9, abs=1e-6)
        assert r.gini > 0.7  # heavily skewed

    def test_guard(self, spark):
        from symtseries_spark.operators.pipeline import key_skew

        df = spark.createDataFrame([(1, 1)], "k long, i long")
        with pytest.raises(ValueError):
            key_skew(df, key="k", top_n=0)


def test_source_length_ks_matches_python_reference(spark, sf_dir):
    """docs_source_length_ks equals the brute-force two-sample KS
    statistic (each source vs the whole corpus) computed in pure
    Python over the same rows."""
    import __spark_entry__ as entry

    got = {
        r["source"]: (r["n_docs"], r["ks_stat"])
        for r in entry.queries()["docs_source_length_ks"](
            spark, sf_dir
        ).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source", "n_chars")
        .collect()
    )
    all_lens = sorted(r["n_chars"] for r in rows if r["n_chars"] is not None)
    n = len(all_lens)
    by_src = {}
    for r in rows:
        if r["n_chars"] is not None:
            by_src.setdefault(r["source"], []).append(r["n_chars"])
    import bisect

    for src, lens in by_src.items():
        lens.sort()
        ks = max(
            abs(
                bisect.bisect_right(lens, v) / len(lens)
                - bisect.bisect_right(all_lens, v) / n
            )
            for v in all_lens
        )
        exp = __import__("math").floor(ks * 1e6 + 0.5) / 1e6
        assert got[src][0] == len(lens)
        assert abs(got[src][1] - exp) < 1e-9, (src, got[src][1], exp)


class TestHotNgramCoverage:
    def test_hand_computed(self, spark):
        from symtseries_spark.operators.dedup import hot_ngram_coverage

        docs = spark.createDataFrame(
            [
                (1, "a b c"),   # bigrams {a b, b c}
                (2, "a b d"),   # bigrams {a b, b d}
                (3, "x y"),     # bigrams {x y}
                (4, "z"),       # < k tokens -> no grams
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in hot_ngram_coverage(docs, k=2, min_df=2).collect()
        }
        # only "a b" reaches df >= 2
        assert (rows[1]["n_grams"], rows[1]["n_hot"]) == (2, 1)
        assert rows[1]["hot_cov"] == 0.5
        assert (rows[2]["n_grams"], rows[2]["n_hot"]) == (2, 1)
        assert (rows[3]["n_grams"], rows[3]["n_hot"]) == (1, 0)
        assert rows[3]["hot_cov"] == 0.0
        assert (rows[4]["n_grams"], rows[4]["n_hot"]) == (4 * 0, 0)
        assert rows[4]["hot_cov"] == 0.0

    def test_distinct_grams_counted_once(self, spark):
        """A gram repeated WITHIN one doc counts once for df and once
        for that doc's totals (distinct-per-doc spine)."""
        from symtseries_spark.operators.dedup import hot_ngram_coverage

        docs = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "c d")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in hot_ngram_coverage(docs, k=2, min_df=2).collect()
        }
        # doc 1 bigram positions: a b, b a, a b, b a, a b -> distinct
        # {a b, b a}; neither reaches df 2 across docs
        assert (rows[1]["n_grams"], rows[1]["n_hot"]) == (2, 0)

    def test_min_df_monotone(self, spark, sf_dir):
        from symtseries_spark.operators.dedup import hot_ngram_coverage
        from symtseries_spark.sources import load

        docs = load(spark, sf_dir, "documents").limit(200)
        lo = hot_ngram_coverage(docs, k=3, min_df=2).collect()
        hi = hot_ngram_coverage(docs, k=3, min_df=4).collect()
        lo_m = {r["doc_id"]: r["n_hot"] for r in lo}
        for r in hi:
            assert r["n_hot"] <= lo_m[r["doc_id"]]


class TestDedupKeepQuality:
    def test_one_keeper_per_cluster_and_quality_dominates(self, spark, sf_dir):
        import __spark_entry__ as entry_mod

        kq = entry_mod.q_dedup_keep_quality(spark, sf_dir).collect()
        k_minid = entry_mod.q_dedup_keep(spark, sf_dir).collect()
        # one keeper per cluster, same cluster count as the min-id keep
        assert len(kq) == len(k_minid)
        assert len({r["cluster_id"] for r in kq}) == len(kq)
        assert len({r["doc_id"] for r in kq}) == len(kq)
        # the quality pick never keeps a WORSE doc than the min-id pick:
        # recompute every member's score and check per-cluster argmax
        from pyspark.sql import functions as F

        from symtseries_spark.functions.text import quality_metrics
        from symtseries_spark.operators.dedup import minhash_lsh_pairs
        from symtseries_spark.operators.graph import connected_components
        from symtseries_spark.sources import load

        docs = load(spark, sf_dir, "documents")
        pairs = minhash_lsh_pairs(docs, **entry_mod.MINHASH).select(
            "doc_a", "doc_b"
        )
        cc = connected_components(
            pairs, docs.select(F.col("doc_id").alias("v")),
            src="doc_a", dst="doc_b",
        )
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
            ).alias("qs"),
        )
        best = {
            r["canonical_id"]: (r["mx"], r["argmin_id"])
            for r in cc.join(q, "v")
            .groupBy("canonical_id")
            .agg(
                F.max("qs").alias("mx"),
                F.min_by("v", F.struct((F.lit(0.0) - F.col("qs")), F.col("v"))).alias("argmin_id"),
            )
            .collect()
        }
        for r in kq:
            mx, argmin_id = best[r["cluster_id"]]
            assert r["q_score"] == mx
            assert r["doc_id"] == argmin_id


class TestBpeMerges:
    def test_sennrich_style_hand_case(self, spark):
        from symtseries_spark.operators.pipeline import bpe_merges

        docs = spark.createDataFrame(
            [(1, "low low low"), (2, "lower lower"), (3, "newest")],
            "doc_id long, text string",
        )
        rows = [
            (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"],
             r["pair_count"])
            for r in bpe_merges(docs, n_merges=4).collect()
        ]
        # (l,o) and (o,w) tie at 5 -> lexicographic min wins
        assert rows == [
            (1, "l", "o", "lo", 5),
            (2, "lo", "w", "low", 5),
            (3, "e", "r", "er", 2),
            (4, "low", "er", "lower", 2),
        ]

    def test_same_symbol_greedy(self, spark):
        from symtseries_spark.operators.pipeline import bpe_merges

        docs = spark.createDataFrame(
            [(1, "aaaa aaaa")], "doc_id long, text string"
        )
        rows = [
            (r["merge_rank"], r["merged"], r["pair_count"])
            for r in bpe_merges(docs, n_merges=2).collect()
        ]
        # 'a a a a': 3 adjacent (a,a) pairs x 2 words; greedy apply
        # yields 'aa aa', then one (aa,aa) pair x 2 words
        assert rows == [(1, "aa", 6), (2, "aaaa", 2)]

    def test_stops_when_no_pairs_left(self, spark):
        from symtseries_spark.operators.pipeline import bpe_merges

        docs = spark.createDataFrame(
            [(1, "ab ab")], "doc_id long, text string"
        )
        rows = bpe_merges(docs, n_merges=5).collect()
        assert [(r["merge_rank"], r["merged"]) for r in rows] == [(1, "ab")]


class TestBpeApplyStats:
    def test_hand_computed(self, spark):
        from symtseries_spark.operators.pipeline import bpe_apply_stats

        docs = spark.createDataFrame(
            [(1, "low lower"), (2, ""), (3, "ab")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in bpe_apply_stats(
                docs, merges=[("l", "o"), ("lo", "w")]
            ).collect()
        }
        # doc 1: 'low' -> [low] (1 sym), 'lower' -> [low, e, r] (3)
        assert rows[1]["n_tokens"] == 2
        assert rows[1]["n_base_symbols"] == 8
        assert rows[1]["n_symbols"] == 4
        assert rows[1]["compression"] == 2.0
        # empty doc: zeros, compression 0.0
        assert (rows[2]["n_tokens"], rows[2]["n_symbols"]) == (0, 0)
        assert rows[2]["compression"] == 0.0
        # untouched token: compression 1.0
        assert rows[3]["compression"] == 1.0

    def test_compression_monotone_in_merges(self, spark, sf_dir):
        from symtseries_spark.operators.pipeline import (
            bpe_apply_stats,
            bpe_merges,
        )
        from symtseries_spark.sources import load

        docs = load(spark, sf_dir, "documents").limit(100)
        ms = [
            (r["left_sym"], r["right_sym"])
            for r in bpe_merges(docs, n_merges=4).collect()
        ]
        a = {r["doc_id"]: r["n_symbols"]
             for r in bpe_apply_stats(docs, merges=ms[:2]).collect()}
        b = {r["doc_id"]: r["n_symbols"]
             for r in bpe_apply_stats(docs, merges=ms).collect()}
        assert all(b[d] <= a[d] for d in a)


class TestBpeProperties:
    def test_merge_counts_non_increasing(self, spark, sf_dir):
        """Classic BPE invariant: a merge (a,b)->ab only creates pairs
        (x,ab) / (ab,y) whose counts are bounded by the pre-existing
        (x,a) / (b,y) counts, which were <= the chosen max — so the
        selected pair count can never increase across ranks."""
        from symtseries_spark.operators.pipeline import bpe_merges
        from symtseries_spark.sources import load

        docs = load(spark, sf_dir, "documents").limit(200)
        counts = [
            r["pair_count"]
            for r in sorted(
                bpe_merges(docs, n_merges=6).collect(),
                key=lambda r: r["merge_rank"],
            )
        ]
        assert counts == sorted(counts, reverse=True)

    def test_merged_symbol_reconstructs_word_chars(self, spark):
        """Applying ALL merges of a single-word corpus collapses the
        word to one symbol equal to the word itself."""
        from symtseries_spark.operators.pipeline import (
            bpe_apply_stats,
            bpe_merges,
        )

        docs = spark.createDataFrame(
            [(1, "spark spark spark")], "doc_id long, text string"
        )
        ms = [
            (r["left_sym"], r["right_sym"])
            for r in bpe_merges(docs, n_merges=4).collect()
        ]
        row = bpe_apply_stats(docs, merges=ms).collect()[0]
        assert row["n_symbols"] == 3  # one symbol per 'spark'
        assert row["n_base_symbols"] == 15
        assert row["compression"] == 5.0


class TestSpanDedup:
    def test_first_occurrence_survives(self, spark):
        from symtseries_spark.operators.dedup import span_dedup

        docs = spark.createDataFrame(
            [
                (1, "a b c d"),        # spans: 'a b', 'c d'
                (2, "a b x y"),        # 'a b' duplicates doc1 pos0
                (3, "c d"),            # duplicates doc1 pos1
                (4, ""),               # no spans
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r for r in span_dedup(docs, span_tokens=2).collect()
        }
        assert (rows[1]["n_spans"], rows[1]["n_dropped"]) == (2, 0)
        assert rows[1]["clean_text"] == "a b c d"
        assert (rows[2]["n_spans"], rows[2]["n_dropped"]) == (2, 1)
        assert rows[2]["clean_text"] == "x y"
        assert (rows[3]["n_spans"], rows[3]["n_dropped"]) == (1, 1)
        assert rows[3]["clean_text"] == ""
        assert (rows[4]["n_spans"], rows[4]["n_dropped"]) == (0, 0)

    def test_within_doc_repeats_dropped(self, spark):
        from symtseries_spark.operators.dedup import span_dedup

        docs = spark.createDataFrame(
            [(1, "p q p q p q")], "doc_id long, text string"
        )
        r = span_dedup(docs, span_tokens=2).collect()[0]
        # three identical 'p q' spans; position 0 survives
        assert (r["n_spans"], r["n_dropped"]) == (3, 2)
        assert r["clean_text"] == "p q"

    def test_trailing_partial_span(self, spark):
        from symtseries_spark.operators.dedup import span_dedup

        docs = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        r = span_dedup(docs, span_tokens=2).collect()[0]
        assert r["n_spans"] == 2  # 'a b' + trailing 'c'
        assert r["clean_text"] == "a b c"


class TestGopherRepetition:
    def test_hand_computed_fixtures(self, spark):
        from symtseries_spark.operators.retrieval import gopher_repetition

        docs = spark.createDataFrame(
            [
                (1, "a b a b a b c"),
                (2, "x y z w v u t s r q"),
                (3, "one"),
                (4, ""),
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in gopher_repetition(
                docs, top_ns=(2, 3), dup_ns=(2,)
            ).collect()
        }
        # doc 1: "a b" tf=3, 2 word-chars -> 6/7; 3-gram tie breaks to
        # "a b a" (tf=2, 3 chars) -> 6/7; dup 2-gram positions 5/6
        assert rows[1]["top2_frac"] == round(6 / 7, 6)
        assert rows[1]["top3_frac"] == round(6 / 7, 6)
        assert rows[1]["dup2_frac"] == round(5 / 6, 6)
        # doc 2: no repeats -> top mass = one gram's chars
        assert rows[2]["top2_frac"] == 0.2
        assert rows[2]["top3_frac"] == 0.3
        assert rows[2]["dup2_frac"] == 0.0
        # doc 3: one token, no n-grams -> zeros, still reported
        assert rows[3]["top2_frac"] == 0.0 and rows[3]["dup2_frac"] == 0.0
        # doc 4: zero chars -> dropped
        assert 4 not in rows

    def test_oracle_parity_on_fixtures(self, spark):
        import duckdb
        import pandas as pd

        from symtseries_spark.operators.retrieval import gopher_repetition
        from symtseries_spark.oracle_text import gopher_repetition_sql

        texts = [
            "a b a b a b c",
            "x y z w v u t s r q",
            "one",
            "spam spam spam spam spam",
            "the quick brown fox the quick brown fox jumps",
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )
        got = (
            gopher_repetition(docs)
            .orderBy("doc_id")
            .toPandas()
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(
                {"doc_id": range(len(texts)), "text": texts}
            ),
        )
        exp = (
            con.execute(gopher_repetition_sql())
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert list(got.columns) == list(exp.columns)
        for c in got.columns:
            assert [float(x) for x in got[c]] == [
                float(x) for x in exp[c]
            ], c

    def test_validation(self, spark):
        import pytest as _pytest

        from symtseries_spark.operators.retrieval import gopher_repetition

        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            gopher_repetition(docs, top_ns=(1,), dup_ns=())


class TestWeightedSampleES:
    def test_weight_proportional_inclusion(self, spark):
        # statistical sanity via the EXACT mechanism: with two weight
        # classes 9:1, the heavy class should dominate the sample; the
        # draw is deterministic so this is a fixed fact, not flaky
        from symtseries_spark.operators.pipeline import weighted_sample_es

        rows = [(i, "g", 90.0 if i < 50 else 10.0) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, g string, w double")
        got = weighted_sample_es(df, k=20, weight_col="w", by="g").collect()
        assert len(got) == 20
        heavy = sum(1 for r in got if r["doc_id"] < 50)
        assert heavy >= 14  # expectation ~18 of 20

    def test_deterministic_and_rank_contract(self, spark):
        from symtseries_spark.operators.pipeline import weighted_sample_es

        rows = [(i, "a" if i % 2 else "b", float(i + 1)) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, g string, w double")
        a = weighted_sample_es(df, k=3, weight_col="w", by="g").collect()
        b = weighted_sample_es(df, k=3, weight_col="w", by="g").collect()
        key = lambda r: (r["g"], r["sample_rank"])
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        per_g = {}
        for r in a:
            per_g.setdefault(r["g"], []).append(r["sample_rank"])
        assert all(sorted(v) == [1, 2, 3] for v in per_g.values())

    def test_global_topk_and_validation(self, spark):
        import pytest as _pytest

        from symtseries_spark.operators.pipeline import weighted_sample_es

        df = spark.createDataFrame(
            [(i, float(i + 1)) for i in range(30)], "doc_id long, w double"
        )
        got = weighted_sample_es(df, k=5, weight_col="w").collect()
        assert sorted(r["sample_rank"] for r in got) == [1, 2, 3, 4, 5]
        # zero/negative weights are excluded
        df0 = spark.createDataFrame(
            [(1, 0.0), (2, -3.0), (3, 2.0)], "doc_id long, w double"
        )
        got0 = weighted_sample_es(df0, k=5, weight_col="w").collect()
        assert [r["doc_id"] for r in got0] == [3]
        with _pytest.raises(ValueError):
            weighted_sample_es(df, k=0, weight_col="w")


class TestSnapshotDiff:
    def test_all_four_statuses(self, spark):
        from symtseries_spark.operators.pipeline import snapshot_diff

        old = spark.createDataFrame(
            [(1, "same"), (2, "was this"), (3, "gone soon")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, "same"), (2, "now this"), (4, "brand new")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["status"]
            for r in snapshot_diff(old, new).collect()
        }
        assert got == {
            1: "unchanged", 2: "modified", 3: "removed", 4: "added"
        }


class TestDupSourceMatrix:
    def test_hand_computed(self, spark):
        from symtseries_spark.operators.dedup import dup_source_matrix

        docs = spark.createDataFrame(
            [
                (1, "same text", "a"),
                (2, "same text", "a"),   # within-a pair
                (3, "same text", "b"),   # crosses a-b twice (docs 1, 2)
                (4, "other text", "b"),
                (5, "other text", "c"),  # crosses b-c once
                (6, "unique here", "c"),
            ],
            "doc_id long, text string, source string",
        )
        got = {
            (r["source_a"], r["source_b"]): r["dup_pairs"]
            for r in dup_source_matrix(docs).collect()
        }
        assert got == {("a", "a"): 1, ("a", "b"): 2, ("b", "c"): 1}


class TestFrameDedup:
    def test_identical_and_perturbed_payloads(self, spark):
        import pytest as _pytest

        from symtseries_spark.operators.multimodal import (
            frame_dedup_pairs,
            media_from_documents,
        )

        base = "".join(f"w{i:02d} " for i in range(64)).strip()  # 255 chars
        docs = spark.createDataFrame(
            [
                (1, base),
                (2, base),                    # identical: all frames match
                (3, "!" + base[1:]),          # twin: '!' < the next
                                              # byte flips frame 0's
                                              # first gradient bit
                (4, "x" * 255),               # unrelated constant bytes
            ],
            "doc_id long, text string",
        )
        media = media_from_documents(docs)
        got = {
            (r["media_a"], r["media_b"]): (
                r["n_matched"], r["n_frames_a"], r["n_frames_b"]
            )
            for r in frame_dedup_pairs(
                media, frame_size=64, every_n=1, max_hamming=0
            ).collect()
        }
        # 255 chars -> frames 0..3 (last is 63 bytes)
        assert got[(1, 2)] == (4, 4, 4)
        assert got[(1, 3)] == (3, 4, 4) and got[(2, 3)] == (3, 4, 4)
        assert not any(4 in p for p in got)
        with _pytest.raises(ValueError, match="pigeonhole"):
            frame_dedup_pairs(media, frame_size=64, max_hamming=7)
        with _pytest.raises(ValueError, match="max_bucket"):
            frame_dedup_pairs(
                media, frame_size=64, max_hamming=0, max_bucket=1
            )


class TestLineDedup:
    def test_keep_one_semantics(self, spark):
        from symtseries_spark.operators.dedup import line_dedup

        docs = spark.createDataFrame(
            [
                (1, "alpha\nboiler line\ngamma"),
                (2, "boiler line\ndelta"),          # dup line dropped
                (3, "boiler line"),                 # fully boilerplate
                (4, "\n\nepsilon\n"),               # empties not lines
                (5, ""),                            # no lines at all
                (6, "zeta\nzeta"),                  # within-doc repeat
            ],
            "doc_id long, text string",
        )
        for hashed in (False, True):
            rows = {
                r["doc_id"]: r
                for r in line_dedup(docs, hash_lines=hashed).collect()
            }
            assert rows[1]["clean_text"] == "alpha\nboiler line\ngamma"
            assert (rows[1]["n_lines"], rows[1]["n_dropped"]) == (3, 0)
            assert rows[2]["clean_text"] == "delta"
            assert (rows[2]["n_lines"], rows[2]["n_dropped"]) == (2, 1)
            assert rows[3]["clean_text"] == ""
            assert (rows[3]["n_lines"], rows[3]["n_dropped"]) == (1, 1)
            assert rows[4]["clean_text"] == "epsilon"
            assert (rows[4]["n_lines"], rows[4]["n_dropped"]) == (1, 0)
            assert (rows[5]["n_lines"], rows[5]["n_dropped"]) == (0, 0)
            assert rows[6]["clean_text"] == "zeta"
            assert (rows[6]["n_lines"], rows[6]["n_dropped"]) == (2, 1)

    def test_custom_separator_and_validation(self, spark):
        import pytest as _pytest

        from symtseries_spark.operators.dedup import line_dedup

        docs = spark.createDataFrame(
            [(1, "x | shared | y"), (2, "shared | z")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in line_dedup(docs, sep=" | ").collect()
        }
        assert rows[1]["clean_text"] == "x | shared | y"
        assert rows[2]["clean_text"] == "z"
        with _pytest.raises(ValueError):
            line_dedup(docs, sep="")


class TestExactSubstringStats:
    def test_hand_computed(self, spark):
        from symtseries_spark.operators.dedup import exact_substring_stats

        docs = spark.createDataFrame(
            [
                # "a b c" appears in docs 1 and 2 at DIFFERENT
                # alignments — the case aligned span cuts miss
                (1, "x a b c y"),
                (2, "a b c z w"),
                (3, "p q r s"),
                (4, "m m m m"),  # within-doc repeat: "m m m" twice
                (5, "t u"),      # shorter than the window
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in exact_substring_stats(
                docs, window_tokens=3
            ).collect()
        }
        # doc1 windows: xab, abc, bcy -> abc duplicated (doc2 has it)
        assert (rows[1]["n_windows"], rows[1]["n_dup_windows"]) == (3, 1)
        assert (rows[2]["n_windows"], rows[2]["n_dup_windows"]) == (3, 1)
        assert (rows[3]["n_windows"], rows[3]["n_dup_windows"]) == (2, 0)
        # doc4: "m m m" at starts 1 and 2 -> both positions duplicated
        assert (rows[4]["n_windows"], rows[4]["n_dup_windows"]) == (2, 2)
        assert rows[4]["dup_frac"] == 1.0
        # doc5: zero windows, still reported
        assert (rows[5]["n_windows"], rows[5]["n_dup_windows"]) == (0, 0)
        assert rows[5]["dup_frac"] == 0.0

    def test_dedup_hand_computed(self, spark):
        # the REMOVAL twin: duplicated windows keep their first
        # (doc_id, pos) occurrence; covered tokens are cut elsewhere
        from symtseries_spark.operators.dedup import exact_substring_dedup

        docs = spark.createDataFrame(
            [
                (1, "x a b c y"),   # first occurrence of "a b c": kept
                (2, "a b c z w"),   # non-canonical: a, b, c cut
                (3, "p q r s"),     # no dups: untouched
                (4, "m m m m"),     # "m m m" at 1 (canonical) and 2:
                                    # cut covers tokens 2-4
                (5, "t u"),         # shorter than the window: untouched
            ],
            "doc_id long, text string",
        )
        for hashed in (False, True):
            rows = {
                r["doc_id"]: r
                for r in exact_substring_dedup(
                    docs, window_tokens=3, hash_windows=hashed
                ).collect()
            }
            assert rows[1]["clean_text"] == "x a b c y"
            assert (rows[1]["n_tokens"], rows[1]["n_removed"]) == (5, 0)
            assert rows[2]["clean_text"] == "z w"
            assert (rows[2]["n_tokens"], rows[2]["n_removed"]) == (5, 3)
            assert rows[3]["clean_text"] == "p q r s"
            assert rows[4]["clean_text"] == "m"
            assert (rows[4]["n_tokens"], rows[4]["n_removed"]) == (4, 3)
            assert rows[5]["clean_text"] == "t u"
            assert rows[5]["n_removed"] == 0

    def test_dedup_kills_measured_duplication(self, spark):
        # closed-form invariant tying the pair: re-measuring dup_frac
        # on the CLEANED corpus finds strictly less duplication, and a
        # corpus with dup_frac == 0 everywhere passes through unchanged
        from symtseries_spark.operators.dedup import (
            exact_substring_dedup,
            exact_substring_stats,
        )

        boiler = "the quick brown fox jumps over the lazy dog"
        docs = spark.createDataFrame(
            [
                (1, f"alpha beta {boiler} gamma"),
                (2, f"delta {boiler} epsilon zeta"),
                (3, f"{boiler} eta theta iota"),
                (4, "unique text one two three four five six seven"),
            ],
            "doc_id long, text string",
        )
        before = {
            r["doc_id"]: r["n_dup_windows"]
            for r in exact_substring_stats(docs, window_tokens=5).collect()
        }
        cleaned = exact_substring_dedup(docs, window_tokens=5).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        after = {
            r["doc_id"]: r["n_dup_windows"]
            for r in exact_substring_stats(
                cleaned, window_tokens=5
            ).collect()
        }
        assert sum(after.values()) < sum(before.values())
        assert before[4] == 0 and after[4] == 0
        clean4 = {
            r["doc_id"]: r
            for r in exact_substring_dedup(docs, window_tokens=5).collect()
        }[4]
        assert clean4["n_removed"] == 0

    def test_oracle_parity(self, spark):
        import duckdb
        import pandas as pd

        from symtseries_spark.operators.dedup import exact_substring_stats
        from symtseries_spark.oracle_text import exact_substring_sql

        texts = ["x a b c y", "a b c z w", "p q r s", "m m m m", "t u"]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )
        got = (
            exact_substring_stats(docs, window_tokens=3)
            .orderBy("doc_id")
            .toPandas()
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        )
        exp = (
            con.execute(exact_substring_sql(window_tokens=3))
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        for c in got.columns:
            assert [float(x) for x in got[c]] == [
                float(x) for x in exp[c]
            ], c
