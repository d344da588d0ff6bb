"""Spark expression kernels vs golden vectors and the pykernel twin.

The Spark kernels must reproduce the pure-Python reference exactly
(letters are discrete, so equality is exact; distances compare at 1e-5
per the reference's own tolerance, lua/test.lua:18).
"""

import itertools
import math
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

from symtseries_spark import pykernel as pk
from symtseries_spark.functions import (
    sax_encode,
    sax_format,
    sax_letters,
    sax_mindist_parts,
    sax_parse,
)
from tests.test_pykernel_golden import ENCODE_GOLDENS

NAN = float("nan")
INF = float("inf")


def _encode_df(spark, cases):
    schema = StructType(
        [
            StructField("case_id", StringType()),
            StructField("series", ArrayType(DoubleType())),
        ]
    )
    return spark.createDataFrame(
        [(cid, [float(v) for v in series]) for cid, series in cases], schema
    )


@pytest.mark.parametrize("case_id,series,w,c,expected", ENCODE_GOLDENS, ids=[g[0] for g in ENCODE_GOLDENS])
def test_spark_encode_goldens(spark, case_id, series, w, c, expected):
    df = _encode_df(spark, [(case_id, series)])
    got = df.select(sax_encode(F.col("series"), w, c).alias("sax")).collect()[0]["sax"]
    assert got == expected


def test_spark_encode_random_matches_pykernel(spark):
    rng = random.Random(7)
    cases = []
    for i in range(200):
        n = rng.choice([4, 8, 12, 16, 24, 60])
        vals = []
        for _ in range(n):
            r = rng.random()
            if r < 0.05:
                vals.append(NAN)
            elif r < 0.08:
                vals.append(INF if rng.random() < 0.5 else -INF)
            else:
                vals.append(rng.uniform(-100, 100))
        cases.append((f"case{i}", vals))

    for w, c in [(2, 4), (4, 8), (2, 16), (4, 3)]:
        usable = [(cid, v) for cid, v in cases if len(v) % w == 0]
        df = _encode_df(spark, usable)
        rows = df.select("case_id", sax_encode(F.col("series"), w, c).alias("sax")).collect()
        by_id = dict(usable)
        for r in rows:
            expected = pk.encode(by_id[r["case_id"]], w, c)
            assert r["sax"] == expected, (r["case_id"], w, c, r["sax"], expected)


def test_spark_encode_invalid_length_is_null(spark):
    df = _encode_df(spark, [("bad", [1.0, 2.0, 3.0]), ("empty", [])])
    rows = {r["case_id"]: r["sax"] for r in df.select("case_id", sax_encode(F.col("series"), 2, 4).alias("sax")).collect()}
    assert rows["bad"] is None
    assert rows["empty"] is None


def test_spark_parse_format_roundtrip(spark):
    words = ["HAED", "##AB", "ABCD", "####", "AAAA", "HHHH"]
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    got = df.select(
        "word",
        sax_format(sax_parse(F.col("word"), 8), 8).alias("rt"),
        sax_parse(F.col("word"), 8).alias("idx"),
    ).collect()
    for r in got:
        assert r["rt"] == r["word"]
        assert r["idx"] == pk.parse(r["word"], 8)


def test_spark_parse_invalid_letter_gives_null_element(spark):
    df = spark.createDataFrame([("AZ",)], ["word"])
    idx = df.select(sax_parse(F.col("word"), 4).alias("i")).collect()[0]["i"]
    assert idx[0] == 0 and idx[1] is None


def test_spark_parse_strict_rejects_whole_word(spark):
    """strict=True mirrors the reference's all-or-nothing parse
    (src/symtseries.c:534-554): any invalid letter -> NULL word, and the
    invalid-word rows from lua/test.lua:78-90 all come back NULL."""
    from symtseries_spark.functions import sax_parse_valid

    # (word, c) rows from the reference invalid-arg table that are DATA
    # conditions (bad letters / case / emptiness), plus valid controls
    rows = [
        ("AAABF", 5, False),  # F out of range for c=5 (lua/test.lua:86)
        ("aaabc", 5, False),  # lowercase rejected (lua/test.lua:87)
        ("", 5, False),       # empty word rejected (lua/test.lua:85)
        ("AABBC", 5, True),
        ("##A#", 5, True),    # '#' always valid
        (None, 5, None),      # NULL = missing, not invalid
    ]
    df = spark.createDataFrame(
        [(w,) for w, _, _ in rows], "word string"
    )
    got = df.select(
        "word",
        sax_parse(F.col("word"), 5, strict=True).alias("idx"),
        sax_parse_valid(F.col("word"), 5).alias("ok"),
    ).collect()
    by_word = {r["word"]: r for r in got}
    for w, c, ok in rows:
        r = by_word[w]
        assert r["ok"] == ok, (w, r["ok"])
        if ok:
            assert r["idx"] == pk.parse(w, c)
        else:
            assert r["idx"] is None, (w, r["idx"])


def test_spark_parse_literal_raises_at_plan_time(spark):
    """Cardinality/letter domain errors are PLAN-time errors for literal
    patterns — the reference's sax.word.new argument-error table
    (lua/test.lua:78-90)."""
    import pytest

    from symtseries_spark.functions import sax_parse_literal, sax_parse_valid

    assert sax_parse_literal("AABBC", 5) is not None
    for pattern, c in [("AAABF", 5), ("aaabc", 5), ("", 5),
                       ("AABBC", 1), ("AABBC", 17)]:
        with pytest.raises(ValueError):
            sax_parse_literal(pattern, c)
    for c in (1, 17):
        with pytest.raises(ValueError):
            sax_parse(F.lit("AB"), c)
        with pytest.raises(ValueError):
            sax_parse_valid(F.lit("AB"), c)


MINDIST_CASES = [
    ("ABDD", "DBAA", 4, 4, None),
    ("####", "####", 4, 4, None),
    ("ABCD", "####", 4, 4, None),
    ("CCCCC", "#####", 5, 5, None),
    ("HAED", "AEHD", 4, 8, 12),
    ("FC", "CF", 2, 8, 6),
]


def test_spark_mindist_matches_pykernel(spark):
    rows = []
    for wa, wb, w, c, n in MINDIST_CASES:
        rows.append((wa, wb, w, c, n if n else w))
    schema = "wa string, wb string, w int, c int, n int"
    df = spark.createDataFrame(rows, schema)
    for wa, wb, w, c, n in rows:
        one = spark.createDataFrame([(wa, wb)], "wa string, wb string")
        got = one.select(
            sax_mindist_parts(
                sax_parse(F.col("wa"), c), sax_parse(F.col("wb"), c), c=c, n=n
            ).alias("m")
        ).collect()[0]["m"]
        exp = pk.mindist_parts(pk.parse(wa, c), pk.parse(wb, c), c=c, n_a=n, n_b=n)
        assert got is not None
        for g, e in zip([got["dist"], got["above"], got["below"]], exp):
            assert abs(g - e) < 1e-5, (wa, wb, got, exp)


def test_spark_mindist_random_matches_pykernel(spark):
    rng = random.Random(11)
    for c in (2, 4, 5, 8, 16):
        alphabet = [pk.letter_of(i, c) for i in range(c)] + ["#"]
        pairs = []
        for i in range(100):
            w = rng.choice([2, 4, 8])
            wa = "".join(rng.choice(alphabet) for _ in range(w))
            wb = "".join(rng.choice(alphabet) for _ in range(w))
            pairs.append((wa, wb, w * rng.choice([1, 4])))
        df = spark.createDataFrame(pairs, "wa string, wb string, n int")
        got = df.select(
            "wa",
            "wb",
            "n",
            sax_mindist_parts(
                sax_parse(F.col("wa"), c), sax_parse(F.col("wb"), c), c=c, n=F.col("n")
            ).alias("m"),
        ).collect()
        for r in got:
            exp = pk.mindist_parts(pk.parse(r["wa"], c), pk.parse(r["wb"], c), c=c, n_a=r["n"], n_b=r["n"])
            assert abs(r["m"]["dist"] - exp[0]) < 1e-5
            assert abs(r["m"]["above"] - exp[1]) < 1e-5
            assert abs(r["m"]["below"] - exp[2]) < 1e-5


def test_mindist_lower_bounds_euclidean(spark):
    # the defining property: mindist(a, b) <= ||A - B||2 for z-normalized
    # series (iSAX papers; README.md:27-34)
    rng = random.Random(13)
    for _ in range(50):
        n, w, c = 16, 4, 8
        sa = [rng.uniform(-5, 5) for _ in range(n)]
        sb = [rng.uniform(-5, 5) for _ in range(n)]

        def znorm(s):
            mu, std = pk.mu_std(s)
            return [(x - mu) / std if std >= 1e-2 else 0.0 for x in s]

        za, zb = znorm(sa), znorm(sb)
        true_d = math.sqrt(sum((x - y) ** 2 for x, y in zip(za, zb)))
        d = pk.mindist(pk.encode_indices(sa, w, c), pk.encode_indices(sb, w, c), c=c, n_a=n, n_b=n)
        assert d <= true_d + 1e-9, (d, true_d)


def test_per_row_compatibility_gates(spark):
    """Column-side mirror of the reference's NaN compatibility gates
    (src/symtseries.c:591-609): per-row n conflict and w mismatch yield
    NULL, the 0/NULL wildcard adopts the other side's n, both-wildcard
    means compression 1 — and empty/NULL words parse to NULL instead of
    a fabricated descending-sequence array. Malformed words (NULL,
    empty, short, long, foreign letter) are NULL in the array and
    literal-pattern forms alike, with and without ANSI mode, and
    never raise; topk_nearest's scorable-word predicate keeps exactly
    the rows the pattern form scores."""
    from symtseries_spark.operators import mindist_to_pattern, topk_nearest

    c = 8
    rows = [
        # (wa, wb, n_a, n_b, expect_null)
        ("FC", "FC", 6, 12, True),     # conflicting nonzero n
        ("FC", "FC", 6, 6, False),     # equal n
        ("FC", "FC", 6, 0, False),     # b wildcard -> n=6
        ("FC", "FC", 0, 12, False),    # a wildcard -> n=12
        ("FC", "FC", 0, 0, False),     # both wildcard -> n=w
        ("FC", "FC", 6, None, False),  # NULL == wildcard
        ("FC", "FCA", 6, 6, True),     # w mismatch
    ]
    df = spark.createDataFrame(
        [(i, wa, wb, na, nb) for i, (wa, wb, na, nb, _) in enumerate(rows)],
        "id int, wa string, wb string, na int, nb int",
    )
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            sax_mindist_parts(
                sax_parse(F.col("wa"), c),
                sax_parse(F.col("wb"), c),
                c=c,
                n=F.col("na"),
                n_b=F.col("nb"),
            ).alias("arr"),
        ).collect()
    }
    for i, (wa, wb, na, nb, expect_null) in enumerate(rows):
        r = got[i]
        if expect_null:
            assert r["arr"] is None, (i, r)
        else:
            exp = pk.mindist_parts(
                pk.parse(wa, c), pk.parse(wb, c), c=c,
                n_a=na or 0, n_b=nb or 0,
            )
            assert abs(r["arr"]["dist"] - exp[0]) < 1e-5, (i, r, exp)

    parsed = spark.createDataFrame(
        [("",), (None,), ("FC",)], "w string"
    ).select(sax_parse(F.col("w"), c).alias("p")).collect()
    assert parsed[0]["p"] is None   # empty word -> NULL, not [NULL, NULL]
    assert parsed[1]["p"] is None
    assert parsed[2]["p"] == [5, 2]

    # malformed words against the pattern HHHH (w=4): every form gives
    # NULL dist/above/below; valid words match pykernel bit for bit, for
    # n as an int, a column name, the 0 wildcard and None
    pattern = "HHHH"
    words = [None, "", "AAA", "AAAAH", "AAAZ", "AAAI", "AAAa", "AAA\u00e9", "AAAA", "AAA#"]
    valid = {"AAAA", "AAA#"}
    wdf = spark.createDataFrame(
        [(i, x, 32) for i, x in enumerate(words)], "id int, wa string, n int"
    )
    prior = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi, n in itertools.product(("true", "false"), (32, "n", 0, None)):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            n_col = F.col("n") if n == "n" else n
            out = mindist_to_pattern(wdf, pattern, c=c, word_col="wa", n=n).select(
                "id",
                "wa",
                F.struct(
                    F.col("mindist").alias("dist"),
                    F.col("mindist_above").alias("above"),
                    F.col("mindist_below").alias("below"),
                ).alias("pat"),
                sax_mindist_parts(
                    sax_parse(F.col("wa"), c), sax_parse(F.lit(pattern), c), c=c, n=n_col
                ).alias("arr"),
            ).collect()
            assert len(out) == len(words)
            for r in out:
                for form in ("pat", "arr"):
                    m = r[form]
                    got = (None,) * 3 if m is None else (m["dist"], m["above"], m["below"])
                    if r["wa"] in valid:
                        exp = pk.mindist_parts(
                            pk.parse(r["wa"], c), pk.parse(pattern, c), c=c,
                            n_a=32 if n == "n" else n or 0,
                        )
                        assert got == exp, (ansi, n, form, r)
                    else:
                        assert got == (None,) * 3, (ansi, n, form, r)
            top = topk_nearest(wdf, pattern, c=c, k=len(words), word_col="wa", n=n,
                               tiebreakers=["id"])
            scored = {r["id"] for r in out if r["pat"]["dist"] is not None}
            assert {r["id"] for r in top.collect()} == scored, (ansi, n)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


@pytest.mark.parametrize("form", ["unrolled", "fold"])
def test_zeuclidean_forms_match_python_fold(spark, form):
    """Both forms of ``sax_zeuclidean``, one n on each side of
    ``UNROLL_MAX``, equal a Python left-to-right fold bit for bit under
    ANSI on and off: positions non-finite on either side add 0, and a
    NULL side, a length mismatch or a size other than ``n`` give NULL.
    At n <= UNROLL_MAX the plan holds no higher-order function."""
    from pyspark.sql import functions as F

    from symtseries_spark.functions.sax import UNROLL_MAX, sax_zeuclidean

    n = UNROLL_MAX if form == "unrolled" else UNROLL_MAX + 1
    rng = random.Random(n)

    def vec(k):
        return [rng.uniform(-3.0, 3.0) for _ in range(k)]

    dirty_a, dirty_b = vec(n), vec(n)
    dirty_a[0], dirty_b[1], dirty_a[2], dirty_b[2] = float("nan"), float("inf"), float("-inf"), float("nan")
    dirty_a[n - 1] = float("inf")
    rows = [
        (vec(n), vec(n)),
        (dirty_a, dirty_b),
        ([0.0] * n, [0.0] * n),
        (None, vec(n)),
        (vec(n), None),
        (vec(n), vec(n - 1)),      # length mismatch
        (vec(n - 1), vec(n - 1)),  # equal sizes, not n
        (vec(n + 1), vec(n + 1)),
    ]

    def fold(za, zb):
        if za is None or zb is None or len(za) != n or len(zb) != n:
            return None
        acc = 0.0
        for x, y in zip(za, zb):
            if math.isfinite(x) and math.isfinite(y):
                acc += (x - y) * (x - y)
        return math.sqrt(acc)

    df = spark.createDataFrame(rows, "za array<double>, zb array<double>")
    query = df.select(sax_zeuclidean(F.col("za"), F.col("zb"), n).alias("d"))
    plan = query._jdf.queryExecution().optimizedPlan().toString()
    assert ("zip_with" in plan or "aggregate" in plan) == (form == "fold"), plan
    prior = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            got = [r["d"] for r in query.collect()]
            assert got == [fold(za, zb) for za, zb in rows], ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_one_pair_table_and_one_letter_rule():
    """Under ``functions/`` and ``operators/``, the MINDIST table is read
    only by the pair-table builder and the breakpoints only by the letter
    rule: every distance form and every encoder goes through those two.
    The pair table has two builders of MINDIST on top of it: one
    unrolled form (the SQL renderer) and one array form."""
    import ast
    import pathlib

    import symtseries_spark

    owners = {"MINDIST_LUT": {"_contrib_const"}, "BREAKPOINTS": {"frame_letter_index"}}
    root = pathlib.Path(symtseries_spark.__file__).parent
    readers: dict[str, set[str]] = {name: set() for name in owners}
    table_callers: set[str] = set()

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = node.name
        name = (
            node.id if isinstance(node, ast.Name)
            else node.attr if isinstance(node, ast.Attribute)
            else None
        )
        if name in owners:
            readers[name].add(scope or "<module>")
        if isinstance(node, ast.Call):
            func = node.func
            if getattr(func, "id", getattr(func, "attr", None)) == "_contrib_const":
                table_callers.add(scope or "<module>")
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    for sub in ("functions", "operators"):
        for path in sorted((root / sub).glob("*.py")):
            visit(ast.parse(path.read_text()), None)
    assert readers == owners
    assert table_callers == {"_mindist_sums", "sax_mindist_parts"}
