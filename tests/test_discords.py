"""Tests for operators/search.py:discords (HOT-SAX discord discovery)."""

import math
import random

import pytest

from symtseries_spark.operators.search import discords

N, W, C = 8, 4, 4


def _mk(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts long, value double")


@pytest.fixture(scope="module")
def planted(spark):
    """One series: 7 repeats of a gentle ramp pattern, one window of a
    violent spike shape planted in the middle (window_id 3)."""
    base = [1.0, 2.0, 3.0, 4.0, 4.0, 3.0, 2.0, 1.0]
    spike = [1.0, 2.0, 50.0, -40.0, 30.0, -20.0, 2.0, 1.0]
    vals = base * 3 + spike + base * 3
    return _mk(spark, [(1, i, v) for i, v in enumerate(vals)])


class TestDiscords:
    def test_planted_anomaly_is_top_discord(self, planted):
        rows = discords(
            planted, key="user_id", order="ts", value="value",
            n=N, w=W, c=C, rare_words=4, top=3,
        ).collect()
        assert rows, "expected at least one discord"
        assert rows[0]["window_id"] == 3
        assert rows[0]["nn_dist"] > rows[-1]["nn_dist"] or len(rows) == 1
        # scores are sorted descending with deterministic tie order
        dists = [r["nn_dist"] for r in rows]
        assert dists == sorted(dists, reverse=True)

    def test_single_window_series_not_reported(self, spark):
        """A series with one full window has no neighbor — excluded."""
        df = _mk(
            spark,
            [(1, i, float(i)) for i in range(N)]      # exactly 1 window
            + [(2, i, float(i % 3)) for i in range(3 * N)],
        )
        rows = discords(
            df, key="user_id", order="ts", value="value",
            n=N, w=W, c=C, rare_words=8, top=10,
        ).collect()
        assert all(r["series_key"] == 2 for r in rows)

    def test_nn_distance_value(self, spark):
        """Two identical windows + one offset window: the offset
        window's NN distance is exactly sqrt(n * offset^2)."""
        a = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
        off = [v + 10.0 for v in a]
        df = _mk(spark, [(1, i, v) for i, v in enumerate(a + a + off)])
        rows = discords(
            df, key="user_id", order="ts", value="value",
            n=N, w=W, c=C, rare_words=8, top=3,
        ).collect()
        by_win = {r["window_id"]: r for r in rows}
        assert by_win[2]["nn_dist"] == pytest.approx(
            (N * 100.0) ** 0.5, abs=1e-6
        )
        # the twin windows' NN distance is 0 (each other)
        for wid in (0, 1):
            if wid in by_win:
                assert by_win[wid]["nn_dist"] == 0.0


    def test_non_finite_windows_are_dropped(self, spark):
        """A window holding a NULL or +Inf value is neither a candidate
        nor a neighbor: with every word a candidate, the output is the
        brute-force NN distance over the finite windows alone, and the
        DuckDB oracle states the same rule."""
        import duckdb

        from symtseries_spark.oracle import discords_sql

        rng = random.Random(3)
        rows = []
        for key in (1, 2):
            vals = [round(rng.gauss(0.0, 1.0), 3) for _ in range(6 * N)]
            if key == 1:
                vals[2 * N + 3] = math.inf  # window 2
                vals[4 * N] = None  # window 4
            rows += [(key, i, v) for i, v in enumerate(vals)]

        wins = {}
        for key, ts, v in rows:
            wins.setdefault((key, ts // N), []).append(v)
        finite = {
            kw: vs for kw, vs in wins.items()
            if all(v is not None and math.isfinite(v) for v in vs)
        }
        assert len(finite) == len(wins) - 2

        def d2(a, b):  # the engine's left-to-right fold
            acc = 0.0
            for x, y in zip(a, b):
                acc += (x - y) * (x - y)
            return acc

        expected = sorted(
            (
                key,
                wid,
                math.floor(math.sqrt(min(
                    d2(vs, other) for (k2, w2), other in finite.items()
                    if k2 == key and w2 != wid
                )) * 1e6 + 0.5) / 1e6,
            )
            for (key, wid), vs in finite.items()
        )
        expected.sort(key=lambda r: -r[2])  # stable: ties keep key order

        got = discords(
            _mk(spark, rows), key="user_id", order="ts", value="value",
            n=N, w=W, c=C, rare_words=1000, top=100,
        ).collect()
        assert [(r.series_key, r.window_id, r.nn_dist) for r in got] == expected

        con = duckdb.connect()
        con.execute("CREATE TABLE ev (user_id BIGINT, ts BIGINT, value DOUBLE)")
        con.executemany("INSERT INTO ev VALUES (?, ?, ?)", rows)
        oracle = con.execute(
            discords_sql(N, W, C, rare_words=1000, top=100, table="ev", order="ts")
        ).fetchall()
        assert oracle == [tuple(r) for r in got]
