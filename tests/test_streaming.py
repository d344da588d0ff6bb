"""Streaming parity: the reference's own metamorphic property — feeding a
window value-by-value equals batch encoding (src/symtseries.c:816-850) —
lifted to Structured Streaming: sliding_sax_stream over a file stream
must equal batch sliding_sax over the same rows."""

from __future__ import annotations

import math
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark import pykernel as pk
from symtseries_spark.constants import STAT_EPS
from symtseries_spark.operators import sliding_sax
from symtseries_spark.streaming import sliding_sax_stream
from symtseries_spark.streaming.sliding import _encode_windows

N, W, C = 8, 4, 8


def _random_series() -> np.ndarray:
    rng = np.random.default_rng(42)
    vals = rng.normal(size=200)
    # inject missing/infinite values like the reference's property test
    vals[rng.random(200) < 0.08] = math.nan
    vals[rng.random(200) < 0.04] = math.inf
    vals[rng.random(200) < 0.04] = -math.inf
    return vals


def _alternating(s: float) -> np.ndarray:
    """Frames of -s and +s: population sigma s in every window."""
    return np.tile([-s, -s, s, s], 6)


_NAN, _INF = math.nan, math.inf
# edge inputs of the letter rule; frames are N // W = 2 values wide
ENCODER_SERIES = {
    "random": _random_series,
    "integer": lambda: np.random.default_rng(5).integers(-3, 4, size=60).astype(float),
    "flat": lambda: np.full(20, 2.5),
    "sigma_under_eps": lambda: _alternating(STAT_EPS * (1 - 1e-3)),
    "sigma_over_eps": lambda: _alternating(STAT_EPS * (1 + 1e-3)),
    "nan_frame": lambda: np.array(
        [1.0, 4.0, _NAN, _NAN, -2.0, 0.5, 3.0, -1.0, 2.0, _NAN, _NAN, 0.0, 1.5]
    ),
    "pos_inf_frame": lambda: np.array(
        [1.0, _INF, -2.0, 0.5, 3.0, -1.0, 2.0, _INF, 0.0, 1.5, -0.5, 2.5]
    ),
    "neg_inf_frame": lambda: np.array(
        [1.0, -_INF, -2.0, 0.5, 3.0, -1.0, 2.0, -_INF, 0.0, 1.5, -0.5, 2.5]
    ),
    "both_inf_frame": lambda: np.array(
        [1.0, 2.0, _INF, -_INF, 3.0, -1.0, -_INF, _INF, 0.0, 1.5, _INF, _NAN, -_INF]
    ),
    "finite_in_one_frame": lambda: np.array([_NAN] * 6 + [0.3, -1.7] + [_NAN] * 6),
}


class TestEncodeWindowsKernel:
    @pytest.mark.parametrize("series", list(ENCODER_SERIES))
    def test_matches_pykernel_random(self, series):
        vals = ENCODER_SERIES[series]()
        words = _encode_windows(vals, N, W, C)
        for i, word in enumerate(words):
            window = list(vals[i : i + N])
            assert word == pk.encode(window, W, C), f"window {i}"

    def test_partial_prefix(self):
        history = [math.nan] * N + [1.0, 2.0, 3.0]
        words = _encode_windows(np.array(history), N, W, C)[-3:]
        win = pk.SlidingWindow(N, W, C)
        expected = [win.append(v) for v in [1.0, 2.0, 3.0]]
        assert words == expected


@pytest.mark.slow
class TestStreamingParity:
    def test_stream_equals_batch(self, spark, sf_dir):
        from symtseries_spark.sources import load

        events = (
            load(spark, sf_dir, "events")
            .where(F.col("user_id") < 20)
            .select("user_id", "ts", "event_id", "value")
        )
        schema = events.schema
        in_dir = tempfile.mkdtemp(prefix="sax_stream_in_")
        chk_dir = tempfile.mkdtemp(prefix="sax_stream_chk_")
        try:
            # two files -> two micro-batches; per-key arrival order across
            # batches follows file order, matching the batch sort because
            # the split is on the order column
            split = events.agg(F.expr("percentile(ts, 0.5)")).collect()[0][0]
            events.where(F.col("ts") <= split).coalesce(1).write.parquet(
                f"{in_dir}/b0"
            )
            events.where(F.col("ts") > split).coalesce(1).write.parquet(
                f"{in_dir}/b1"
            )
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{in_dir}/b*")
            )
            words = sliding_sax_stream(
                stream,
                key="user_id",
                order=["ts", "event_id"],
                value="value",
                n=N,
                w=W,
                c=C,
            )
            q = (
                words.writeStream.format("memory")
                .queryName("sax_stream_out")
                .outputMode("append")
                .option("checkpointLocation", chk_dir)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            got = {
                (r.user_id, r.event_id): r.sax_word
                for r in spark.sql("SELECT * FROM sax_stream_out").collect()
            }
            expected = {
                (r.user_id, r.event_id): r.sax_word
                for r in sliding_sax(
                    events,
                    key="user_id",
                    order=["ts", "event_id"],
                    value="value",
                    n=N,
                    w=W,
                    c=C,
                ).collect()
            }
            assert len(got) == len(expected) > 0
            mismatches = {
                k: (got[k], expected[k]) for k in expected if got[k] != expected[k]
            }
            assert not mismatches, list(mismatches.items())[:5]
        finally:
            shutil.rmtree(in_dir, ignore_errors=True)
            shutil.rmtree(chk_dir, ignore_errors=True)


@pytest.mark.slow
class TestEventTimeTumbling:
    """Event-time tumbling SAX (engine extension): batch/stream agree,
    and the watermark admits in-order windows in append mode."""

    def _mk_rows(self):
        import datetime

        base = datetime.datetime(2024, 1, 1)
        rows = []
        for uid in (1, 2):
            for i in range(16):
                rows.append(
                    (uid, base + datetime.timedelta(seconds=10 * i), float((i * 7) % 5 - 2 + uid))
                )
        return rows

    def test_batch_matches_pykernel(self, spark):
        from pyspark.sql.types import (
            DoubleType, LongType, StructField, StructType, TimestampType,
        )
        from symtseries_spark.streaming import tumbling_sax_event_time

        schema = StructType([
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ])
        df = spark.createDataFrame(self._mk_rows(), schema)
        out = tumbling_sax_event_time(
            df, key="user_id", ts="ts", value="value",
            duration="80 seconds", w=4, c=4,
        ).collect()
        # 16 rows @10s per user -> two 80s windows of 8 rows each
        assert len(out) == 4
        by_key = {(r.series_key, r.window_start): r for r in out}
        for (uid, start), r in by_key.items():
            vals = [
                v for u, t, v in self._mk_rows()
                if u == uid and start <= t < r.window_end
            ]
            assert r.n == 8
            assert r.sax_word == pk.encode(vals, 4, 4), (uid, start)

    def test_stream_append_with_watermark(self, spark):
        import datetime
        from pyspark.sql.types import (
            DoubleType, LongType, StructField, StructType, TimestampType,
        )
        from symtseries_spark.streaming import tumbling_sax_event_time

        schema = StructType([
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ])
        early = spark.createDataFrame(self._mk_rows(), schema)
        # a much-later row pushes the watermark past every early window
        late_ts = datetime.datetime(2024, 1, 2)
        pusher = spark.createDataFrame([(99, late_ts, 0.0)], schema)

        in_dir = tempfile.mkdtemp(prefix="sax_ev_in_")
        chk_dir = tempfile.mkdtemp(prefix="sax_ev_chk_")
        try:
            early.coalesce(1).write.parquet(f"{in_dir}/b0")
            import time as _time

            _time.sleep(1.1)  # distinct mtimes -> deterministic file order
            pusher.coalesce(1).write.parquet(f"{in_dir}/b1")
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{in_dir}/b*")
            )
            words = tumbling_sax_event_time(
                stream, key="user_id", ts="ts", value="value",
                duration="80 seconds", w=4, c=4, watermark="1 minute",
            )
            q = (
                words.writeStream.format("memory")
                .queryName("sax_ev_out")
                .outputMode("append")
                .option("checkpointLocation", chk_dir)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            got = {
                (r.series_key, r.window_start): r.sax_word
                for r in spark.sql("SELECT * FROM sax_ev_out").collect()
            }
            batch_expected = {
                (r.series_key, r.window_start): r.sax_word
                for r in tumbling_sax_event_time(
                    early, key="user_id", ts="ts", value="value",
                    duration="80 seconds", w=4, c=4,
                ).collect()
            }
            # every early window finalized once the watermark passed it
            assert got == batch_expected and len(got) == 4
        finally:
            shutil.rmtree(in_dir, ignore_errors=True)
            shutil.rmtree(chk_dir, ignore_errors=True)


@pytest.mark.slow
class TestStreamingComposition:
    def test_mindist_on_stream(self, spark, sf_dir):
        """The reference's end-to-end usage: stream values in, emit a
        word per event, score it against a query shape — our search
        expressions compose directly onto the streaming output."""
        from symtseries_spark.operators import mindist_to_pattern
        from symtseries_spark.sources import load

        events = (
            load(spark, sf_dir, "events")
            .where(F.col("user_id") < 10)
            .select("user_id", "ts", "event_id", "value")
        )
        in_dir = tempfile.mkdtemp(prefix="sax_comp_in_")
        chk_dir = tempfile.mkdtemp(prefix="sax_comp_chk_")
        try:
            events.coalesce(1).write.parquet(f"{in_dir}/b0")
            stream = (
                spark.readStream.schema(events.schema)
                .parquet(f"{in_dir}/b*")
            )
            words = sliding_sax_stream(
                stream, key="user_id", order=["ts", "event_id"],
                value="value", n=N, w=W, c=C,
            )
            scored = mindist_to_pattern(words, "AEHD", c=C, n=N).where(
                F.col("mindist") <= 1.0
            )
            q = (
                scored.writeStream.format("memory")
                .queryName("sax_comp_out")
                .outputMode("append")
                .option("checkpointLocation", chk_dir)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            got = {
                (r.user_id, r.event_id): r.mindist
                for r in spark.sql("SELECT * FROM sax_comp_out").collect()
            }
            batch = sliding_sax(
                events, key="user_id", order=["ts", "event_id"],
                value="value", n=N, w=W, c=C,
            )
            expected = {
                (r.user_id, r.event_id): r.mindist
                for r in mindist_to_pattern(batch, "AEHD", c=C, n=N)
                .where(F.col("mindist") <= 1.0)
                .collect()
            }
            assert got == expected and len(got) > 0
        finally:
            shutil.rmtree(in_dir, ignore_errors=True)
            shutil.rmtree(chk_dir, ignore_errors=True)


@pytest.mark.slow
class TestStreamingDedup:
    def test_first_seen_wins_across_batches(self, spark):
        from symtseries_spark.streaming import streaming_exact_dedup

        b0 = [(0, "alpha beta"), (1, "gamma"), (2, "ALPHA   beta")]
        b1 = [(3, "alpha beta"), (4, "delta"), (5, "gamma")]
        in_dir = tempfile.mkdtemp(prefix="dedup_in_")
        chk_dir = tempfile.mkdtemp(prefix="dedup_chk_")
        try:
            import time as _time

            spark.createDataFrame(b0, "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{in_dir}/b0")
            _time.sleep(1.1)
            spark.createDataFrame(b1, "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{in_dir}/b1")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{in_dir}/b*")
            )
            out = streaming_exact_dedup(stream)
            q = (
                out.writeStream.format("memory")
                .queryName("dedup_out")
                .outputMode("append")
                .option("checkpointLocation", chk_dir)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            rows = {
                r.doc_id: r
                for r in spark.sql("SELECT * FROM dedup_out").collect()
            }
            assert len(rows) == 6
            # within-batch dup (case/whitespace-normalized)
            assert rows[2].is_duplicate and rows[2].canonical_id == 0
            # cross-batch dups resolve to the batch-0 canonical via state
            assert rows[3].is_duplicate and rows[3].canonical_id == 0
            assert rows[5].is_duplicate and rows[5].canonical_id == 1
            assert not rows[0].is_duplicate
            assert not rows[4].is_duplicate
        finally:
            shutil.rmtree(in_dir, ignore_errors=True)
            shutil.rmtree(chk_dir, ignore_errors=True)

    def test_span_first_occurrence_across_batches(self, spark):
        from symtseries_spark.streaming import streaming_span_dedup

        # spans (2 tokens): b0 doc0 = ['a b', 'c d'], doc1 = ['x y'];
        # b1 doc2 = ['a b' (dup of doc0 pos0), 'z w'], doc3 = ['x y' dup]
        b0 = [(0, "a b c d"), (1, "x y")]
        b1 = [(2, "a b z w"), (3, "x y")]
        in_dir = tempfile.mkdtemp(prefix="span_in_")
        chk_dir = tempfile.mkdtemp(prefix="span_chk_")
        try:
            import time as _time

            spark.createDataFrame(b0, "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{in_dir}/b0")
            _time.sleep(1.1)
            spark.createDataFrame(b1, "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{in_dir}/b1")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{in_dir}/b*")
            )
            out = streaming_span_dedup(stream, span_tokens=2)
            q = (
                out.writeStream.format("memory")
                .queryName("span_out")
                .outputMode("append")
                .option("checkpointLocation", chk_dir)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            rows = {
                (r.doc_id, r.pos): r.is_dropped
                for r in spark.sql("SELECT * FROM span_out").collect()
            }
            assert rows == {
                (0, 0): False, (0, 1): False, (1, 0): False,
                (2, 0): True, (2, 1): False, (3, 0): True,
            }
        finally:
            shutil.rmtree(in_dir, ignore_errors=True)
            shutil.rmtree(chk_dir, ignore_errors=True)


class TestShardedSlidingStream:
    """``sliding_sax_stream`` keeps its series' buffers in 16 hash
    shards; words must match a per-series ``pk.SlidingWindow`` across
    micro-batches and a stop/restart from the same checkpoint."""

    KEYS = 24  # plus a NULL key: several series per shard

    def _events(self):
        """Three batches of ``(sid, t, v)``. Series 0-2 get fewer than N
        events; the values carry NaN and ±Inf."""
        rng = np.random.default_rng(11)
        sid = rng.integers(3, self.KEYS, size=900).astype(object)
        sid[rng.random(900) < 0.05] = None
        sid[[5, 300, 301, 650, 700, 701, 702]] = [0, 1, 1, 2, 2, 2, 2]
        v = rng.standard_normal(900)
        v[rng.random(900) < 0.04] = math.nan
        v[rng.random(900) < 0.02] = math.inf
        v[rng.random(900) < 0.02] = -math.inf
        return [(sid[i:i + 300], np.arange(i, i + 300), v[i:i + 300]) for i in (0, 300, 600)]

    @pytest.mark.parametrize("key_type", ["long", "string"])
    def test_matches_pykernel_across_restart(self, spark, key_type):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = self._events()
        # long keys past 2**53, where a float64 round trip loses them
        as_key = (lambda k: (1 << 60) + k) if key_type == "long" else (lambda k: f"s{k:02d}")
        root = tempfile.mkdtemp(prefix="sax_shard_")
        in_dir, out_dir, chk = f"{root}/in", f"{root}/out", f"{root}/chk"
        os.makedirs(in_dir)

        def feed(j):
            sid, t, v = batches[j]
            keys = [None if k is None else as_key(int(k)) for k in sid]
            path = f"{in_dir}/b{j}.parquet"
            pq.write_table(
                pa.table({
                    "sid": pa.array(keys, pa.int64() if key_type == "long" else pa.string()),
                    "t": pa.array(t, pa.int64()),
                    "v": pa.array(v, pa.float64()),
                }),
                path,
            )
            os.utime(path, (1_000_000_000 + j, 1_000_000_000 + j))

        def run():
            stream = (
                spark.readStream.schema(f"sid {key_type}, t long, v double")
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            q = (
                sliding_sax_stream(stream, key="sid", order=["t"], value="v", n=N, w=W, c=C)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", chk)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        try:
            feed(0)
            feed(1)
            run()
            feed(2)
            run()
            got = {
                (r.sid, r.t): r.sax_word
                for r in spark.read.parquet(out_dir).collect()
            }
            expected, windows = {}, {}
            for sid, t, v in batches:
                for k, ti, vi in zip(sid, t, v):
                    k = None if k is None else as_key(int(k))
                    win = windows.setdefault(k, [pk.SlidingWindow(N, W, C), 0])
                    word = win[0].append(float(vi))
                    win[1] += 1
                    if win[1] >= N:
                        expected[(k, int(ti))] = word
            assert len(got) == sum(len(b[1]) for b in batches)
            assert None in {k for k, _ in got} and len(windows) > 20
            wrong = {k: (got.get(k), w) for k, w in expected.items() if got.get(k) != w}
            assert not wrong, list(wrong.items())[:5]
        finally:
            shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("key_type", ["long", "string"])
def test_sliding_state_schema_is_the_checkpoint_contract(spark, tmp_path, key_type):
    """The state schema ``sliding_sax_stream`` stores in a checkpoint:
    per shard one array of series keys and one array of binary ring
    buffers. The analyzed plan's FlatMapGroupsInPandasWithState node
    prints it; a change here stops old checkpoints from resuming
    (docs/MIGRATION.md)."""
    stream = spark.readStream.schema(f"sid {key_type}, t long, v double").parquet(
        str(tmp_path)
    )
    words = sliding_sax_stream(stream, key="sid", order=["t"], value="v", n=N, w=W, c=C)
    plan = words._jdf.queryExecution().analyzed().toString()
    (node,) = [ln for ln in plan.splitlines() if "FlatMapGroupsInPandasWithState" in ln]
    spark_type = {"long": "LongType", "string": "StringType"}[key_type]
    assert (
        f"[StructField(sid,ArrayType({spark_type},true),true), "
        "StructField(buf,ArrayType(BinaryType,true),true)]"
    ) in node, node


def test_sliding_stream_echoes_nan_value_as_null(spark, tmp_path):
    """The stream's words equal the batch words over NaN, NULL and
    ±Inf values, across two micro-batches; the echoed value is NULL
    for NaN (pyspark's Arrow writer masks it) and ±Inf is kept."""
    vals = [1.0, math.nan, 3.0, None, math.inf, 2.0, -math.inf]
    df = spark.createDataFrame(
        [(1, t, v, t // 4) for t, v in enumerate(vals)], "k int, t int, v double, b int"
    )
    kw = dict(key="k", order=["t"], value="v", n=4, w=2, c=4)
    rows = _replay_batches(spark, df, str(tmp_path), lambda s: sliding_sax_stream(s, **kw))
    got = {r.t: r for r in rows}
    batch = {r.t: r for r in sliding_sax(df, **kw).collect()}
    assert sorted(got) == sorted(batch) == list(range(len(vals)))
    assert {t: r.sax_word for t, r in got.items()} == {t: r.sax_word for t, r in batch.items()}
    assert math.isnan(batch[1].v) and got[1].v is None
    assert batch[3].v is None and got[3].v is None
    for t in (0, 2, 4, 5, 6):
        assert got[t].v == batch[t].v == vals[t]


class TestKeyedStateHelper:
    @pytest.mark.parametrize("shards", [7, 16, 64])
    def test_integer_min_hash_lands_in_range(self, spark, shards):
        from symtseries_spark.streaming._util import shard_of

        got = spark.range(1).select(
            shard_of(F.lit(-2147483648), shards).alias("s")
        ).first().s
        assert 0 <= got < shards

    @pytest.mark.parametrize("shard_state", [None, 4])
    def test_unchanged_state_is_not_rewritten(self, spark, shard_state):
        """A batch of already-seen contents leaves every first-seen map
        as it was, so no state row is written."""
        import os

        from symtseries_spark.streaming import streaming_exact_dedup

        root = tempfile.mkdtemp(prefix="keyed_state_")
        in_dir = f"{root}/in"
        os.makedirs(in_dir)
        try:
            for j, rows in enumerate([[(0, "a"), (1, "b"), (2, "c")], [(3, "a"), (4, "b")]]):
                spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                    1
                ).write.parquet(f"{root}/b{j}")
                part = next(f for f in os.listdir(f"{root}/b{j}") if f.endswith(".parquet"))
                dst = f"{in_dir}/b{j}.parquet"
                os.rename(f"{root}/b{j}/{part}", dst)
                os.utime(dst, (1_000_000_000 + j, 1_000_000_000 + j))
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            q = (
                streaming_exact_dedup(stream, shard_state=shard_state)
                .writeStream.format("noop")
                .option("checkpointLocation", f"{root}/chk")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            updated = [
                p.stateOperators[0].numRowsUpdated
                for p in q.recentProgress
                if p.numInputRows
            ]
            assert updated[0] > 0 and updated[1:] == [0]
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def test_util_is_the_one_keyed_state_call_site(self):
        """``streaming/_util.py`` is the only module of the package that
        calls ``applyInPandasWithState`` or imports ``GroupState``:
        every stateful stream goes through ``keyed_state_stream``."""
        import ast
        import pathlib

        import symtseries_spark

        root = pathlib.Path(symtseries_spark.__file__).parent
        hits: dict[str, list[str]] = {}
        for path in sorted(root.rglob("*.py")):
            rel = path.relative_to(root).as_posix()
            for node in ast.walk(ast.parse(path.read_text())):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "applyInPandasWithState"
                ):
                    hits.setdefault(rel, []).append(f"{node.lineno}: applyInPandasWithState call")
                elif isinstance(node, (ast.Import, ast.ImportFrom)) and any(
                    a.name.rsplit(".", 1)[-1] == "GroupState" for a in node.names
                ):
                    hits.setdefault(rel, []).append(f"{node.lineno}: GroupState import")
        assert len(hits.pop("streaming/_util.py", [])) == 2
        assert hits == {}


class TestStreamToBucketedIndex:
    def test_foreachbatch_builds_pruned_index(self, spark, sf_dir):
        """End-to-end ingest story: a live word stream lands in the
        one-level iSAX layout (``levels=(2,)``) via foreachBatch (append
        per micro-batch), and the at-rest table serves partition-pruned
        bucket reads that match the batch-computed truth."""
        import tempfile
        import uuid

        from symtseries_spark import pykernel as pk
        from symtseries_spark.operators import tumbling_sax
        from symtseries_spark.sources import (
            load_events_stream,
            read_words_multilevel,
            write_words_multilevel,
        )
        from symtseries_spark.streaming import sliding_sax_stream

        out_dir = tempfile.mkdtemp(prefix="stream_idx_")
        stream = load_events_stream(spark, sf_dir)
        words = sliding_sax_stream(
            stream, key="user_id", order=["ts", "event_id"], value="value",
            n=16, w=4, c=8,
        ).select(
            F.col("user_id").alias("series_key"),
            F.col("event_id").alias("window_id"),
            "sax_word",
        )

        def sink(batch_df, batch_id):
            write_words_multilevel(batch_df, out_dir, c=8, levels=(2,), mode="append")

        q = (
            words.writeStream.foreachBatch(sink)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="idx_chk_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

        # pick a populated full-window word and read only its bucket
        full = [
            r.sax_word
            for r in spark.read.parquet(out_dir).collect()
            if "#" not in r.sax_word
        ]
        assert full, "no complete windows streamed"
        target = full[0]
        got = read_words_multilevel(spark, out_dir, target, c=8, levels=(2,))
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "isax_l0" in plan.split("PartitionFilters")[1][:200]
        expected_bucket = pk.coarsen(target, 8, 2)
        rows = got.collect()
        assert rows and all(
            pk.coarsen(r.sax_word, 8, 2) == expected_bucket for r in rows
        )


class TestShardedMinhashState:
    def test_sharded_equals_per_bucket(self, spark, sf_dir):
        """shard_state must be a pure layout change: identical
        (doc_id, band_id, dup_of) rows as the per-bucket keying, across
        micro-batch boundaries."""
        import glob as globmod
        import os
        import tempfile
        import uuid

        from symtseries_spark.sources import load
        from symtseries_spark.streaming.minhash import streaming_minhash_dedup

        docs = load(spark, sf_dir, "documents").select("doc_id", "text").where(
            "doc_id < 200"
        )
        mx = docs.agg(F.max("doc_id")).first()[0]
        bid = F.floor(F.col("doc_id") * 2 / (mx + 1)).cast("long").alias("__bid")
        tmp = tempfile.mkdtemp(prefix="mh_shard_t_")
        staged, indir = f"{tmp}/staged", f"{tmp}/in"
        os.makedirs(indir)
        docs.withColumn("__bid", bid).coalesce(1).write.partitionBy(
            "__bid"
        ).parquet(staged)
        for i, d in enumerate(
            sorted(
                globmod.glob(f"{staged}/__bid=*"),
                key=lambda p: int(p.rsplit("=", 1)[1]),
            )
        ):
            part = globmod.glob(f"{d}/part-*.parquet")[0]
            dst = f"{indir}/b{i:04d}.parquet"
            os.rename(part, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

        def run(shard):
            stream = spark.readStream.schema(docs.schema).option(
                "maxFilesPerTrigger", "1"
            ).parquet(indir)
            pb = streaming_minhash_dedup(
                stream, k=3, num_hashes=16, bands=4, seed=7,
                shard_state=shard,
            )
            name = f"mhs_{uuid.uuid4().hex[:6]}"
            q = (
                pb.writeStream.format("memory").queryName(name)
                .outputMode("append")
                .option("checkpointLocation", tempfile.mkdtemp())
                .start()
            )
            q.processAllAvailable()
            q.stop()
            return frozenset(
                (r.doc_id, r.band_id, r.dup_of)
                for r in spark.table(name).collect()
            )

        a, b = run(None), run(8)
        assert a and a == b

    def test_replay_granularity_invariant(self, spark, sf_dir):
        """The dup verdict must not depend on micro-batch granularity:
        the handler is first-seen-wins over id-SORTED rows within a
        batch, so one 200-doc batch == two 100-doc batches. This is the
        invariance that lets the driver query replay 2 files instead of
        4 without changing its oracle."""
        import glob as globmod
        import os
        import tempfile
        import uuid

        from symtseries_spark.sources import load
        from symtseries_spark.streaming.minhash import streaming_minhash_dedup

        docs = load(spark, sf_dir, "documents").select("doc_id", "text").where(
            "doc_id < 200"
        )
        mx = docs.agg(F.max("doc_id")).first()[0]
        bid = F.floor(F.col("doc_id") * 4 / (mx + 1)).cast("long").alias("__bid")
        tmp = tempfile.mkdtemp(prefix="mh_gran_t_")
        staged, indir = f"{tmp}/staged", f"{tmp}/in"
        os.makedirs(indir)
        docs.withColumn("__bid", bid).coalesce(1).write.partitionBy(
            "__bid"
        ).parquet(staged)
        for i, d in enumerate(
            sorted(
                globmod.glob(f"{staged}/__bid=*"),
                key=lambda p: int(p.rsplit("=", 1)[1]),
            )
        ):
            part = globmod.glob(f"{d}/part-*.parquet")[0]
            dst = f"{indir}/b{i:04d}.parquet"
            os.rename(part, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

        def run(files_per_trigger):
            reader = spark.readStream.schema(docs.schema)
            if files_per_trigger:
                reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
            pb = streaming_minhash_dedup(
                reader.parquet(indir), k=3, num_hashes=16, bands=4, seed=7,
                shard_state=8,
            )
            name = f"mhg_{uuid.uuid4().hex[:6]}"
            q = (
                pb.writeStream.format("memory").queryName(name)
                .outputMode("append")
                .option("checkpointLocation", tempfile.mkdtemp())
                .start()
            )
            q.processAllAvailable()
            q.stop()
            # reduce to the per-doc verdict (the driver query's shape);
            # per-band rows can differ in which band reports first
            rows = spark.table(name).groupBy("doc_id").agg(
                F.min("dup_of").alias("dup_of")
            )
            return frozenset((r.doc_id, r.dup_of) for r in rows.collect())

        fine, whole = run(1), run(None)
        assert fine and fine == whole


class TestShardedDedupState:
    """r13: shard_state on the exact/span/line/media dedup streams must
    be a pure state-layout change — identical output rows as the
    per-key keying, across micro-batch boundaries (the minhash
    parity contract extended to its four siblings)."""

    def _stage_two_batches(self, df, prefix):
        import glob as globmod
        import os
        import tempfile

        mx = df.agg(F.max(df.columns[0])).first()[0]
        bid = (
            F.floor(F.col(df.columns[0]) * 2 / (mx + 1))
            .cast("long")
            .alias("__bid")
        )
        tmp = tempfile.mkdtemp(prefix=prefix)
        staged, indir = f"{tmp}/staged", f"{tmp}/in"
        os.makedirs(indir)
        df.withColumn("__bid", bid).coalesce(1).write.partitionBy(
            "__bid"
        ).parquet(staged)
        for i, d in enumerate(
            sorted(
                globmod.glob(f"{staged}/__bid=*"),
                key=lambda p: int(p.rsplit("=", 1)[1]),
            )
        ):
            part = globmod.glob(f"{d}/part-*.parquet")[0]
            dst = f"{indir}/b{i:04d}.parquet"
            os.rename(part, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        return indir

    def _replay(self, spark, schema, indir, build):
        import tempfile
        import uuid

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir)
        )
        name = f"shd_{uuid.uuid4().hex[:6]}"
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp())
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return frozenset(map(tuple, spark.table(name).collect()))

    def test_exact_sharded_equals_per_key(self, spark, sf_dir):
        from symtseries_spark.sources import load
        from symtseries_spark.streaming import streaming_exact_dedup

        docs = load(spark, sf_dir, "documents").select("doc_id", "text").where(
            "doc_id < 200"
        )
        indir = self._stage_two_batches(docs, "exs_t_")
        a = self._replay(
            spark, docs.schema, indir, lambda s: streaming_exact_dedup(s)
        )
        b = self._replay(
            spark,
            docs.schema,
            indir,
            lambda s: streaming_exact_dedup(s, shard_state=8),
        )
        assert a and a == b

    def test_span_sharded_equals_per_key(self, spark, sf_dir):
        from symtseries_spark.sources import load
        from symtseries_spark.streaming import streaming_span_dedup

        docs = load(spark, sf_dir, "documents").select("doc_id", "text").where(
            "doc_id < 200"
        )
        indir = self._stage_two_batches(docs, "sps_t_")
        a = self._replay(
            spark,
            docs.schema,
            indir,
            lambda s: streaming_span_dedup(s, span_tokens=8, hash_spans=True),
        )
        b = self._replay(
            spark,
            docs.schema,
            indir,
            lambda s: streaming_span_dedup(
                s, span_tokens=8, hash_spans=True, shard_state=8
            ),
        )
        assert a and a == b

    def test_line_sharded_equals_per_key(self, spark, sf_dir):
        from symtseries_spark.sources import load
        from symtseries_spark.streaming import streaming_line_dedup

        docs = load(spark, sf_dir, "documents").select("doc_id", "text").where(
            "doc_id < 200"
        )
        indir = self._stage_two_batches(docs, "lns_t_")
        a = self._replay(
            spark,
            docs.schema,
            indir,
            lambda s: streaming_line_dedup(s, sep=". ", hash_lines=True),
        )
        b = self._replay(
            spark,
            docs.schema,
            indir,
            lambda s: streaming_line_dedup(
                s, sep=". ", hash_lines=True, shard_state=8
            ),
        )
        assert a and a == b

    def test_media_sharded_equals_per_bucket(self, spark, sf_dir):
        from symtseries_spark.operators.multimodal import media_from_documents
        from symtseries_spark.sources import load
        from symtseries_spark.streaming.media import streaming_dhash_dedup

        docs = load(spark, sf_dir, "documents").select("doc_id", "text").where(
            "doc_id < 120"
        )
        indir = self._stage_two_batches(docs, "mds_t_")

        def mk(shard):
            def build(s):
                return streaming_dhash_dedup(
                    media_from_documents(s),
                    max_hamming=2,
                    bands=4,
                    shard_state=shard,
                )

            return build

        a = self._replay(spark, docs.schema, indir, mk(None))
        b = self._replay(spark, docs.schema, indir, mk(8))
        assert a and a == b


class TestFunnelStream:
    def test_chain_spans_batches(self, spark):
        """A stage reached in batch 1 must chain off state set in batch
        0 (signup in b0, click+purchase in b1), and out-of-order stages
        must not count."""
        import glob as globmod
        import os
        import tempfile
        import uuid

        from symtseries_spark.streaming import funnel_stream

        rows = [
            # u1: signup(b0) -> click(b1) -> purchase(b1)
            (1, 1, 10, "signup"), (1, 2, 40, "click"), (1, 3, 50, "purchase"),
            # u2: purchase before click -> stops after click
            (2, 4, 10, "signup"), (2, 5, 20, "purchase"), (2, 6, 45, "click"),
            # u3: click only -> never enters
            (3, 7, 15, "click"),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts_us long, event_type string"
        )
        tmp = tempfile.mkdtemp(prefix="fun_t_")
        staged, indir = f"{tmp}/staged", f"{tmp}/in"
        os.makedirs(indir)
        df.withColumn(
            "__bid", (F.col("ts_us") > 30).cast("int")
        ).coalesce(1).write.partitionBy("__bid").parquet(staged)
        for i, d in enumerate(sorted(globmod.glob(f"{staged}/__bid=*"))):
            part = globmod.glob(f"{d}/part-*.parquet")[0]
            dst = f"{indir}/b{i}.parquet"
            os.rename(part, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        stream = spark.readStream.schema(df.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(indir)
        trans = funnel_stream(
            stream, key="user_id", ts="ts_us", type_col="event_type",
            stages=["signup", "click", "purchase"],
            order=["ts_us", "event_id"],
        )
        name = f"fun_t_{uuid.uuid4().hex[:6]}"
        q = (
            trans.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp())
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r.user_id, r.stage_idx): r.ts_us
            for r in spark.table(name).collect()
        }
        assert got == {
            (1, 0): 10, (1, 1): 40, (1, 2): 50,
            (2, 0): 10, (2, 1): 45,
        }


def _replay_batches(spark, df, root, build):
    """Run ``build(stream)`` over ``df`` replayed as one micro-batch per
    value of its ``b`` column (in order); the emitted rows, as Rows."""
    import glob as globmod
    import os
    import uuid

    in_dir = f"{root}/in"
    os.makedirs(in_dir)
    for b in sorted(r.b for r in df.select("b").distinct().collect()):
        df.where(F.col("b") == b).coalesce(1).write.parquet(f"{root}/b{b}")
        dst = f"{in_dir}/b{b}.parquet"
        os.rename(globmod.glob(f"{root}/b{b}/part-*.parquet")[0], dst)
        os.utime(dst, (1_000_000_000 + b, 1_000_000_000 + b))
    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", "1").parquet(in_dir)
    name = f"replay_{uuid.uuid4().hex[:8]}"
    q = (
        build(stream).writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", f"{root}/chk").start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name).collect()


class TestTwapStream:
    def test_state_carries_across_batches(self, spark):
        """Running TWAP over two micro-batches must equal the direct
        prefix computation over the concatenated series."""
        import glob as globmod
        import os
        import tempfile
        import uuid

        from symtseries_spark.streaming import twap_stream

        rows = [
            (1, t, i, float(v))
            for i, (t, v) in enumerate(
                [(0, 10.0), (10, 20.0), (15, 2.0), (35, 8.0), (40, 4.0)]
            )
        ]
        df = spark.createDataFrame(rows, "k long, t long, i long, v double")
        in_dir = tempfile.mkdtemp(prefix="twap_in_")
        stage = tempfile.mkdtemp(prefix="twap_stage_")
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
        tw = twap_stream(stream, key="k", order=["t", "i"], ts="t", value="v")
        name = f"twap_t_{uuid.uuid4().hex[:8]}"
        q = (
            tw.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="twap_tc_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {r.i: (r.n_intervals, r.twap) for r in spark.table(name).collect()}
        # manual prefix: intervals (0,10)*10 + (10,15)*20 + (15,35)*2 + (35,40)*8
        pts = [(0, 10.0), (10, 20.0), (15, 2.0), (35, 8.0), (40, 4.0)]
        wsum = tsum = 0.0
        assert got[0] == (0, None)
        for i in range(1, 5):
            dt = pts[i][0] - pts[i - 1][0]
            wsum += pts[i - 1][1] * dt
            tsum += dt
            n, tw_v = got[i]
            assert n == i
            assert tw_v == pytest.approx(wsum / tsum, abs=1e-9)


    def test_null_ts_adds_no_interval_across_batches(self, spark, tmp_path):
        """An event with a NULL ts closes and opens no interval, as the
        batch TWAP keeps only intervals with a duration: key 1 with ts
        0, NULL, 5, 9 over two micro-batches ends on the intervals
        (0, 5) and (5, 9); key 2 opens with a NULL ts. The last row of
        each key equals the batch aggregate of the oracle's form."""
        from pyspark.sql import Window

        from symtseries_spark.streaming import twap_stream

        # (k, t, i, v, micro-batch)
        rows = [
            (1, 0, 0, 10.0, 0), (1, None, 1, 20.0, 0), (1, 5, 2, 2.0, 1), (1, 9, 3, 8.0, 1),
            (2, None, 0, 4.0, 0), (2, 3, 1, 6.0, 1), (2, 7, 2, 1.0, 1),
        ]
        df = spark.createDataFrame(rows, "k long, t long, i long, v double, b int")
        got = {
            (r.k, r.i): (r.n_intervals, r.twap)
            for r in _replay_batches(
                spark, df, str(tmp_path),
                lambda s: twap_stream(s, key="k", order=["t", "i"], ts="t", value="v"),
            )
        }
        assert got == {
            (1, 0): (0, None), (1, 1): (0, None), (1, 2): (1, 10.0),
            (1, 3): (2, (10.0 * 5 + 2.0 * 4) / 9),
            (2, 0): (0, None), (2, 1): (0, None), (2, 2): (1, 6.0),
        }
        w = Window.partitionBy("k").orderBy("t", "i")
        dt = (F.lead("t").over(w) - F.col("t")).cast("double")
        batch = (
            df.select("k", "v", dt.alias("dt")).where(F.col("dt").isNotNull())
            .groupBy("k")
            .agg(F.count("*").alias("n"), (F.sum(F.col("v") * F.col("dt")) / F.sum("dt")).alias("twap"))
        )
        last = {1: got[(1, 3)], 2: got[(2, 2)]}
        assert {r.k: (r.n, r.twap) for r in batch.collect()} == last


class TestOhlcStream:
    def test_bars_roll_at_bucket_boundary_across_batches(self, spark):
        import glob as globmod
        import os
        import tempfile
        import uuid

        from symtseries_spark.streaming import ohlc_stream

        # bucket 0: t in [0,10); bucket 1: t in [10,20) — batch split
        # mid-bucket to prove state carries the open bar over
        rows = [
            (1, 0, 0, 5.0), (1, 3, 1, 9.0), (1, 6, 2, 2.0),
            (1, 12, 3, 7.0), (1, 15, 4, 1.0),
        ]
        df = spark.createDataFrame(rows, "k long, t long, i long, v double")
        in_dir = tempfile.mkdtemp(prefix="ohlc_in_")
        stage = tempfile.mkdtemp(prefix="ohlc_stage_")
        df.where("i < 2").coalesce(1).write.parquet(f"{stage}/b0")
        df.where("i >= 2").coalesce(1).write.parquet(f"{stage}/b1")
        for i in range(2):
            part = globmod.glob(f"{stage}/b{i}/part-*.parquet")[0]
            dst = f"{in_dir}/b{i}.parquet"
            os.rename(part, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        stream = spark.readStream.schema(df.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(in_dir)
        bars = ohlc_stream(
            stream, key="k", order=["t", "i"], ts="t", value="v",
            bucket_us=10,
        )
        name = f"ohlc_t_{uuid.uuid4().hex[:8]}"
        q = (
            bars.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ohlc_tc_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {r.i: r for r in spark.table(name).collect()}
        # running bar within bucket 0 (incl. the cross-batch row i=2)
        assert (got[0].open, got[0].high, got[0].low, got[0].close,
                got[0].volume) == (5.0, 5.0, 5.0, 5.0, 1)
        assert (got[2].open, got[2].high, got[2].low, got[2].close,
                got[2].volume) == (5.0, 9.0, 2.0, 2.0, 3)
        # bucket rolls at t=12
        assert got[3].day == 1
        assert (got[3].open, got[3].volume) == (7.0, 1)
        assert (got[4].high, got[4].low, got[4].close) == (7.0, 1.0, 1.0)

    def test_null_opened_bar_matches_window_sql_across_batches(self, spark):
        """A bar opened by NULL: high/low skip the NULL as SQL max/min do,
        open stays NULL as SQL first_value does. Bars of key 1 and 2 open
        with NULL in the first micro-batch and continue in the second;
        key 1's second bar is NULL throughout. Reference: the oracle's
        window SQL run by Spark over the same rows as one batch."""
        import glob as globmod
        import os
        import uuid

        from symtseries_spark.streaming import ohlc_stream

        # (k, t, i, v, micro-batch); bucket_us=10
        rows = [
            (1, 0, 0, None, 0), (1, 1, 1, 3.0, 1), (1, 2, 2, 5.0, 1),
            (1, 3, 3, 1.0, 1), (1, 11, 4, None, 1), (1, 12, 5, None, 1),
            (2, 0, 0, None, 0), (2, 1, 1, 3.0, 0), (2, 2, 2, 5.0, 1),
            (2, 3, 3, 1.0, 1),
        ]
        df = spark.createDataFrame(rows, "k long, t long, i long, v double, b int")
        root = tempfile.mkdtemp(prefix="ohlc_null_")
        in_dir = f"{root}/in"
        os.makedirs(in_dir)
        try:
            for b in range(2):
                df.where(F.col("b") == b).coalesce(1).write.parquet(f"{root}/b{b}")
                part = globmod.glob(f"{root}/b{b}/part-*.parquet")[0]
                dst = f"{in_dir}/b{b}.parquet"
                os.rename(part, dst)
                os.utime(dst, (1_000_000_000 + b, 1_000_000_000 + b))
            stream = spark.readStream.schema(df.schema).option(
                "maxFilesPerTrigger", "1"
            ).parquet(in_dir)
            name = f"ohlc_null_{uuid.uuid4().hex[:8]}"
            q = (
                ohlc_stream(stream, key="k", order=["t", "i"], ts="t", value="v", bucket_us=10)
                .writeStream.format("memory").queryName(name)
                .outputMode("append")
                .option("checkpointLocation", f"{root}/chk")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            view = f"ohlc_rows_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(view)
            expect = spark.sql(
                f"""
                SELECT k, i, t div 10 AS day,
                       first_value(v) OVER w AS open, max(v) OVER w AS high,
                       min(v) OVER w AS low, v AS close, count(*) OVER w AS volume
                FROM {view}
                WINDOW w AS (PARTITION BY k, t div 10 ORDER BY t, i
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                """
            )
            cols = ["k", "i", "day", "open", "high", "low", "close", "volume"]
            got = sorted(tuple(r) for r in spark.table(name).select(*cols).collect())
            assert got == sorted(tuple(r) for r in expect.collect())
            assert len(got) == len(rows)
            # the bar opened by NULL reaches high 5 / low 1 (window SQL)
            assert [r[4:6] for r in got if r[0] == 1 and r[2] == 0] == [
                (None, None), (3.0, 3.0), (5.0, 3.0), (5.0, 1.0)
            ]
        finally:
            shutil.rmtree(root, ignore_errors=True)


    def test_null_ts_is_a_bar_of_its_own(self, spark, tmp_path):
        """A NULL-ts event is emitted as a one-event bar with day NULL
        and leaves the open bar untouched (key 1: ts 0, NULL, 5, 9 over
        two micro-batches); a series may open with one (key 2). Rows
        with a ts equal the oracle's window SQL."""
        from symtseries_spark.streaming import ohlc_stream

        # (k, t, i, v, micro-batch); bucket_us=10
        rows = [
            (1, 0, 0, 5.0, 0), (1, None, 1, 7.0, 0), (1, 5, 2, 1.0, 1), (1, 9, 3, 3.0, 1),
            (2, None, 0, 4.0, 0), (2, 3, 1, 6.0, 1),
        ]
        df = spark.createDataFrame(rows, "k long, t long, i long, v double, b int")
        cols = ["k", "i", "day", "open", "high", "low", "close", "volume"]
        got = sorted(
            tuple(r[c] for c in cols)
            for r in _replay_batches(
                spark, df, str(tmp_path),
                lambda s: ohlc_stream(s, key="k", order=["t", "i"], ts="t", value="v", bucket_us=10),
            )
        )
        assert [r for r in got if r[2] is None] == [
            (1, 1, None, 7.0, 7.0, 7.0, 7.0, 1), (2, 0, None, 4.0, 4.0, 4.0, 4.0, 1)
        ]
        view = f"ohlc_nullts_{tmp_path.name}"
        df.createOrReplaceTempView(view)
        expect = spark.sql(
            f"""
            SELECT k, i, t div 10 AS day,
                   first_value(v) OVER w AS open, max(v) OVER w AS high,
                   min(v) OVER w AS low, v AS close, count(*) OVER w AS volume
            FROM {view} WHERE t IS NOT NULL
            WINDOW w AS (PARTITION BY k, t div 10 ORDER BY t, i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            """
        )
        assert [r for r in got if r[2] is not None] == sorted(tuple(r) for r in expect.collect())
        assert (1, 3, 0, 5.0, 5.0, 1.0, 3.0, 3) in got


class TestStreamingWeightedSample:
    def test_multi_batch_equals_batch_operator(self, spark, tmp_path):
        """The ES reservoir is mergeable: after any batch split, the
        final per-group emission must equal weighted_sample_es on the
        full input exactly."""
        from symtseries_spark.operators.pipeline import weighted_sample_es
        from symtseries_spark.streaming import streaming_weighted_sample

        rows = [
            (i, "a" if i % 3 else "b", float((i * 7) % 50 + 1))
            for i in range(60)
        ]
        schema = "doc_id long, g string, w double"
        df = spark.createDataFrame(rows, schema)
        expect = {
            (r["g"], r["sample_rank"], r["doc_id"])
            for r in weighted_sample_es(
                df, k=4, weight_col="w", by="g"
            ).collect()
        }
        indir = str(tmp_path / "in")
        import os

        os.makedirs(indir)
        for b, lo in enumerate((0, 20, 40)):
            spark.createDataFrame(rows[lo : lo + 20], schema).coalesce(
                1
            ).write.parquet(f"{indir}/b{b}")
            os.utime(indir, None)
        files = sorted(
            p
            for b in range(3)
            for p in __import__("glob").glob(f"{indir}/b{b}/part-*.parquet")
        )
        flat = str(tmp_path / "flat")
        os.makedirs(flat)
        for i, p in enumerate(files):
            dst = f"{flat}/f{i:03d}.parquet"
            os.rename(p, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(flat)
        )
        out = streaming_weighted_sample(
            stream, k=4, weight_col="w", by="g"
        )
        import uuid

        name = f"es_t_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        t = spark.table(name)
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        mx = F.max("batch_no").over(W.partitionBy("group_key"))
        final = {
            (r["group_key"], r["sample_rank"], r["doc_id"])
            for r in t.withColumn("__mx", mx)
            .where(F.col("batch_no") == F.col("__mx"))
            .collect()
        }
        assert final == expect


class TestStreamingDhashDedup:
    def test_twin_flagged_across_batches(self, spark):
        import time as _time

        from symtseries_spark.operators.multimodal import (
            media_dhash,
            media_from_documents,
        )
        from symtseries_spark.streaming.media import streaming_dhash_dedup

        base = "The quick brown fox jumps over the lazy dog near the bank " \
               "of the quiet river while the tired hunter watches closely."
        other = "Completely different content about spark physical plans " \
                "and shuffle partitioning strategies at one hundred TBs!!"
        # batch 0: originals; batch 1: a 1-byte perturbation of doc 0
        # (near-twin, hamming <= 1) and an unrelated payload
        b0 = [(0, base), (1, other)]
        b1 = [(100, "~" + base[1:]), (101, other[::-1])]
        in_dir = tempfile.mkdtemp(prefix="mdh_in_")
        chk_dir = tempfile.mkdtemp(prefix="mdh_chk_")
        try:
            spark.createDataFrame(b0, "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{in_dir}/b0")
            _time.sleep(1.1)
            spark.createDataFrame(b1, "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{in_dir}/b1")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{in_dir}/b*")
            )
            out = streaming_dhash_dedup(
                media_from_documents(stream), max_hamming=6, bands=7
            )
            q = (
                out.writeStream.format("memory")
                .queryName("mdh_out")
                .outputMode("append")
                .option("checkpointLocation", chk_dir)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            verdict = {
                r.media_id: r.dup_of
                for r in spark.sql(
                    "SELECT media_id, min(dup_of) AS dup_of "
                    "FROM mdh_out GROUP BY media_id"
                ).collect()
            }
            assert verdict[0] is None and verdict[1] is None
            # cross-batch near-twin resolves to doc 0 via bucket state
            assert verdict[100] == 0
            # sanity: the twin really is within radius of the original
            docs = spark.createDataFrame(
                b0 + b1, "doc_id long, text string"
            )
            h = {
                r.media_id: r.dhash
                for r in media_dhash(media_from_documents(docs)).collect()
            }
            assert bin(h[0] ^ h[100]).count("1") <= 6
            if bin(h[0] ^ h[101]).count("1") > 6:
                assert verdict[101] is None
        finally:
            shutil.rmtree(in_dir, ignore_errors=True)
            shutil.rmtree(chk_dir, ignore_errors=True)

    def test_validation(self, spark):
        from symtseries_spark.streaming.media import streaming_dhash_dedup

        df = spark.createDataFrame(
            [(0, bytearray(b"x"))], "media_id long, payload binary"
        )
        with pytest.raises(ValueError, match="pigeonhole"):
            streaming_dhash_dedup(df, max_hamming=7, bands=7)
        with pytest.raises(ValueError, match="max_hamming"):
            streaming_dhash_dedup(df, max_hamming=-1, bands=4)
