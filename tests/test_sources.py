"""iSAX-bucketed storage layout: partitioned write + pruned read."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from symtseries_spark import pykernel as pk
from symtseries_spark.operators import tumbling_sax
from symtseries_spark.sources import load, read_words_multilevel, write_words_multilevel

PARAMS = dict(n=16, w=4, c=8)


class TestBucketedLayout:
    def test_roundtrip_and_partition_pruning(self, spark, sf_dir):
        """The one-level layout (``levels=(2,)``): one coarse-bucket
        directory per c=2 word, read back partition-pruned."""
        words = tumbling_sax(
            load(spark, sf_dir, "events"),
            key="user_id", order=["ts", "event_id"], value="value", **PARAMS,
        )
        out_dir = tempfile.mkdtemp(prefix="sax_bucketed_")
        try:
            write_words_multilevel(words, out_dir, c=8, levels=(2,))
            # pick a pattern whose bucket is non-empty
            some_word = words.limit(1).collect()[0].sax_word
            got = read_words_multilevel(spark, out_dir, some_word, c=8, levels=(2,))
            expected = {
                (r.series_key, r.window_id): r.sax_word
                for r in words.collect()
                if pk.coarsen(r.sax_word, 8, 2) == pk.coarsen(some_word, 8, 2)
            }
            actual = {
                (r.series_key, r.window_id): r.sax_word for r in got.collect()
            }
            assert actual == expected and len(actual) > 0
            # the filter must land on the partition column, not the rows
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters" in plan
            assert "isax_l0" in plan.split("PartitionFilters")[1][:200]
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)


class TestMultilevelLayout:
    def test_two_level_pruning_and_equivalence(self, spark, sf_dir):
        """The nested c=2/c=4 layout must (a) prune with PartitionFilters
        on BOTH level columns and (b) return exactly the rows the flat
        coarse filter at the finest level would (breakpoint nesting:
        l1 equality implies l0 equality)."""
        from symtseries_spark.functions.sax import sax_coarsen
        from symtseries_spark.sources import (
            read_words_multilevel,
            write_words_multilevel,
        )

        words = tumbling_sax(
            load(spark, sf_dir, "events"),
            key="user_id", order=["ts", "event_id"], value="value", **PARAMS,
        )
        out_dir = tempfile.mkdtemp(prefix="sax_ml_")
        try:
            write_words_multilevel(words, out_dir, c=8, levels=(2, 4))
            some_word = words.limit(1).collect()[0].sax_word
            got = read_words_multilevel(
                spark, out_dir, some_word, c=8, levels=(2, 4)
            )
            expected = {
                (r.series_key, r.window_id): r.sax_word
                for r in words.where(
                    sax_coarsen(F.col("sax_word"), 8, 4)
                    == pk.coarsen(some_word, 8, 4)
                ).collect()
            }
            actual = {
                (r.series_key, r.window_id): r.sax_word for r in got.collect()
            }
            assert actual == expected and len(actual) > 0
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters" in plan
            pf = plan.split("PartitionFilters")[1][:300]
            assert "isax_l0" in pf and "isax_l1" in pf
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_read_validates_before_building_a_path(self, spark, tmp_path):
        """A letter outside the cardinality (``Z``, lowercase) or levels
        the writer would refuse raise, instead of coarsening to a chain
        that silently reads nothing."""
        path = str(tmp_path / "never_written")
        for pattern in ("AAAZ", "aaaa"):
            with pytest.raises(ValueError):
                read_words_multilevel(spark, path, pattern, c=8)
        for levels in ((4, 2), (2, 8)):
            with pytest.raises(ValueError):
                read_words_multilevel(spark, path, "AAAA", c=8, levels=levels)

    @pytest.mark.parametrize("levels", [(2,), (2, 4)], ids=["one-level", "two-level"])
    def test_read_lists_only_the_chain(self, spark, tmp_path, levels):
        """The read opens only the pattern's leaf directory ('#' escaped
        as %23, as Spark writes it) and keeps the index's schema; a chain
        the index does not hold, or an empty chain directory, reads as an
        empty frame with the index's columns."""
        from urllib.parse import unquote

        rows = list(enumerate(["ABCD", "ABCE", "A#CD", "A#CH", "HHHA", "#BCD", "ABCD"]))
        words = spark.createDataFrame(rows, "window_id int, sax_word string")
        path = str(tmp_path / "index")
        write_words_multilevel(words, path, c=8, levels=levels)
        schema = spark.read.parquet(path).schema

        def chain(word):
            return [pk.coarsen(word, 8, cc) for cc in levels]

        for pattern in ("ABCD", "A#CD"):
            got = read_words_multilevel(spark, path, pattern, c=8, levels=levels)
            expected = sorted(i for i, w in rows if chain(w) == chain(pattern))
            assert sorted(r.window_id for r in got.collect()) == expected and expected
            assert got.schema == schema
            leaf = "/".join(
                f"isax_l{i}={w.replace('#', '%23')}" for i, w in enumerate(chain(pattern))
            )
            files = [unquote(f) for f in got.inputFiles()]
            assert files and all(f"/{leaf}/" in f for f in files), (leaf, files)

        # HHHH's chain holds no word; AAEE's is an empty directory
        (tmp_path / "index" / "/".join(
            f"isax_l{i}={w}" for i, w in enumerate(chain("AAEE"))
        )).mkdir(parents=True)
        for pattern in ("HHHH", "AAEE"):
            got = read_words_multilevel(spark, path, pattern, c=8, levels=levels)
            assert got.schema == schema and got.count() == 0

    def test_levels_must_increase(self, spark, sf_dir):
        from symtseries_spark.sources import write_words_multilevel

        words = tumbling_sax(
            load(spark, sf_dir, "events").where(F.col("user_id") < 3),
            key="user_id", order=["ts", "event_id"], value="value", **PARAMS,
        )
        with pytest.raises(ValueError):
            write_words_multilevel(words, "/tmp/unused", c=8, levels=(4, 2))
        with pytest.raises(ValueError):
            write_words_multilevel(words, "/tmp/unused", c=8, levels=(2, 8))


class TestIndexSchema:
    """The index carries its schema (``_schema.json``): a probe reads
    it without a Spark job, and an append must match it."""

    ROWS = [(0, "ABCD", 32), (1, "ABCC", 32), (2, "HHHA", 32), (3, "A#CD", 32)]

    def _index(self, spark, path, levels=(2, 4)):
        words = spark.createDataFrame(self.ROWS, "window_id int, sax_word string, n int")
        write_words_multilevel(words, path, c=8, levels=levels)
        return words

    @staticmethod
    def _entries(path):
        import os

        return sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)

    def test_stored_schema_is_what_parquet_infers(self, spark, tmp_path):
        """The stored schema is the inferred one, nested types included,
        and the schema file stays out of a plain read of the root."""
        import json

        from pyspark.sql.types import StructType

        path = str(tmp_path / "index")
        words = spark.createDataFrame(
            [(1, "ABCD", (1.5, [2, 3]), {"a": 1})],
            "window_id int not null, sax_word string,"
            " s struct<x: double not null, y: array<int>>, m map<string, int>",
        )
        write_words_multilevel(words, path, c=8)
        stored = StructType.fromJson(json.loads((tmp_path / "index" / "_schema.json").read_text()))
        plain = spark.read.parquet(path)
        assert plain.schema == stored
        assert plain.columns == ["window_id", "sax_word", "s", "m", "isax_l0", "isax_l1"]
        assert plain.count() == 1
        assert read_words_multilevel(spark, path, "ABCD", c=8).schema == stored

    def test_append_checks_the_schema_before_writing(self, spark, tmp_path):
        path = str(tmp_path / "index")
        self._index(spark, path)
        before = self._entries(path)
        other = spark.createDataFrame([(9, "ABCD", 32)], "window_id long, sax_word string, n int")
        with pytest.raises(ValueError, match="cannot append"):
            write_words_multilevel(other, path, c=8, mode="append")
        assert self._entries(path) == before
        # the same columns append, a NOT NULL column included
        same = spark.createDataFrame([(9, "ABCD", 32)], "window_id int not null, sax_word string, n int")
        write_words_multilevel(same, path, c=8, mode="append")
        got = read_words_multilevel(spark, path, "ABCD", c=8)
        assert sorted(r.window_id for r in got.collect()) == [0, 1, 9]

    def test_append_into_a_new_or_empty_directory_writes_the_schema(self, spark, tmp_path):
        words = spark.createDataFrame(self.ROWS, "window_id int, sax_word string, n int")
        (tmp_path / "empty").mkdir()
        for name in ("new", "empty"):
            path = str(tmp_path / name)
            write_words_multilevel(words, path, c=8, mode="append")
            assert (tmp_path / name / "_schema.json").is_file()
            got = read_words_multilevel(spark, path, "ABCD", c=8)
            assert sorted(r.window_id for r in got.collect()) == [0, 1]

    def test_a_directory_without_the_schema_file_is_refused(self, spark, tmp_path):
        """No inference fallback: read and append both name the fix."""
        path = str(tmp_path / "index")
        words = self._index(spark, path)
        (tmp_path / "index" / "_schema.json").unlink()
        with pytest.raises(ValueError, match="rewrite the index with write_words_multilevel"):
            read_words_multilevel(spark, path, "ABCD", c=8)
        with pytest.raises(ValueError, match="rewrite the index with write_words_multilevel"):
            write_words_multilevel(words, path, c=8, mode="append")
        write_words_multilevel(words, path, c=8)
        assert read_words_multilevel(spark, path, "ABCD", c=8).count() == 2

    def test_a_missing_chain_reads_no_file(self, spark, tmp_path):
        path = str(tmp_path / "index")
        self._index(spark, path)
        got = read_words_multilevel(spark, path, "HHHH", c=8)
        assert got.inputFiles() == [] and got.count() == 0
        assert got.schema == spark.read.parquet(path).schema

    def test_a_probe_runs_one_spark_job(self, spark, tmp_path):
        """Reading the chain infers nothing: the probe's collect is its
        only job."""
        import uuid

        from symtseries_spark.operators.search import topk_nearest

        path = str(tmp_path / "index")
        self._index(spark, path)
        sc = spark.sparkContext
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "one probe")
        try:
            words = read_words_multilevel(spark, path, "ABCD", c=8)
            top = topk_nearest(words, "ABCD", c=8, k=3, n="n", tiebreakers=["window_id"]).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert [r.window_id for r in top] == [0, 1]
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    def test_read_py4j_calls_flat_in_levels(self, spark, tmp_path, py4j_calls):
        """Building a read costs the same few driver->JVM round trips
        at one level and at two: the level predicates are one SQL
        string. 26 calls were measured at both."""
        calls = {}
        for levels in ((2,), (2, 4)):
            path = str(tmp_path / f"index{len(levels)}")
            self._index(spark, path, levels)
            read_words_multilevel(spark, path, "ABCD", c=8, levels=levels)  # warm-up
            start = py4j_calls.n
            read_words_multilevel(spark, path, "ABCD", c=8, levels=levels)
            calls[levels] = py4j_calls.n - start
        assert calls[(2,)] == calls[(2, 4)] <= 30, calls


class TestLoadSeries:
    def test_csv_and_json_roundtrip(self, spark, sf_dir):
        import shutil as _shutil
        import tempfile as _tempfile

        from symtseries_spark.operators import tumbling_sax
        from symtseries_spark.sources import load_series

        events = load(spark, sf_dir, "events").where(F.col("user_id") < 10).select(
            "user_id", "ts", "event_id", "value"
        )
        ddl = "user_id long, ts long, event_id long, value double"
        base = _tempfile.mkdtemp(prefix="src_fmt_")
        try:
            events.coalesce(1).write.option("header", "true").csv(f"{base}/csv")
            events.coalesce(1).write.json(f"{base}/json")
            expected = {
                (r.series_key, r.window_id): r.sax_word
                for r in tumbling_sax(
                    events, key="user_id", order=["ts", "event_id"],
                    value="value", **PARAMS,
                ).collect()
            }
            for fmt in ("csv", "json"):
                df = load_series(spark, f"{base}/{fmt}", fmt=fmt, schema=ddl)
                got = {
                    (r.series_key, r.window_id): r.sax_word
                    for r in tumbling_sax(
                        df, key="user_id", order=["ts", "event_id"],
                        value="value", **PARAMS,
                    ).collect()
                }
                assert got == expected and len(got) > 0, fmt
            with pytest.raises(ValueError):
                load_series(spark, base, fmt="csv")  # schema required
            with pytest.raises(ValueError):
                load_series(spark, base, fmt="orc2")
        finally:
            _shutil.rmtree(base, ignore_errors=True)


class TestBucketedTables:
    def test_bucketed_join_has_no_exchange(self, spark, sf_dir):
        """Two tables bucketed+sorted on the join key must join with NO
        Exchange and NO Sort on either side (the co-located-join layout
        a 100 TB deployment stores its fact tables in)."""
        from symtseries_spark.sources import load, write_bucketed_table

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        orders = load(spark, sf_dir, "orders")
        lineitem = load(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        write_bucketed_table(
            orders, "b_orders", key="o_orderkey", num_buckets=4
        )
        write_bucketed_table(
            lineitem, "b_lineitem", key="o_orderkey", num_buckets=4
        )
        try:
            j = spark.table("b_orders").join(
                spark.table("b_lineitem"), "o_orderkey"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            n = j.count()
            expect = (
                load(spark, sf_dir, "orders")
                .join(
                    load(spark, sf_dir, "lineitem"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                .count()
            )
            assert n == expect
        finally:
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


class TestWriteCompacted:
    def test_file_count_and_range_clustering(self, spark, tmp_path):
        import glob

        from pyspark.sql import functions as F

        from symtseries_spark.sources import write_compacted

        df = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        path = str(tmp_path / "compact")
        n_files = write_compacted(
            df, path, target_rows_per_file=2500, order_cols=["k"]
        )
        assert n_files == 4
        parts = glob.glob(f"{path}/part-*.parquet")
        assert len(parts) == 4
        # range clustering: per-file key bands must not overlap
        import pyarrow.parquet as pq

        bands = []
        for p in parts:
            t = pq.read_table(p, columns=["k"])["k"]
            bands.append((t[0].as_py(), t[-1].as_py(), len(t)))
        bands.sort()
        for (lo1, hi1, _), (lo2, hi2, _) in zip(bands, bands[1:]):
            assert hi1 < lo2
        # similarly sized files (range partitioner is sample-based; allow slack)
        sizes = sorted(b[2] for b in bands)
        assert sizes[0] > 1000 and sizes[-1] < 5000
        # round-trip
        assert spark.read.parquet(path).count() == 10_000

    def test_invalid_target_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from symtseries_spark.sources import write_compacted

        with _pytest.raises(ValueError):
            write_compacted(
                spark.range(5), str(tmp_path / "x"), target_rows_per_file=0
            )


class TestWriteZordered:
    def test_zorder_key_matches_python_morton(self, spark):
        from pyspark.sql import functions as F

        from symtseries_spark.sources import zorder_key

        def py_morton(vals, bits):
            z = 0
            for i, v in enumerate(vals):
                v &= (1 << bits) - 1
                for j in range(bits):
                    z |= ((v >> j) & 1) << (j * len(vals) + i)
            return z

        df = spark.createDataFrame(
            [(a, b) for a in [0, 1, 5, 63, 255] for b in [0, 2, 7, 100]],
            "a long, b long",
        )
        out = df.select(
            "a", "b", zorder_key([F.col("a"), F.col("b")], bits=8).alias("z")
        ).collect()
        for r in out:
            assert r.z == py_morton([r.a, r.b], 8), (r.a, r.b)

    def test_second_column_predicate_prunes_files(self, spark, tmp_path):
        """On a (u, d) grid, a predicate on the SECOND column alone must
        have tight per-file bands under Z-order (every file is a curve
        tile) where single-column range clustering leaves d spanning the
        full domain in every file."""
        import glob

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from symtseries_spark.sources import write_compacted, write_zordered

        grid = spark.range(0, 64 * 64).select(
            (F.col("id") % 64).alias("u"), (F.col("id") / 64).cast("long").alias("d")
        )
        zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
        nz = write_zordered(
            grid, zpath, cluster_cols=["u", "d"], target_rows_per_file=256,
            bits=6,
        )
        write_compacted(
            grid, rpath, target_rows_per_file=256, order_cols=["u"]
        )
        assert nz == 16

        def candidates(path, lo, hi):
            n = 0
            for p in glob.glob(f"{path}/part-*.parquet"):
                d = pq.read_table(p, columns=["d"])["d"].to_pylist()
                if min(d) <= hi and max(d) >= lo:
                    n += 1
            return n

        z_cand = candidates(zpath, 10, 13)
        r_cand = candidates(rpath, 10, 13)
        assert r_cand == 16          # u-range layout: every file has all d
        assert z_cand < r_cand / 2   # curve tiles: most files skipped
        # layout is a pure reordering
        got = sorted(
            (r.u, r.d) for r in spark.read.parquet(zpath).collect()
        )
        assert got == sorted((r.u, r.d) for r in grid.collect())

    def test_bit_budget_validation(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from symtseries_spark.sources import zorder_key

        with _pytest.raises(ValueError):
            zorder_key([F.col("a")], bits=8)
        with _pytest.raises(ValueError):
            zorder_key([F.col("a"), F.col("b")], bits=32)
