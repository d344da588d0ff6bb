"""The benchmark workloads.

Each workload generates its inputs from the seed (:meth:`generate`,
NumPy + parquet, no Spark), prepares engine-side state (:meth:`build`),
then runs one closed-loop client: :meth:`op` issues the next operation
only after the previous one returned. Operations go through the
engine's public functions only. :meth:`check` compares every recorded
output against an independent reference and is never timed.

The op sequence is a function of the op index only, never of how fast
earlier ops ran: a faster engine runs more ops, not different ones.
:meth:`settle` runs after each op, outside its timing.

In a traced run, ops receive a :class:`trace.Tracer`; spans wrap the
calls into the engine's layer functions and the workload's recorder
collects per-op counts from the layer outputs. Counts are taken after a
span has closed, so they add to the traced wall time but never to a
layer's span.
"""

from __future__ import annotations

import math
import os
import shutil
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symtseries_spark import pykernel as pk
from symtseries_spark.functions.sax import sax_zeuclidean, sax_znorm
from symtseries_spark.operators.search import allpairs_within, mindist_to_pattern, topk_nearest
from symtseries_spark.operators.windows import sliding_sax, tumbling_sax, tumbling_values
from symtseries_spark.sources import read_words_multilevel, write_words_multilevel
from symtseries_spark.streaming import sliding_sax_stream

from . import gen, refs
from .trace import NullTracer


@dataclass
class Op:
    """One client operation: what it was, how much input it covered,
    how long it took (filled in by the runner) and whether it failed."""

    index: int
    kind: str
    items: int
    phase: str = ""
    seconds: float = 0.0
    cpu_s: float = 0.0  # CPU time of the whole process tree
    failed: bool = False


class InputsExhausted(Exception):
    """The workload has no generated input left for another op; the
    runner ends the timed phase instead of counting a failure."""


@dataclass
class Recorder:
    """Per-op layer counts gathered during traced ops."""

    values: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))

    def add(self, name: str, value: float) -> None:
        self.values[name].append(float(value))

    def median(self, name: str) -> float:
        v = self.values.get(name)
        return float(np.median(v)) if v else 0.0

    def total(self, name: str) -> float:
        return float(sum(self.values.get(name, ())))


def _dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


class Workload:
    name = ""
    item = ""  # what items_per_ref_cpu_s counts
    main_kind = ""  # the op kind op_cpu_ref_ms reports
    # untimed ops after set-up: the first ops of a fresh JVM (or a fresh
    # Python worker pool) pay code generation and JIT warm-up that a
    # long-running service pays once. On 4 cores an op's CPU time keeps
    # falling for several ops (a prune_refine query: 53, 21, 12, 10 s);
    # timed ops must start past the steep part, or how many of them fit
    # in the run would set their median
    warm_ops = 2
    # the op mix repeats every cycle_ops ops; warm-up and the timed phase
    # end on a whole cycle, so the timed ops always hold the same mix
    cycle_ops = 1

    def __init__(self, spark: SparkSession, seed: int):
        self.spark = spark
        self.seed = seed
        self.rec = Recorder()
        self.root = ""

    def generate(self, root: str) -> None:
        raise NotImplementedError

    def build(self) -> None:
        """Engine-side set-up after :meth:`generate` (default: none)."""

    def close(self) -> None:
        """Release engine-side state (default: none)."""

    def op(self, i: int, tr: NullTracer) -> Op:
        raise NotImplementedError

    def settle(self, i: int) -> None:
        """Untimed bookkeeping after op ``i`` (default: none)."""

    def check(self, ops: list[Op]) -> list[str]:
        raise NotImplementedError

    def layer_metrics(self, traced: list[Op], tr) -> dict[str, float]:
        raise NotImplementedError

    def _read(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)


def _median_span(tr, name: str) -> float:
    d = [s.end - s.start for s in tr.spans if s.name == name]
    return float(np.median(d)) if d else 0.0


def _last(tr, name: str) -> float:
    s = next(s for s in reversed(tr.spans) if s.name == name)
    return s.end - s.start


# ---------------------------------------------------------------------------
# encode_long: raw-point sliding-window encoding


class EncodeLong(Workload):
    """``sliding_sax`` (n=64, w=8, c=8) over long seeded random walks
    with sparse NaN/±Inf. Each op encodes one file of SERIES_PER_FILE
    whole series, files in turn, and drains the result: every row is
    computed, and only a sample (every SAMPLE_EVERY-th point plus each
    non-finite point) is returned, for the check. The sample predicate
    reads the order and value columns, so Spark cannot push it below the
    window."""

    name = "encode_long"
    item = "points"
    main_kind = "encode"
    N, W, C = 64, 8, 8
    FILES, SERIES_PER_FILE, LENGTH = 16, 16, 4096
    NONFINITE_SHARE = 0.001
    SAMPLE_EVERY = 61

    def generate(self, root: str) -> None:
        self.root = root
        rng = gen.rng_for(self.seed, self.name)
        self.values, self.paths = [], []
        for j in range(self.FILES):
            walks = gen.random_walks(rng, self.SERIES_PER_FILE, self.LENGTH)
            vals = gen.inject_nonfinite(rng, walks, self.NONFINITE_SHARE)
            sids = j * self.SERIES_PER_FILE + np.arange(self.SERIES_PER_FILE)
            self.paths.append(gen.write_parquet(gen.series_table(sids, vals), f"{root}/enc/f{j:02d}.parquet"))
            self.values.append(vals)
        self.results: dict[int, tuple[int, dict]] = {}

    def _encode(self, path: str) -> DataFrame:
        return sliding_sax(self._read(path), key="sid", order="t", value="v", n=self.N, w=self.W, c=self.C)

    def _sample(self, words: DataFrame) -> list:
        v = F.col("v")
        keep = (F.col("t") % self.SAMPLE_EVERY == 0) | F.isnan(v) | (F.abs(v) == float("inf"))
        return words.where(keep).select("sid", "t", "sax_word").collect()

    def op(self, i: int, tr: NullTracer) -> Op:
        j = i % self.FILES
        if tr.enabled:
            with tr.span("windows.sliding_sax"):
                words = tr.boundary(self._encode(self.paths[j]))
            rows = self._sample(words)
            self.rec.add("windows.encode_s", _last(tr, "windows.sliding_sax"))
            self.rec.add("windows.points", self.SERIES_PER_FILE * self.LENGTH)
            self.rec.add("windows.words", words.where(F.col("sax_word").isNotNull()).count())
            self.rec.add("windows.distinct_words", words.select("sax_word").distinct().count())
        else:
            rows = self._sample(self._encode(self.paths[j]))
        self.results[i] = (j, {(r.sid, r.t): r.sax_word for r in rows})
        return Op(i, "encode", self.SERIES_PER_FILE * self.LENGTH)

    def check(self, ops: list[Op]) -> list[str]:
        """Every sampled full window against ``pykernel.encode``; the
        sample itself must be complete."""
        problems = []
        for op in ops:
            if op.index not in self.results:
                continue
            j, got = self.results[op.index]
            vals = self.values[j]
            s, t = np.nonzero((np.arange(self.LENGTH) % self.SAMPLE_EVERY == 0) | ~np.isfinite(vals))
            p = []
            if len(got) != len(s):
                p.append(f"{len(got)} sampled rows, expected {len(s)}")
            expected = {
                (j * self.SERIES_PER_FILE + int(si), int(ti)): pk.encode(
                    list(vals[si, ti - self.N + 1 : ti + 1]), self.W, self.C
                )
                for si, ti in zip(s, t)
                if ti >= self.N - 1
            }
            p += refs.check_words(expected, got.items())
            if p:
                op.failed = True
                problems += [f"encode {op.index}: {x}" for x in p[:5]]
        return problems

    def layer_metrics(self, traced: list[Op], tr) -> dict[str, float]:
        r = self.rec
        return {
            "windows.encode_s": r.median("windows.encode_s"),
            "windows.points": r.median("windows.points"),
            "windows.words": r.median("windows.words"),
            "windows.distinct_words": r.median("windows.distinct_words"),
        }


# ---------------------------------------------------------------------------
# prune_refine: symbolic all-pairs prune, exact refine


class PruneRefine(Workload):
    """``tumbling_sax`` + ``tumbling_values`` (n=16, w=4, c=8) ->
    ``allpairs_within`` with z-normalized payloads attached -> exact
    ``sax_zeuclidean`` refine, over a group of short windows of which a
    seeded share are noisy copies of a few planted motifs. Each op is
    one all-pairs query over one group, results collected."""

    name = "prune_refine"
    item = "windows"
    main_kind = "query"
    warm_ops = 3
    N, W, C = 16, 4, 8
    DELTA = 0.5
    GROUPS, SERIES_PER_GROUP, WINDOWS_PER_SERIES = 6, 20, 40
    MOTIFS, MOTIF_SHARE, MOTIF_NOISE = 8, 0.1, 0.03
    KEY_STRIDE = 1000  # window key = series * KEY_STRIDE + window id

    def generate(self, root: str) -> None:
        self.root = root
        rng = gen.rng_for(self.seed, self.name)
        per_group = self.SERIES_PER_GROUP * self.WINDOWS_PER_SERIES
        self.paths, self.windows = [], []
        for g in range(self.GROUPS):
            walks = gen.random_walks(rng, self.SERIES_PER_GROUP, self.WINDOWS_PER_SERIES * self.N)
            wins = gen.plant_motifs(
                rng, walks.reshape(per_group, self.N),
                n_motifs=self.MOTIFS, share=self.MOTIF_SHARE, noise=self.MOTIF_NOISE,
            )
            sids = np.arange(self.SERIES_PER_GROUP) + g * self.SERIES_PER_GROUP
            table = gen.series_table(sids, wins.reshape(self.SERIES_PER_GROUP, -1))
            self.paths.append(gen.write_parquet(table, f"{root}/pr/g{g}.parquet"))
            self.windows.append(wins)
        self.results: dict[int, tuple[int, dict]] = {}

    def _keys(self, g: int) -> np.ndarray:
        s = np.repeat(np.arange(self.SERIES_PER_GROUP) + g * self.SERIES_PER_GROUP, self.WINDOWS_PER_SERIES)
        w = np.tile(np.arange(self.WINDOWS_PER_SERIES), self.SERIES_PER_GROUP)
        return s * self.KEY_STRIDE + w

    def op(self, i: int, tr: NullTracer) -> Op:
        g = i % self.GROUPS
        events = self._read(self.paths[g])
        wkey = (F.col("series_key") * self.KEY_STRIDE + F.col("window_id")).alias("wk")
        with tr.span("windows.tumbling_sax"):
            words = tr.boundary(
                tumbling_sax(events, key="sid", order="t", value="v", n=self.N, w=self.W, c=self.C)
                .select(wkey, "sax_word")
            )
        with tr.span("windows.tumbling_values"):
            vals = tr.boundary(
                tumbling_values(events, key="sid", order="t", value="v", n=self.N).select(wkey, "vals")
            )
        with tr.span("sax.znorm"):
            z = tr.boundary(vals.select("wk", sax_znorm(F.col("vals")).alias("z")))
        # without an n column mindist runs at compression 1, i.e. scaled
        # down by sqrt(n / w) against the exact distance
        scale = math.sqrt(self.N / self.W)
        with tr.span("search.allpairs_within"):
            pairs = tr.boundary(
                allpairs_within(
                    words, w=self.W, c=self.C, delta=self.DELTA / scale + 1e-9,
                    key_col="wk", n_col=None, attach=z, attach_key="wk", attach_col="z",
                )
            )
        with tr.span("sax.zeuclidean"):
            rows = (
                pairs.select(
                    "key_a", "key_b",
                    sax_zeuclidean(F.col("payload_a"), F.col("payload_b"), n=self.N).alias("d"),
                )
                .where(F.col("d") <= self.DELTA)
                .collect()
            )
        self.results[i] = (g, {(r.key_a, r.key_b): r.d for r in rows})
        if tr.enabled:
            n_win = len(self._keys(g))
            self.rec.add("windows.encode_s", _last(tr, "windows.tumbling_sax") + _last(tr, "windows.tumbling_values"))
            self.rec.add("windows.points", n_win * self.N)
            self.rec.add("windows.words", words.count())
            self.rec.add("windows.distinct_words", words.select("sax_word").distinct().count())
            cand = pairs.count()
            self.rec.add("search.candidates", cand)
            self.rec.add("search.word_pairs", pairs.select("word_a", "word_b").distinct().count())
            self.rec.add("search.matches", len(rows))
            self.rec.add("search.all_pairs", n_win * (n_win - 1) // 2)
            self.rec.add("sax.zeuclidean_s", _last(tr, "sax.zeuclidean"))
        return Op(i, "query", len(self._keys(g)))

    def check(self, ops: list[Op]) -> list[str]:
        expected = {}
        problems = []
        for op in ops:
            if op.index not in self.results:
                continue
            g, got = self.results[op.index]
            if g not in expected:
                expected[g] = refs.pairs_within(self._keys(g), self.windows[g], self.DELTA)
            p = refs.check_pairs(expected[g], got, self.DELTA)
            if p:
                op.failed = True
                problems += [f"query {op.index}: {x}" for x in p[:5]]
        return problems

    def layer_metrics(self, traced: list[Op], tr) -> dict[str, float]:
        r = self.rec
        cand = r.total("search.candidates")
        return {
            "windows.encode_s": r.median("windows.encode_s"),
            "windows.points": r.median("windows.points"),
            "windows.words": r.median("windows.words"),
            "windows.distinct_words": r.median("windows.distinct_words"),
            "search.allpairs_s": _median_span(tr, "search.allpairs_within"),
            "search.word_pairs": r.median("search.word_pairs"),
            "search.candidates": r.median("search.candidates"),
            "search.matches": r.median("search.matches"),
            "search.precision": r.total("search.matches") / cand if cand else 0.0,
            "search.prune_ratio": cand / r.total("search.all_pairs") if cand else 0.0,
            "sax.zeuclidean_ns_per_pair": 1e9 * r.total("sax.zeuclidean_s") / cand if cand else 0.0,
        }


# ---------------------------------------------------------------------------
# index_mixed: iSAX index probes interleaved with appends


class IndexMixed(Workload):
    """A two-level iSAX index (``write_words_multilevel``, levels 2 and 4
    under c=8) built in set-up; the client then interleaves top-k probes
    (``read_words_multilevel`` -> ``topk_nearest``) with appends of new
    series (``tumbling_sax`` -> ``write_words_multilevel(mode="append")``),
    every APPEND_EVERY-th op an append. After APPEND_BATCHES appends the
    appended files are removed again (untimed), so the index each op
    sees depends on its position in that cycle, not on the run's
    speed."""

    name = "index_mixed"
    item = "probes"
    main_kind = "probe"
    warm_ops = 5
    cycle_ops = 5  # four probes, then an append
    N, W, C, LEVELS, K = 32, 4, 8, (2, 4), 10
    BASE_SERIES, LENGTH = 64, 1024
    APPEND_SERIES, APPEND_BATCHES, APPEND_EVERY = 6, 4, 5
    PATTERNS = 64

    def generate(self, root: str) -> None:
        self.root = root
        rng = gen.rng_for(self.seed, self.name)
        self.base = gen.random_walks(rng, self.BASE_SERIES, self.LENGTH)
        self.base_path = gen.write_parquet(
            gen.series_table(np.arange(self.BASE_SERIES), self.base), f"{root}/ix/base.parquet"
        )
        self.appends, self.append_paths = [], []
        for j in range(self.APPEND_BATCHES):
            sids = 100_000 + j * self.APPEND_SERIES + np.arange(self.APPEND_SERIES)
            vals = gen.random_walks(rng, self.APPEND_SERIES, self.LENGTH)
            self.appends.append((sids, vals))
            self.append_paths.append(
                gen.write_parquet(gen.series_table(sids, vals), f"{root}/ix/append{j}.parquet")
            )
        # probe patterns: words of seeded base windows, so every probe
        # lands in a populated bucket chain
        picks = zip(
            rng.integers(0, self.BASE_SERIES, self.PATTERNS),
            rng.integers(0, self.LENGTH // self.N, self.PATTERNS),
        )
        self.patterns = [
            pk.encode(list(self.base[s, w * self.N : (w + 1) * self.N]), self.W, self.C)
            for s, w in picks
        ]
        self.index = f"{root}/ix/index"
        self.appended = 0
        self.probes: dict[int, tuple[str, int, list]] = {}

    def _write(self, events: DataFrame, mode: str) -> None:
        words = tumbling_sax(events, key="sid", order="t", value="v", n=self.N, w=self.W, c=self.C)
        write_words_multilevel(words, self.index, c=self.C, levels=self.LEVELS, mode=mode)

    def build(self) -> None:
        self._write(self._read(self.base_path), "overwrite")
        self.base_entries = set(self._entries())
        self.indexed_rows = self.BASE_SERIES * (self.LENGTH // self.N)

    def _entries(self):
        for d, dirs, names in os.walk(self.index):
            yield d
            for n in names:
                yield os.path.join(d, n)

    def op(self, i: int, tr: NullTracer) -> Op:
        if i % self.APPEND_EVERY == self.APPEND_EVERY - 1:
            return self._append(i, tr)
        return self._probe(i, tr)

    def settle(self, i: int) -> None:
        if self.appended < self.APPEND_BATCHES:
            return
        # back to the index set-up built: appended files first, then
        # the bucket directories only appends created (deepest first)
        extra = sorted(set(self._entries()) - self.base_entries, key=len, reverse=True)
        for p in extra:
            if os.path.isdir(p):
                os.rmdir(p)
            else:
                os.remove(p)
        self.appended = 0
        self.indexed_rows = self.BASE_SERIES * (self.LENGTH // self.N)

    def _probe(self, i: int, tr: NullTracer) -> Op:
        pattern = self.patterns[i % self.PATTERNS]
        with tr.span("sources.read_words_multilevel"):
            words = tr.boundary(
                read_words_multilevel(self.spark, self.index, pattern, c=self.C, levels=self.LEVELS)
            )
        order = ["series_key", "window_id"]
        if tr.enabled:
            # split topk_nearest at its layer boundary: the mindist
            # expression (functions.sax) and the ordered top-k
            with tr.span("sax.mindist_to_pattern"):
                scored = tr.boundary(mindist_to_pattern(words, pattern, c=self.C, n=self.N))
            with tr.span("search.topk"):
                top = scored.orderBy(F.col("mindist"), *order).limit(self.K).collect()
            rows = words.count()
            self.rec.add("sources.rows_per_probe", rows)
            self.rec.add("sources.files_per_probe", words.select(F.input_file_name()).distinct().count())
            self.rec.add("sources.indexed_rows", self.indexed_rows)
            self.rec.add("sax.mindist_ns_per_row", 1e9 * _last(tr, "sax.mindist_to_pattern") / max(rows, 1))
            self.rec.add("search.topk_s", _last(tr, "search.topk"))
        else:
            top = topk_nearest(words, pattern, c=self.C, k=self.K, n=self.N, tiebreakers=order).collect()
        got = [(r.mindist, r.series_key, r.window_id) for r in top]
        self.probes[i] = (pattern, self.appended, got)
        return Op(i, "probe", 1)

    def _append(self, i: int, tr: NullTracer) -> Op:
        j = self.appended
        if tr.enabled:
            before = _dir_usage(self.index)
            with tr.span("windows.tumbling_sax"):
                words = tr.boundary(
                    tumbling_sax(self._read(self.append_paths[j]), key="sid", order="t",
                                 value="v", n=self.N, w=self.W, c=self.C)
                )
            with tr.span("sources.write_words_multilevel"):
                write_words_multilevel(words, self.index, c=self.C, levels=self.LEVELS, mode="append")
            after = _dir_usage(self.index)
            self.rec.add("windows.points", self.APPEND_SERIES * self.LENGTH)
            self.rec.add("windows.words", words.count())
            self.rec.add("windows.distinct_words", words.select("sax_word").distinct().count())
            self.rec.add("windows.encode_s", _last(tr, "windows.tumbling_sax"))
            self.rec.add("sources.append_s", _last(tr, "sources.write_words_multilevel"))
            self.rec.add("sources.files_written", after[0] - before[0])
            self.rec.add("sources.bytes_written", after[1] - before[1])
        else:
            self._write(self._read(self.append_paths[j]), "append")
        self.appended += 1
        self.indexed_rows += self.APPEND_SERIES * (self.LENGTH // self.N)
        return Op(i, "append", 0)

    def check(self, ops: list[Op]) -> list[str]:
        def words_of(sids, vals):
            per = self.LENGTH // self.N
            return [
                (int(s), w, pk.encode(list(row[w * self.N : (w + 1) * self.N]), self.W, self.C))
                for s, row in zip(sids, vals)
                for w in range(per)
            ]

        known = words_of(np.arange(self.BASE_SERIES), self.base)
        batches = [words_of(*batch) for batch in self.appends]
        problems = []
        for op in ops:
            if op.index not in self.probes:
                continue
            pattern, appended, got = self.probes[op.index]
            visible = known + [w for b in batches[:appended] for w in b]
            scores = refs.bucket_scores(visible, pattern, c=self.C, n=self.N, levels=self.LEVELS)
            p = refs.check_topk(scores, got, self.K)
            if p:
                op.failed = True
                problems += [f"probe {op.index} ({pattern}): {x}" for x in p[:5]]
        return problems

    def layer_metrics(self, traced: list[Op], tr) -> dict[str, float]:
        r = self.rec
        rows = r.total("sources.rows_per_probe")
        return {
            "windows.encode_s": r.median("windows.encode_s"),
            "windows.points": r.median("windows.points"),
            "windows.words": r.median("windows.words"),
            "windows.distinct_words": r.median("windows.distinct_words"),
            "search.topk_s": r.median("search.topk_s"),
            "sax.mindist_ns_per_row": r.median("sax.mindist_ns_per_row"),
            "sources.files_per_probe": r.median("sources.files_per_probe"),
            "sources.rows_per_probe": r.median("sources.rows_per_probe"),
            "sources.scan_ratio": rows / r.total("sources.indexed_rows") if rows else 0.0,
            "sources.append_s": r.median("sources.append_s"),
            "sources.files_written": r.median("sources.files_written"),
            "sources.bytes_written": r.median("sources.bytes_written"),
        }


# ---------------------------------------------------------------------------
# stream_sliding: stateful streaming sliding-window encoding


class StreamSliding(Workload):
    """``sliding_sax_stream`` (n=64, w=8, c=8) over a file stream; each
    op drops the next seeded event file (Zipf-skewed series keys) into
    the watched directory and waits until its micro-batch commits —
    a closed loop of one file per trigger."""

    name = "stream_sliding"
    item = "events"
    main_kind = "batch"
    warm_ops = 3
    N, W, C = 64, 8, 8
    KEYS, ZIPF_A, EVENTS_PER_FILE, FILES = 400, 1.1, 5000, 64
    NONFINITE_SHARE = 0.002
    SAMPLED_KEYS = 8

    def generate(self, root: str) -> None:
        self.root = root
        rng = gen.rng_for(self.seed, self.name)
        total = self.EVENTS_PER_FILE * self.FILES
        self.sid = gen.zipf_keys(rng, self.KEYS, total, self.ZIPF_A)
        steps = rng.standard_normal(total)
        # per-key random walks in arrival order
        order = np.argsort(self.sid, kind="stable")
        walk = np.empty(total)
        sorted_sid = self.sid[order]
        csum = np.cumsum(steps[order])
        starts = np.searchsorted(sorted_sid, sorted_sid, side="left")
        walk[order] = csum - np.concatenate([[0.0], csum])[starts]
        self.v = gen.inject_nonfinite(rng, walk[None, :], self.NONFINITE_SHARE)[0]
        self.staged, self.watch = f"{root}/st/staged", f"{root}/st/in"
        os.makedirs(self.watch, exist_ok=True)
        for j in range(self.FILES):
            sl = slice(j * self.EVENTS_PER_FILE, (j + 1) * self.EVENTS_PER_FILE)
            table = pa.table({
                "sid": self.sid[sl],
                "t": np.arange(sl.start, sl.stop, dtype="int64"),
                "v": self.v[sl],
            })
            gen.write_parquet(table, f"{self.staged}/e{j:04d}.parquet")
        # hottest keys plus a seeded draw of the rest
        counts = np.bincount(self.sid, minlength=self.KEYS)
        hot = np.argsort(-counts, kind="stable")[: self.SAMPLED_KEYS // 2]
        cold = rng.choice(np.setdiff1d(np.arange(self.KEYS), hot), self.SAMPLED_KEYS - hot.size, replace=False)
        self.sampled = sorted(int(k) for k in np.concatenate([hot, cold]))
        self.fed = 0
        self.seen_batch: int | None = None  # last batch whose progress is recorded

    def build(self) -> None:
        schema = self._read(f"{self.staged}/e0000.parquet").schema
        events = self.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(self.watch)
        words = sliding_sax_stream(events, key="sid", order=["t"], value="v", n=self.N, w=self.W, c=self.C)
        # only the sampled keys reach the sink, for the output check
        self.sink = f"saxbench_{self.name}_{os.getpid()}_{abs(hash(self.root)) % 10**6}"
        self.query = (
            words.where(F.col("sid").isin(self.sampled))
            .writeStream.format("memory").queryName(self.sink).outputMode("append")
            .option("checkpointLocation", f"{self.root}/st/checkpoint")
            .start()
        )

    def close(self) -> None:
        self.query.stop()

    def op(self, i: int, tr: NullTracer) -> Op:
        if self.fed >= self.FILES:
            raise InputsExhausted(f"all {self.FILES} generated event files fed")
        if tr.enabled and self.seen_batch is None:
            # record only the batches of traced ops, not the warm-up's
            last = self.query.lastProgress
            self.seen_batch = last.batchId if last else -1
        name = f"e{self.fed:04d}.parquet"
        os.rename(f"{self.staged}/{name}", f"{self.watch}/{name}")
        self.fed += 1
        self.query.processAllAvailable()
        if tr.enabled:
            self._record_progress(tr)
        return Op(i, "batch", self.EVENTS_PER_FILE)

    def _record_progress(self, tr) -> None:
        """Per-batch phase durations from Spark's StreamingQueryProgress,
        added as spans laid end to end from the trigger's start."""
        from datetime import datetime
        import time

        offset = time.time() - time.perf_counter()
        for p in self.query.recentProgress:
            if p.batchId <= self.seen_batch or p.numInputRows == 0:
                continue
            self.seen_batch = p.batchId
            d = p.durationMs
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() - offset
            phases = [
                ("stream.source", d.get("latestOffset", 0) + d.get("getBatch", 0)),
                ("stream.plan", d.get("queryPlanning", 0)),
                ("stream.add_batch", d.get("addBatch", 0)),
                ("stream.commit", d.get("walCommit", 0) + d.get("commitOffsets", 0)),
            ]
            for name, ms in phases:
                tr.add(name, start, start + ms / 1000)
                start += ms / 1000
                self.rec.add(f"{name}_ms", ms)
            self.rec.add("stream.rows_per_batch", p.numInputRows)
            state = p.stateOperators[0]
            self.rec.add("stream.state_rows", state.numRowsTotal)
            self.rec.add("stream.state_bytes", state.memoryUsedBytes)

    def check(self, ops: list[Op]) -> list[str]:
        fed = self.fed * self.EVENTS_PER_FILE
        expected, events = {}, 0
        for k in self.sampled:
            idx = np.nonzero(self.sid[:fed] == k)[0]
            events += idx.size
            win = pk.SlidingWindow(self.N, self.W, self.C)
            for pos, t in enumerate(idx):
                word = win.append(float(self.v[t]))
                # a partial window whose values all sit in its last frame
                # has that frame's z exactly on the 0 breakpoint, where
                # rounding picks the letter; only full windows are compared
                if pos >= self.N - 1:
                    expected[(k, int(t))] = word
        rows = self.spark.sql(f"SELECT sid, t, sax_word FROM {self.sink}").collect()
        problems = refs.check_words(expected, (((r.sid, r.t), r.sax_word) for r in rows))
        if len(rows) != events:
            problems.append(f"{len(rows)} sampled-key rows emitted, expected {events}")
        if problems:
            for op in ops:
                op.failed = True
        return problems

    def layer_metrics(self, traced: list[Op], tr) -> dict[str, float]:
        r = self.rec
        return {
            "stream.add_batch_ms": r.median("stream.add_batch_ms"),
            "stream.source_ms": r.median("stream.source_ms"),
            "stream.commit_ms": r.median("stream.commit_ms"),
            "stream.rows_per_batch": r.median("stream.rows_per_batch"),
            "stream.state_rows": r.values["stream.state_rows"][-1] if traced else 0.0,
            "stream.state_bytes": r.values["stream.state_bytes"][-1] if traced else 0.0,
        }


WORKLOADS = {w.name: w for w in (EncodeLong, PruneRefine, IndexMixed, StreamSliding)}


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
