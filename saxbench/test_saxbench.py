"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest saxbench -q
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pyarrow.parquet as pq
import pytest

from saxbench import gen, refs, run
from saxbench.trace import Tracer
from saxbench.workloads import WORKLOADS, Op

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def _parquet_files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                # pandas equality treats NaN == NaN; arrow's does not
                out[os.path.relpath(os.path.join(d, n), root)] = pq.read_table(os.path.join(d, n)).to_pandas()
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_deterministic_per_seed(name, tmp_path):
    tables = []
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        wl = WORKLOADS[name](None, seed)
        wl.generate(str(tmp_path / tag))
        tables.append(_parquet_files(str(tmp_path / tag)))
    same, other = tables[0], tables[2]
    assert same.keys() == tables[1].keys() and same
    assert all(same[k].equals(tables[1][k]) for k in same)
    assert any(not same[k].equals(other[k]) for k in same)


def test_generated_inputs_have_the_advertised_properties():
    rng = np.random.default_rng(0)
    y = gen.inject_nonfinite(rng, np.zeros((10, 1000)), 0.01)
    assert np.isnan(y).sum() > 0 and np.isposinf(y).sum() > 0 and np.isneginf(y).sum() > 0
    keys = gen.zipf_keys(rng, 100, 20000, 1.1)
    counts = np.sort(np.bincount(keys, minlength=100))[::-1]
    assert counts[0] > 10 * counts[50]


def test_printed_metrics_are_named_in_benchmark_json():
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    # encode_long is runnable by name but left out of BENCHMARK.json
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)

    timed = [Op(0, "q", 5, seconds=0.5, cpu_s=1.0), Op(1, "q", 5, seconds=0.7, cpu_s=1.5)]
    values = run.end_to_end(1.0, timed, "q", 1024, [run.REF_CAL_MS / 2, run.REF_CAL_MS / 2])
    assert set(values) == set(run.END_TO_END)
    # calibration at half the reference: a host twice as fast, so CPU times double
    assert values["items_per_ref_cpu_s"] == 2.0 and values["op_cpu_ref_ms"] == 2500.0
    for cls in WORKLOADS.values():
        produced = set(cls(None, 0).layer_metrics([], Tracer("t")))
        assert produced <= set(run.PER_LAYER), produced - set(run.PER_LAYER)


def test_tail_value_needs_ten_samples_beyond_it():
    assert run.tail_value(list(range(19))) is None
    pct, value = run.tail_value(list(range(100)))
    assert value == 89 and sum(v > value for v in range(100)) == 10 and pct == 90.0


def test_self_time_subtracts_children():
    tr = Tracer("t")
    with tr.span("bench.op"):
        with tr.span("windows.x"):
            pass
        with tr.span("search.y"):
            pass
    op, a, b = tr.spans
    selfs = tr.self_times()
    assert math.isclose(
        selfs[op.id], (op.end - op.start) - (a.end - a.start) - (b.end - b.start), abs_tol=1e-9
    )
    assert set(tr.self_time_by(lambda n: n.split(".")[0])) == {"bench", "windows", "search"}


def test_checks_reject_corrupted_outputs():
    expected = {(1, 5): "ABCD", (1, 6): "ABCE"}
    assert refs.check_words(expected, [((1, 5), "ABCD"), ((1, 6), "ABCE")]) == []
    assert refs.check_words(expected, [((1, 5), "ABCD"), ((1, 6), "ABCF")])
    assert refs.check_words(expected, [((1, 5), "ABCD")])

    rng = np.random.default_rng(3)
    wins = np.cumsum(rng.standard_normal((60, 16)), axis=1)
    wins[10] = wins[3] * 2 + 1  # an exact motif copy: distance 0
    keys = np.arange(60) * 7
    pairs = refs.pairs_within(keys, wins, 1.0)
    assert pairs[(21, 70)] == pytest.approx(0.0, abs=1e-9)
    assert refs.check_pairs(pairs, dict(pairs), 1.0) == []
    dropped = dict(pairs)
    dropped.pop((21, 70))
    assert refs.check_pairs(pairs, dropped, 1.0)
    assert refs.check_pairs(pairs, {**pairs, (0, 7): 0.5}, 1.0)

    known = [(3, 0, "AABB"), (1, 1, "AAAB"), (2, 0, "BBBB"), (1, 0, "AAAA"), (4, 0, "HAAA")]
    scores = refs.bucket_scores(known, "AAAA", c=8, n=32, levels=(2,))
    assert [s[1:] for s in scores] == [(1, 0), (1, 1), (2, 0), (3, 0)]  # HAAA: other bucket
    assert refs.check_topk(scores, scores[:2], 2) == []
    assert refs.check_topk(scores, [scores[0], scores[2]], 2)
    assert refs.check_topk(scores, [(scores[0][0] + 0.1, 1, 0), scores[1]], 2)
    assert refs.check_topk(scores, [scores[1], scores[0]], 2)
    assert refs.check_topk(scores, scores[:1], 2)


def test_tree_cpu_counts_child_processes():
    import subprocess
    import sys

    before = run.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ninput()"],
                             stdin=subprocess.PIPE)
    time.sleep(0.6)
    during = run.tree_cpu_s(os.getpid())
    child.communicate(b"\n")
    assert during - before >= 0.25
