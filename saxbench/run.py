#!/usr/bin/env python3
"""SAX engine benchmark.

    python3 saxbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One workload per process: the script
starts a local Spark session (``local[<cpus>]``, shuffle partitions =
cpus), generates the workload's inputs from ``--seed``, sets up twice
three times (reporting the median CPU time), warms up, then runs one
closed-loop client for ``--seconds``, rounded up to whole cycles of the
workload's op mix, and checks every output against an independent
reference. The end-to-end metrics are taken over the whole timed phase. ``--workload all`` runs each workload in its own fresh
process and prints their results.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is an
``info`` object (host stamp, per-op-kind sample counts, wall latency
and CPU time). The exit code is non-zero when any output check fails.
Traced runs also write their spans, with self time per layer, under
``.saxbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (tracing off): name -> unit. Op cost is CPU time,
#: not wall time: on a shared 4-core VM the hypervisor takes CPUs back
#: in bursts lasting minutes, and CPU time of the process tree does not
#: count stolen time. It still follows the host's load (a batch's CPU
#: time moved by 0.15 of itself across ten runs of one workload), so op
#: CPU time is scaled to a reference host speed: times REF_CAL_MS over
#: the run's median CPU time of a fixed engine-free Spark job run
#: between timed ops, which cut that spread to 0.06. Wall-time
#: latencies per op kind and the raw CPU times are in the info line.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ref_ms": "ms",
    "items_per_ref_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}

#: rows of the calibration job, and its CPU time on the reference host
#: (a 4-vCPU Xeon KVM guest, JVM options below)
CAL_ROWS = 4_000_000
REF_CAL_MS = 700.0

#: per-layer metrics (tracing on): name -> unit
PER_LAYER = {
    "windows.encode_s": "s",
    "windows.points": "count",
    "windows.words": "count",
    "windows.distinct_words": "count",
    "search.allpairs_s": "s",
    "search.word_pairs": "count",
    "search.candidates": "count",
    "search.matches": "count",
    "search.precision": "ratio",
    "search.prune_ratio": "ratio",
    "search.topk_s": "s",
    "sax.zeuclidean_ns_per_pair": "ns",
    "sax.mindist_ns_per_row": "ns",
    "sources.files_per_probe": "count",
    "sources.rows_per_probe": "count",
    "sources.scan_ratio": "ratio",
    "sources.append_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "stream.add_batch_ms": "ms",
    "stream.source_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.rows_per_batch": "count",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "spark.shuffle_write_mb": "MB",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
}

#: set-up repetitions per run; setup_s reports their median, i.e. a
#: warm repetition (the first runs on a cold JVM)
SETUP_REPS = 3

#: JVM options. The JIT is held at C1: with C2 the CPU time of an
#: index_mixed probe kept falling over 50 probes (2.3 to 0.85 CPU-s)
#: as compilation went on in the background, so a run's median depended
#: on how far the host let the JIT get; under C1 it is flat from the
#: first timed op. The serial collector keeps idle GC threads from
#: spinning on the shared cores.
JVM_OPTIONS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of ``pid`` (VmHWM), in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every live
    process below it (the JVM, Spark's Python workers), including the
    exited children each of them has reaped."""
    ppid, used = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        # fields[1] is the ppid; fields[11:15] utime, stime, cutime, cstime
        ppid[int(name)] = int(fields[1])
        used[int(name)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += used.get(pid, 0)
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def tail_value(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``; None with fewer than 20 samples, where no
    percentile at or above the median qualifies."""
    if len(samples) < 20:
        return None
    s = sorted(samples)
    i = len(s) - 11
    return 100.0 * (i + 1) / len(s), s[i]


def summarize(ops) -> dict:
    """Per op kind: sample count, and median and tail of wall latency and
    CPU time in ms."""
    out = {}
    for kind in sorted({o.kind for o in ops}):
        ms = [1000 * o.seconds for o in ops if o.kind == kind]
        cpu = [1000 * o.cpu_s for o in ops if o.kind == kind]
        tail = tail_value(ms)
        out[kind] = {
            "n": len(ms),
            "p50_ms": statistics.median(ms),
            "cpu_p50_ms": statistics.median(cpu),
            "ms": [round(x, 1) for x in ms],
            "cpu_ms": [round(x, 1) for x in cpu],
            "tail": None if tail is None else {"pct": tail[0], "ms": tail[1]},
        }
    return out


def end_to_end(setup_s: float, timed, main_kind: str, rss_kb: int, cal_ms: list[float]) -> dict:
    """``timed``: the timed ops, whole cycles of the op mix; ``cal_ms``:
    the calibration job's CPU time after each of them."""
    scale = REF_CAL_MS / statistics.median(cal_ms)
    main = [o.cpu_s for o in timed if o.kind == main_kind]
    return {
        "setup_s": setup_s,
        "op_cpu_ref_ms": 1000 * statistics.median(main) * scale,
        "items_per_ref_cpu_s": sum(o.items for o in timed if not o.failed) / (sum(o.cpu_s for o in timed) * scale),
        "peak_rss_mb": rss_kb / 1024,
    }


def calibrate(spark, pid: int) -> float:
    """CPU ms of the process tree for one fixed Spark job that calls no
    engine code: the host's speed for JVM work at this moment."""
    c = tree_cpu_s(pid)
    spark.range(0, CAL_ROWS, numPartitions=cpus()).selectExpr("sum(hash(id) % 1000)").collect()
    return 1000 * (tree_cpu_s(pid) - c)


def with_units(values: dict, units: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


def start_session(work: str):
    from pyspark.sql import SparkSession

    n = cpus()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("saxbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_one(args: argparse.Namespace) -> int:
    if not os.path.isdir(os.path.join(ROOT, "symtseries_spark")):
        print(f"saxbench: engine package symtseries_spark not found under {ROOT}", file=sys.stderr)
        return 2
    # Python workers (applyInPandasWithState) import the engine by name
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".saxbench", f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    load_before = os.getloadavg()
    pid = os.getpid()
    t0, cpu0 = time.perf_counter(), tree_cpu_s(pid)
    from saxbench.trace import NullTracer, SparkCounters, Tracer
    from saxbench.workloads import WORKLOADS, InputsExhausted, Op, remove_tree

    if args.workload not in WORKLOADS:
        print(f"saxbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spark = start_session(work)
    session_s, session_cpu_s = time.perf_counter() - t0, tree_cpu_s(pid) - cpu0
    try:
        import pyspark

        wl = WORKLOADS[args.workload](spark, args.seed)
        rep_s, rep_cpu_s = [], []
        for r in range(SETUP_REPS):
            if r:
                wl.close()
                remove_tree(wl.root)
            t, cpu = time.perf_counter(), tree_cpu_s(pid)
            wl.generate(os.path.join(work, f"rep{r}"))
            wl.build()
            rep_s.append(time.perf_counter() - t)
            rep_cpu_s.append(tree_cpu_s(pid) - cpu)
        # CPU time, like the op metrics: wall set-up time moved by a
        # quarter between batches of runs as the host's load changed
        setup_s = session_cpu_s + statistics.median(rep_cpu_s)

        ops = []

        def run(phase: str, tr, *, seconds: float | None = None, count: int = 0, counters=None, cal=None):
            """Ops until ``seconds`` have passed and at least ``count`` ran,
            ending on a whole cycle of the op mix; with ``cal``, the
            calibration job runs after each op and its CPU ms are
            appended there."""
            start = time.perf_counter()
            done = []
            while (len(done) < count or len(done) % wl.cycle_ops
                   or (seconds is not None and time.perf_counter() - start < seconds)):
                i = len(ops)
                cpu = tree_cpu_s(pid)
                t = time.perf_counter()
                try:
                    # root span: layer spans nest under it, and its self
                    # time is the benchmark's own share of the op
                    with tr.span("bench.op"):
                        op = wl.op(i, tr)
                except InputsExhausted as e:
                    print(f"saxbench: {phase} phase ended early: {e}", file=sys.stderr)
                    break
                except Exception:
                    traceback.print_exc()
                    op = Op(i, "error", 0, failed=True)
                op.seconds = time.perf_counter() - t
                op.cpu_s = tree_cpu_s(pid) - cpu
                op.phase = phase
                ops.append(op)
                done.append(op)
                if counters is not None:
                    # only the engine's own jobs ran since the last take:
                    # untraced ops run no bookkeeping jobs
                    shuffle, tasks = counters.take()
                    wl.rec.add("spark.shuffle_write_mb", shuffle / 2**20)
                    wl.rec.add("spark.tasks", tasks)
                wl.settle(i)
                if cal is not None:
                    cal.append(calibrate(spark, pid))
            return done, time.perf_counter() - start

        run("warm", NullTracer(), count=wl.warm_ops)
        if args.trace:
            untraced, untraced_s = run("untraced", NullTracer(), seconds=args.seconds / 2,
                                       counters=SparkCounters(spark))
            tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}-{os.getpid()}")
            traced, traced_s = run("traced", tracer, count=len(untraced))
            timed = untraced
        else:
            calibrate(spark, pid)  # the first run of the job compiles it
            cal = []
            timed, _ = run("timed", NullTracer(), seconds=args.seconds, cal=cal)

        problems = wl.check(ops)
        for p in problems[:20]:
            print(f"saxbench: check failed: {p}", file=sys.stderr)
        rss_kb = vm_hwm_kb(os.getpid()) + vm_hwm_kb(spark._jvm.java.lang.ProcessHandle.current().pid())
        if args.trace:
            values = wl.layer_metrics(traced, tracer)
            values["spark.shuffle_write_mb"] = wl.rec.median("spark.shuffle_write_mb")
            values["spark.tasks"] = wl.rec.median("spark.tasks")
            values["trace.overhead_s"] = traced_s - untraced_s
            metrics = with_units(values, PER_LAYER)
            spans_path = os.path.join(ROOT, ".saxbench", f"spans-{args.workload}-seed{args.seed}.json")
            tracer.dump(spans_path)
        else:
            metrics = with_units(end_to_end(setup_s, timed, wl.main_kind, rss_kb, cal), END_TO_END)
        wl.close()
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": cpus(),
            "spark_version": pyspark.__version__,
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "session_s": session_s,
            "session_cpu_s": session_cpu_s,
            "setup_reps_s": rep_s,
            "setup_reps_cpu_s": rep_cpu_s,
            "warm_ms": [round(1000 * o.seconds, 1) for o in ops if o.phase == "warm"],
            "items": wl.item,
            "op_cpu_kind": wl.main_kind,
            "ops": summarize(timed),
            "problems": problems[:20],
        }
        if not args.trace:
            info["cal_cpu_ms"] = cal
        if args.trace:
            info["spans"] = os.path.relpath(spans_path, ROOT)
            info["self_s_by_layer"] = tracer.self_time_by(lambda n: n.split(".", 1)[0])
            info["traced_ops"] = summarize(traced)
    finally:
        stop_session(spark)
        remove_tree(work)

    failed = sum(o.failed for o in ops)
    for name, m in metrics.items():
        print(f"{name:<28} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def run_all(args: argparse.Namespace) -> int:
    """Each workload in its own fresh process, one after another."""
    from saxbench.workloads import WORKLOADS

    status = 0
    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(f"== {name} (exit {proc.returncode})")
        print("\n".join(lines[:-1]))
        results[name] = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        status = status or proc.returncode
    print(json.dumps({"workloads": results}))
    return status


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
