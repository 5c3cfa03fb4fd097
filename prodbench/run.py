"""Product-path benchmark: one workload, one seed, one JSON line.

    python3 prodbench/run.py --workload skewed_resumable_build --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  It generates the workload's inputs from
``--seed`` under ``.bench_work/``, starts Spark on local[<cores>]
(JVM heap from $SPARK_DRIVER_MEM, 3g by default: well above what the
inputs need), and runs the workload's op in a closed loop from this one
client: a cold op first, then warm ops until ``--seconds`` have passed
and at least two have run.  Every op's output is checked.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones:
set-up wall time, wall time of a warm op (median) and of the cold op,
memory the program keeps live after an op, and output bytes per input
turn.  With ``--trace 1`` an untraced warm op is followed by a traced
one and the per-layer metrics are printed instead (see LAYERS.md);
spans and per-layer stage metrics go to ``.bench_work/traces/``.  The
line before the last is a summary: every op's wall and CPU time (and
the append/refresh split), failures, and the host-noise sentinel.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd  # module level: pandas-UDF type hints resolve here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# the program under test; outside a full checkout this import fails and
# the run exits non-zero before printing a result
import sqlfeatureextraction_spark.plans.pipeline  # noqa: E402,F401

from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, Bench, dir_bytes  # noqa: E402

# the second warm op runs ~7% faster than the first (JIT), so every run
# times the same number of them, whatever --seconds lets through
MIN_WARM_OPS = 2
MAX_RUN_S = 150.0  # stop starting ops here; a run must end within 180 s


# ---------------------------------------------------------------- host noise


def cpu_stat() -> list[int] | None:
    """First /proc/stat line (user..steal) as ints, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def calibrate() -> float:
    """Fixed single-thread work (seconds): inflates under CPU steal."""
    import numpy as np

    a = np.arange(1_500_000, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(40):
        a = np.sqrt(a * 1.000001 + 1.0)
    return time.perf_counter() - t0


def _proc_stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command name, per process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                pass
    return out


def _tree(stats: dict[int, list[str]]) -> set[int]:
    """This process and its descendants: the Spark JVM, the Python
    worker daemon and its workers."""
    parent = {p: int(f[1]) for p, f in stats.items()}
    tree = {os.getpid()}
    frontier = set(tree)
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        tree |= frontier
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def program_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) this
    process and its descendants have used so far.  Stolen time is not
    charged to a process."""
    stats = _proc_stats()
    return sum(sum(int(x) for x in stats[p][11:15]) for p in _tree(stats)) / _TICK


def live_mem_mb(spark) -> tuple[float, float]:
    """Memory the program holds after an op: the driver JVM's heap still
    in use after a full GC, and the proportional set size of the Python
    workers (descendants other than the JVM).  Unlike a sampled process
    peak, neither grows with the configured heap."""
    sc = spark.sparkContext
    jvm = sc._jvm
    # the first GC queues the op's dead broadcasts and shuffles for
    # Spark's context cleaner; the second collects what it released
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = rt.totalMemory() - rt.freeMemory()
    skip = {os.getpid(), sc._gateway.proc.pid}
    pss_kb = 0
    for p in _tree(_proc_stats()) - skip:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                pss_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            pass
    return heap / 2**20, pss_kb / 1024


# ------------------------------------------------------------------- session


def start_spark(work: str):
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # JVM temp files and perf data stay inside the work directory too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the product (and pickled benchmark code)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    from sqlfeatureextraction_spark.session import get_spark

    return get_spark(
        "prodbench", parallelism=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(60)
        except Exception:
            proc.kill()
            proc.wait(10)


def warm_workers(spark) -> None:
    """Start the Python worker pool (one per core) with a no-op pandas
    UDF, so no op pays the worker spawn."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def ident(v: pd.Series) -> pd.Series:
        return v * 1.0

    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4, numPartitions=n).select(ident(F.col("id").cast("double"))).count()


# ----------------------------------------------------------------------- run


def run(args) -> dict:
    t_start = time.perf_counter()
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_work", f"{wl.name}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stat0, cals = cpu_stat(), [calibrate()]

    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else None
        bench = Bench(spark, wl, args.seed, work, tracer)
        bench.generate()
        # timed once: a second pass in the same JVM skips the warm-up
        # this figure exists to count, and a fresh JVM per pass costs
        # ~11 s more per run than the benchmark's time limit allows
        t0 = time.perf_counter()
        warm_workers(spark)
        bench.load()
        load_s = time.perf_counter() - t0
        setup_s = session_s + load_s
        base_s = None
        if wl.kind == "refresh":
            t0 = time.perf_counter()
            bench.build_base()
            base_s = time.perf_counter() - t0
            setup_s += base_s

        ops, errors = [], []
        ref_digest = None

        def checked(fn) -> dict | None:
            nonlocal ref_digest
            bench.reset()
            try:
                cpu0 = program_cpu_s()
                res = fn()
                res["cpu_s"] = program_cpu_s() - cpu0
                res["heap_mb"], res["workers_mb"] = live_mem_mb(spark)
                d, errs = bench.check()
            except Exception as e:  # an op that raises counts as failed
                traceback.print_exc()
                ops.append({"error": repr(e)})
                errors.append(f"op {len(ops)}: {e!r}")
                return None
            if wl.kind == "refresh" and ref_digest is None:
                ref_digest = bench.rebuild_digest()
            if ref_digest is None:
                ref_digest = d
            if d != ref_digest:
                errs.append(f"digest {d} != {ref_digest}")
            res["digest"] = d
            if not any("out_bytes" in o for o in ops):
                res["out_bytes"] = dir_bytes(bench.out)
            ops.append(res)
            errors.extend(f"op {len(ops)}: {e}" for e in errs)
            res["ok"] = not errs
            return res

        cold = checked(bench.op)
        warm = []  # results of the warm ops; None where an op raised
        t_warm = time.perf_counter()
        while time.perf_counter() - t_start < MAX_RUN_S:
            warm.append(checked(bench.op))
            if args.trace or (len(warm) >= MIN_WARM_OPS
                              and time.perf_counter() - t_warm >= args.seconds):
                break
        traced = None
        if args.trace:
            tracer.op = "traced"
            traced = checked(bench.traced_op)
            tracer.op = None
            tracer.collect_stages("traced")
        cals.append(calibrate())
        stat1 = cpu_stat()
    finally:
        stop_spark(spark)

    steal = None
    if stat0 and stat1:
        d = [b - a for a, b in zip(stat0, stat1)]
        steal = 100.0 * d[7] / max(sum(d), 1)
    attempted = len(ops)
    failed = sum(1 for o in ops if not o.get("ok"))
    summary = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "session_s": session_s, "load_s": load_s, "base_build_s": base_s,
        "ops": ops, "failed_frac": failed / max(attempted, 1),
        "errors": errors,
        "host_noise": {"calibration_s": cals, "steal_pct": steal},
        "n_turns": bench.n_turns, "wall_s": time.perf_counter() - t_start,
    }
    nan = float("nan")
    warm_ops = [o for o in warm if o and o["ok"]] or [
        {"op_s": nan, "heap_mb": nan, "workers_mb": nan}]
    cold = cold or {"op_s": nan}
    for k in ("append_s", "refresh_s"):
        if k in warm_ops[0]:
            summary[k] = statistics.median(o[k] for o in warm_ops)
    metrics: dict[str, tuple[float, str]] = {}
    if not args.trace:
        first = next((o for o in ops if "out_bytes" in o), {"out_bytes": nan})
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s": (statistics.median(o["op_s"] for o in warm_ops), "s"),
            "cold_op_s": (cold["op_s"], "s"),
            "live_mem_mb": (statistics.median(
                o["heap_mb"] + o["workers_mb"] for o in warm_ops), "MB"),
            "out_bytes_per_turn": (first["out_bytes"] / bench.n_turns, "B/turn"),
        }
    else:
        metrics = layer_metrics(bench, tracer, warm, traced)
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(
            os.path.join(trace_dir, f"{wl.name}-{args.seed}.json"),
            dict(summary, layers=tracer.layers("traced"),
                 metrics={k: v[0] for k, v in metrics.items()}),
        )
    shutil.rmtree(work, ignore_errors=True)
    print("summary " + json.dumps(summary, default=str))
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(bench: Bench, tracer: Tracer, warm, traced) -> dict:
    """Per-layer metrics of the traced op: self times and the stage
    metrics of each layer's own jobs; zeros for a layer the workload's
    path does not call."""
    if traced is None:
        return {}
    layers = tracer.layers("traced")
    spans = [s for s in tracer.spans if s["op"] == "traced"]

    def layer(name: str, key: str) -> float:
        return float(layers.get(name, {}).get(key, 0.0))

    def self_s(span_name: str) -> float:
        return float(sum(tracer.self_seconds(s) for s in spans if s["name"] == span_name))

    def inclusive(span_name: str, key: str) -> float:
        """`key` summed over the named spans and everything inside them."""
        return float(sum(
            s.get(key, 0) for c in spans if c["name"] == span_name
            for s in [c, *tracer.descendants(c)]))

    refresh = bench.wl.kind == "refresh"
    untraced = [o["op_s"] for o in warm if o and o["ok"]] or [traced["op_s"]]
    m = {
        "vocab.fit_s": (layer("vocab", "self_s"), "s"),
        "vocab.exec_s": (layer("vocab", "exec_s"), "s"),
        "vocab.size": (float(bench.vocab_size), "count"),
        "vectorize.encode_s": (layer("vectorize", "self_s"), "s"),
        "vectorize.exec_s": (layer("vectorize", "exec_s"), "s"),
        "vectorize.shuffle_write_mb": (layer("vectorize", "shuffle_write_mb"), "MB"),
        "sessionize.wall_s": (layer("sessionize", "self_s"), "s"),
        "asof_merge.window_s": (layer("asof_merge", "self_s"), "s"),
        "asof_merge.exec_s": (layer("asof_merge", "exec_s"), "s"),
        "asof_merge.shuffle_write_mb": (layer("asof_merge", "shuffle_write_mb"), "MB"),
        "asof_merge.max_task_s": (layer("asof_merge", "max_task_s"), "s"),
        "pipeline.join_s": (self_s("pipeline.join"), "s"),
        "pipeline.write_s": (self_s("pipeline.write"), "s"),
        "pipeline.write_exec_s": (inclusive("pipeline.write", "exec_s"), "s"),
        "checkpoint.run_s": (layer("checkpoint", "self_s"), "s"),
        "checkpoint.jobs": (inclusive("checkpoint.run", "jobs"), "count"),
        "checkpoint.single_task_stages": (
            inclusive("checkpoint.run", "single_task_stages"), "count"),
        "snaptable.append_s": (self_s("snaptable.append"), "s"),
        "snaptable.read_s": (self_s("snaptable.read"), "s"),
        "snaptable.data_files": (float(getattr(bench, "data_files", 0)), "count"),
        "incremental.refresh_exec_s": (inclusive("incremental.refresh", "exec_s"), "s"),
        "incremental.touched_frac": (
            bench.touched_convs / bench.n_convs if refresh else 0.0, "ratio"),
        "incremental.convs_total": (float(bench.n_convs), "count"),
        "incremental.recomputed_rows_frac": (
            bench.recomputed_rows / bench.n_turns if refresh else 0.0, "ratio"),
        "incremental.rows_total": (float(bench.n_turns), "count"),
        "trace_overhead_s": (traced["op_s"] - statistics.median(untraced), "s"),
    }
    for name in ("vocab", "vectorize", "sessionize", "asof_merge", "pipeline",
                 "checkpoint", "snaptable", "incremental"):
        m[f"{name}.tasks"] = (layer(name, "tasks"), "count")
        m[f"{name}.spill_mb"] = (layer(name, "spill_mb"), "MB")
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    print(json.dumps(run(ap.parse_args())), flush=True)


if __name__ == "__main__":
    main()
