#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Writes the workload's inputs for the seed
(not timed), builds the engine's session, warms up at target size until
the per-pass CPU time settles, measures whole operations for about
``--seconds`` seconds, checks every output, and prints one JSON object as
the last stdout line. The line before it stamps the session and host.

With ``--trace 0`` the object carries the end-to-end metrics. With
``--trace 1`` the session writes a Spark event log, the window alternates
untraced and traced operations (spans, job groups, row-count
observations), and the object carries the per-layer metrics of the
traced ones; spans and the ledger are written under
``.perfbench_run/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, procstat  # noqa: E402
from perfbench.metrics import CURATION_KEYS, PER_LAYER, REQUEST_TYPES, result_line  # noqa: E402
from perfbench.trace import Tracer, covered_s, event_log_spark_conf, ledger  # noqa: E402

MASTER_CPUS = 4
# A fixed-size heap (initial = max) keeps the JVM's RSS from depending on
# when the collector decides to grow the heap.
SPARK_CONF = {
    "spark.driver.memory": "1g",
    "spark.driver.extraJavaOptions": "-Xms1g",
    "spark.ui.showConsoleProgress": "false",
}
# warm-up: passes until per-pass core-seconds change by less than
# SETTLE_TOL from the previous pass twice in a row (one small step can be
# the passes' different inputs), within the workload's warmup_x * --seconds
SETTLE_TOL = 0.10
WARMUP_MAX_PASSES = 8
# operations a window needs before it may end at --seconds, so that its
# median is not the mean of two
MIN_WINDOW_OPS = 3
RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "recorded_hashes.json")


def process_start_time() -> float:
    """Wall-clock time at which this process started, to a clock tick.

    The kernel stamps a process's start in ticks since boot; the age is
    the boot clock now minus that (``btime`` in ``/proc/stat`` is whole
    seconds only)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / procstat.CLK
    return time.time() - age


class Ctx:
    def __init__(self, spark, seed, data_dir, out_dir, tracer, recorded):
        self.spark = spark
        self.seed = seed
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.tracer = tracer
        self.recorded = recorded
        self.setup_layers: dict[str, float] = {}
        self.tree: procstat.ProcessTree | None = None


def warm_up(wl, ctx, seconds: float) -> dict:
    """Warm-up passes at target size until core-seconds settle."""
    wl.warming = True
    curve, walls, settled = [], [], False
    t_all = time.perf_counter()
    while len(curve) < WARMUP_MAX_PASSES:
        c0, t0 = ctx.tree.cpu_s(), time.perf_counter()
        wl.run_op()
        curve.append(ctx.tree.cpu_s() - c0)
        walls.append(time.perf_counter() - t0)
        if len(curve) >= 3 and all(abs(curve[i] - curve[i - 1]) <= SETTLE_TOL * curve[i - 1]
                                   for i in (-1, -2)):
            settled = True
            break
        if time.perf_counter() - t_all >= wl.warmup_x * seconds:
            break
    wl.warming = False
    return {"core_s": curve, "wall_s": walls, "settled": settled}


def _traced_op(i: int) -> bool:
    """Whether op ``i`` of an alternating window is traced: untraced,
    traced, traced, untraced, and again. Each adjacent pair holds one of
    each, and the ABBA order cancels a steady warm-up trend over a cycle."""
    return i % 4 in (1, 2)


def _nearest(elapsed: float, last_op: float, t: float) -> bool:
    """Whether the op boundary at ``elapsed`` is the one nearest ``t``,
    or past it."""
    return elapsed >= t or elapsed + last_op / 2 > t


def measure(wl, ctx, seconds: float, alternate: bool = False) -> dict:
    """Whole operations until the op boundary nearest ``seconds`` once the
    window holds ``MIN_WINDOW_OPS``, else until the one nearest
    ``2 * seconds``.

    Throughput and CPU cost are medians over the window's operations, so
    in a window of three or more one operation slowed by another tenant
    moves neither. An operation longer than ``seconds`` (a curation pass)
    is a window of its own.

    With ``alternate``, operations are traced and untraced by turns
    (``_traced_op``) for whole cycles of four, at least one and ``2 * seconds``; the
    window's figures are those of the traced operations, and
    ``overhead_frac`` is the median over adjacent pairs of the untraced
    operation's throughput over the traced one's, minus 1."""
    others = [procstat.ProcessTree(p) for p in wl.exclude_pids()]
    cpu0, other0, host0 = ctx.tree.cpu_s(), sum(t.cpu_s() for t in others), procstat.host_busy_s()
    first = len(wl.op_log)
    rss = procstat.PeakRss(ctx.tree).start()
    ops: list[tuple[int, float, float]] = []  # (items, wall s, core s) per op
    t0 = time.perf_counter()
    while True:
        ctx.tracer.enabled = alternate and _traced_op(len(ops))
        a, c = time.perf_counter(), ctx.tree.cpu_s()
        items = wl.run_op()
        now = time.perf_counter()
        ops.append((items, now - a, ctx.tree.cpu_s() - c))
        elapsed = now - t0
        if alternate:
            if len(ops) % 4 == 0 and elapsed >= 2 * seconds:
                break
        elif (_nearest(elapsed, now - a, 2 * seconds)
              or (len(ops) >= MIN_WINDOW_OPS and _nearest(elapsed, now - a, seconds))):
            break
    ctx.tracer.enabled = False
    wall = time.perf_counter() - t0
    core = ctx.tree.cpu_s() - cpu0
    peak = rss.stop()
    other = procstat.host_busy_s() - host0 - core - (sum(t.cpu_s() for t in others) - other0)
    log = wl.op_log[first:]
    out = {"wall_s": wall, "core_s": core}
    if alternate:
        rates = [n / w for n, w, _ in ops]
        out["overhead_frac"] = statistics.median(
            (rates[i + 1] / rates[i] if _traced_op(i) else rates[i] / rates[i + 1]) - 1.0
            for i in range(0, len(ops), 2))
        keep = [_traced_op(i) for i in range(len(ops))]
        ops = [o for o, t in zip(ops, keep) if t]
        log = [o for o, t in zip(log, keep) if t]
        out["core_s"] = sum(c for _, _, c in ops)
    return {
        **out,
        "ops": [k for k, _ in log],
        "spans": [s for _, s in log],
        "op_wall_s": [w for _, w, _ in ops], "op_core_s": [c for _, _, c in ops],
        "items": sum(n for n, _, _ in ops),
        "items_per_s": statistics.median(n / w for n, w, _ in ops),
        "core_s_per_kitem": statistics.median(1000.0 * c / n for n, _, c in ops),
        "peak_rss_mb": peak, "rss_at_peak_mb": rss.at_peak,
        "rss_samples_mb": [rss.samples[0], statistics.median(rss.samples), rss.samples[-1]],
        "other_busy_frac": max(0.0, other) / (procstat.n_cpus() * wall),
        "loadavg_1m": os.getloadavg()[0],
    }


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def ledger_layers(wl, win: dict, groups: dict) -> dict[str, float]:
    """Per-layer metrics from the event-log ledger of the traced window."""
    name, n_ops = wl.name, len(win["ops"])
    out: dict[str, float] = {}

    def g(key, phase):
        return groups.get(f"{name}:{key}:{phase}", {})

    if name == "corpus_curation":
        for k in CURATION_KEYS:
            b, e = g(k, "build"), g(k, "exec")
            out[f"plans.{k}.build_jobs"] = b.get("jobs", 0) / n_ops
            out[f"plans.{k}.exec_jobs"] = e.get("jobs", 0) / n_ops
            for f in ("task_s", "gc_s", "shuffle_mb", "spill_mb", "tasks"):
                out[f"plans.{k}.{f}"] = (b.get(f, 0) + e.get(f, 0)) / n_ops
    if name == "analyst_queries":
        recs = [r for r in wl.records if r["op"] in set(win["ops"])]
        for t in REQUEST_TYPES:
            jobs = [g(r["rid"], "build").get("jobs", 0) + g(r["rid"], "exec").get("jobs", 0)
                    for r in recs if r["req"]["kind"] == t]
            out[f"analyst.{t}.jobs"] = statistics.median(jobs) if jobs else 0
    mine = [v for k, v in groups.items() if k.startswith(name + ":")]
    for f, m in (("jobs", "jobs_per_op"), ("task_s", "task_s_per_op"),
                 ("gc_s", "gc_s_per_op"), ("shuffle_mb", "shuffle_mb_per_op")):
        out[f"exec.{m}"] = sum(v[f] for v in mine) / n_ops
    intervals = [iv for v in mine for iv in v["intervals"]]
    gaps = [(s["end"] - s["start"]) - covered_s(intervals, s["start"], s["end"])
            for s in win["spans"]]
    out["exec.driver_gap_s_per_op"] = statistics.mean(gaps)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = process_start_time()

    from perfbench import workloads as W
    from unfccc_documents_database_sandbox_spark.session import get_spark

    if a.workload not in W.WORKLOADS:
        ap.error(f"unknown workload {a.workload!r}; known: {sorted(W.WORKLOADS)}")
    run_root = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(run_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir)
    ctx = Ctx(None, a.seed, os.path.join(work, "data"), out_dir, None,
              W.load_recorded(RECORDED))
    wl = W.WORKLOADS[a.workload](ctx)
    # The benchmark's own input writing and reading is not set-up time.
    t_prep = time.time()
    datagen.write_corpus(ctx.data_dir, a.seed, W.CORPUS[a.workload])
    wl.prepare()
    prep_s = time.time() - t_prep
    conf = dict(SPARK_CONF)
    if a.trace:
        conf.update(event_log_spark_conf(os.path.join(work, "eventlog")))
    ctx.spark = get_spark(app_name=f"perfbench-{a.workload}", cpus=MASTER_CPUS, extra_conf=conf)
    session_s = time.time() - t_start - prep_s
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer = Tracer(False, ctx.spark, a.workload)
    try:
        wl.setup()
        setup_s = time.time() - t_start - prep_s
        ctx.tree = procstat.ProcessTree(exclude=wl.exclude_pids())
        warm = warm_up(wl, ctx, a.seconds)
        win = measure(wl, ctx, a.seconds, alternate=bool(a.trace))
        if a.trace:
            layer_vals = {**wl.layers(win), **wl.probe()}
        t_check = time.time()
        attempted, failed = wl.check()
        check_s = time.time() - t_check
        sc = ctx.spark.sparkContext
        stamp = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "master": sc.master, "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": ctx.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_version": ctx.spark.version,
            "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
            "corpus_docs": W.CORPUS[a.workload] or "all",
            "host_other_busy_frac": win["other_busy_frac"],
            "host_loadavg_1m": win["loadavg_1m"],
            "warmup": warm, "prep_s": prep_s, "setup_s": setup_s, "check_s": check_s,
            "unrecorded_hashes": getattr(wl, "unrecorded", {}),
            "window": {k: v for k, v in win.items() if k != "spans"},
        }
    finally:
        wl.close()
        stop_spark(ctx.spark)

    for p in wl.problems[:20]:
        print("CHECK FAILED:", p, file=sys.stderr)
    if not a.trace:
        values = {
            "setup_s": setup_s,
            "items_per_s": win["items_per_s"],
        }
    else:
        groups = ledger(os.path.join(work, "eventlog"))
        values = {k: 0.0 for k in PER_LAYER}
        values.update(ctx.setup_layers)
        values.update({
            "session.start_s": session_s,
            "session.first_pass_s": warm["wall_s"][0],
            "session.warmup_passes": len(warm["core_s"]),
            "session.warmup_settled": float(warm["settled"]),
            "mem.peak_rss_mb": win["peak_rss_mb"],
            "exec.core_s_per_kitem": win["core_s_per_kitem"],
            "host.other_busy_frac": win["other_busy_frac"],
            "host.loadavg_1m": win["loadavg_1m"],
            "trace.overhead_frac": win["overhead_frac"],
            "failed_frac": failed / attempted,
        })
        values.update(layer_vals)
        values.update(ledger_layers(wl, win, groups))
        os.makedirs(os.path.join(run_root, "traces"), exist_ok=True)
        with open(os.path.join(run_root, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"stamp": stamp, "per_layer": values, "traced_window":
                       {k: v for k, v in win.items() if k != "spans"},
                       "self_time_s": ctx.tracer.self_time(), "ledger": groups,
                       "spans": ctx.tracer.spans}, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    stamp["run_s"] = time.time() - t_start
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result_line(failed == 0, attempted, failed, values, bool(a.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
