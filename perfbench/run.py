"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh Spark process on ``local[<nproc>]`` from a
single client thread, closed loop, and prints one JSON line: ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones (``metrics.END_TO_END``); with
``--trace 1`` they are the per-layer ones (``metrics.PER_LAYER``): the
run alternates untraced ops with traced ones, times the layer calls each
traced op composes, and writes every span to
``.bench_out/trace/<workload>-seed<n>.json``.

End-to-end times are CPU seconds of the whole process tree (client,
Spark JVM, Python workers; ``common.tree_cpu_s``), which a busy shared
host moves far less than wall time, scaled to reference CPU seconds by
a memory-bound gather timed after every set-up and timed op
(``common.HostSpeed``); wall times are logged beside them and are what
the per-layer spans record.  Set-up (input generation, ingest, index
build) runs three times; the CPU used from process start to a ready
Spark session plus the median set-up is ``setup_s``.  Untimed blocks
of every op kind (``WARMUP_OPS``) then warm the JVM before the timed
loop.  Run from the root of a checkout of the repository;
``python3 perfbench/metrics.py`` lists the metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "serve_mixed": ("serve_mixed", "ServeMixed"),
    "dedup_pipeline": ("dedup_pipeline", "DedupPipeline"),
}
N_SETUPS = 3


def since_process_start() -> float:
    """Seconds since this process was created (``/proc`` start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    return ap.parse_args(argv)


def timed_loop(wl, tracer, seconds: float, counts: dict, n_ops: int = 0,
               interleave: bool = False, host=None) -> tuple[list, int]:
    """Closed loop: the next op starts when the previous one returns.  No
    op starts after ``n_ops`` ops, when given, or else after ``seconds``
    and the end of a whole block of the workload's op mix, so every run
    measures the same mix, and not before ``wl.TIMED_BLOCKS`` blocks.
    With ``interleave`` every other op of each kind is traced, and the
    loop runs until every kind has run both ways instead.  ``host``, when
    given, times its gather after every op.  Returns ([(kind, wall s,
    CPU s, traced)], ops run)."""
    from collections import Counter

    from common import log

    samples: list = []
    ctx = wl.ctx
    runs: Counter = Counter()
    blocks = 0
    t0 = time.perf_counter()
    for i in range(1, sys.maxsize):
        op_kind = wl.next_kind()
        traced = interleave and runs[op_kind] % 2 == 1
        runs[op_kind] += 1
        tracer.enabled = traced
        counts["attempted"] += 1
        ctx.samples.clear()
        try:
            ok = wl.run_op(traced)
        except Exception:
            counts["failed"] += 1
            log(traceback.format_exc())
        else:
            counts["failed"] += not ok
            samples += [(*s, traced) for s in ctx.samples]
        if host:
            host.sample()
        blocks += wl.at_block_end()
        if n_ops:
            done = i >= n_ops
        else:
            done = (
                time.perf_counter() - t0 >= seconds
                and wl.at_block_end()
                and (all(runs[k] >= 2 for k in wl.OP_KINDS) if interleave
                     else blocks >= wl.TIMED_BLOCKS)
            )
        if done:
            tracer.enabled = False
            return samples, i


def by_kind(samples, field: int) -> dict:
    """kind -> the samples' wall (``field`` 1) or CPU (2) seconds."""
    out: dict = {}
    for s in samples:
        out.setdefault(s[0], []).append(s[field])
    return out


def run(wl, tracer, args, workdir: str, counts: dict, ready: tuple) -> tuple[dict, dict]:
    from common import HostSpeed, log, p50, rmtree, tree_cpu_s
    from metrics import MEANING, PER_LAYER, layer_metrics

    tracing = tracer.enabled
    host = None if tracing else HostSpeed()
    setup_wall, setup_cpu = [], []
    for i in range(N_SETUPS):
        path = os.path.join(workdir, f"setup{i}")
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with tracer.op("setup"):
            wl.setup(path)
        setup_wall.append(time.perf_counter() - t0)
        setup_cpu.append(tree_cpu_s() - cpu0)
        if i > 1:  # a workload may keep the previous set-up as a snapshot
            rmtree(os.path.join(workdir, f"setup{i - 2}"))
        if host:
            host.sample()
    log(f"perfbench: ready {ready[0]:.3f} s wall {ready[1]:.3f} s CPU, set-ups (s) wall "
        f"{[round(s, 3) for s in setup_wall]} CPU {[round(s, 3) for s in setup_cpu]}")
    wl.prepare_checks()
    n_setup_gathers = len(host.samples) if host else 0

    timed_loop(wl, tracer, 0, counts, n_ops=wl.WARMUP_OPS)  # untimed: JIT and code caches
    wl.reset()
    samples, n_ops = timed_loop(wl, tracer, args.seconds, counts, interleave=tracing, host=host)
    for field, what in ((1, "wall"), (2, "CPU")):
        log(f"perfbench: op {what} seconds "
            f"{ {k: [round(x, 3) for x in v] for k, v in by_kind(samples, field).items()} }")

    report: dict = {"setup_wall_s": setup_wall, "setup_cpu_s": setup_cpu, "ready_wall_cpu_s": ready}
    if not tracing:
        # each phase's CPU is scaled by the gathers taken during it
        scale = (host.scale(0, n_setup_gathers), host.scale(n_setup_gathers))
        log(f"perfbench: host gather CPU s {[round(x, 4) for x in host.samples]}, "
            f"scale set-up {scale[0]:.3f} loop {scale[1]:.3f}")
        report.update(gather_cpu_s=host.samples, scale=scale)
        cpu = {k: [x * scale[1] for x in v] for k, v in by_kind(samples, 2).items()}
        metrics = {"setup_s": (ready[1] + p50(setup_cpu)) * scale[0], **wl.end_to_end(cpu, n_ops)}
    else:
        summary = tracer.summary()
        selft = tracer.self_times()
        primary = {t: [wall for k, wall, _cpu, tr in samples if k in wl.PRIMARY and tr == t]
                   for t in (False, True)}
        measured = {
            "trace.op_self_p50_s": p50([
                selft[s["id"]] for s in tracer.spans
                if s["parent"] is None and s["name"] != "op.setup"
            ]),
            "trace.overhead_s": p50(primary[True]) - p50(primary[False]),
            **{k: summary[k[: -len(".p50_s")]]["p50_s"]
               for k in layer_metrics(args.workload)
               if k.endswith(".p50_s") and k[: -len(".p50_s")] in summary},
            **wl.layer_counts(),
        }
        mine = set(layer_metrics(args.workload))
        metrics = {k: measured.get(k, math.nan) if k in mine else 0.0 for k in PER_LAYER}
        report.update(summary=summary, layer_shares=tracer.layer_shares(),
                      tracing_overhead_s=metrics["trace.overhead_s"],
                      primary_latencies=primary)

    counts["attempted"] += 1
    counts["failed"] += not wl.finish()
    if not tracing:
        view = {MEANING[k][args.workload][0]: v for k, v in metrics.items()}
        view["failed_frac"] = counts["failed"] / counts["attempted"]
        log(f"perfbench: {args.workload} {json.dumps(view)}")
    report.update(metrics=metrics, errors=wl.ctx.errors)
    return metrics, report


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "chromem_go_spark")):
        print(f"perfbench: no chromem_go_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from common import (Ctx, configure_env, log, other_spark_jvms, rmtree, start_spark, stop_spark,
                        tree_cpu_s)
    from metrics import END_TO_END, PER_LAYER
    from tracing import Tracer

    others = other_spark_jvms()
    if others:
        log(f"perfbench: refusing to start beside running Spark JVM(s) {others}")
        return 3
    workdir = os.path.join(ROOT, ".bench_out", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    configure_env(workdir)
    module, cls = WORKLOADS[args.workload]
    Workload = getattr(importlib.import_module(module), cls)

    spark = start_spark(f"perfbench-{args.workload}")
    ready = (since_process_start(), tree_cpu_s())
    counts = {"attempted": 0, "failed": 0}
    try:
        tracer = Tracer(bool(args.trace))
        wl = Workload(Ctx(spark, tracer), args.seed, args.size)
        metrics, report = run(wl, tracer, args, workdir, counts, ready)
    finally:
        stop_spark(spark)
        rmtree(workdir)
    if args.trace:
        out = os.path.join(ROOT, ".bench_out", "trace")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}.json"),
                     {"workload": args.workload, "seed": args.seed, **counts, **report})
    units = {k: v[0] for k, v in (PER_LAYER if args.trace else END_TO_END).items()}
    bad = [k for k in units if not math.isfinite(metrics.get(k, math.nan))]
    if bad:
        log(f"perfbench: no finite value for {bad}")
        return 1
    print(json.dumps({
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
