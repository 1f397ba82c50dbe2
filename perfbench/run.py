#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the calamari_spark engine.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

One client runs passes back to back (the next starts when the previous
ends) for ``--seconds`` after a warm-up, checks every pass's output, and
prints each metric by name and unit; the last stdout line is one JSON
object. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates untraced and traced passes and reports the per-layer metrics
(see perfbench/README.md). Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", ".data")

MIN_PASSES = 3      # measured passes (per kind when tracing)
REPLAY_LINES = 120  # lines in the kernel replay sample


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["extract", "dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "tiny"], default="bench",
                   help="input size; tiny is for the self-test")
    return p.parse_args(argv)


def metric_units(kind: str) -> dict:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def remove_stale_runs() -> None:
    """Drop the data of earlier runs that died before cleaning up."""
    if not os.path.isdir(DATA):
        return
    for name in os.listdir(DATA):
        if name.startswith("run-"):
            pid = int(name.split("-")[1])
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(DATA, name), ignore_errors=True)


class Runner:
    """One run: set-up, warm-up, the measured closed loop, and checks."""

    def __init__(self, args):
        self.args = args
        self.attempted = self.failed = 0
        self.log: list = []

    def one_pass(self, wl, i: int, tracer=None, sc=None) -> tuple:
        """Run pass ``i``; return (wall s, cpu s, spark metrics or None)."""
        from perfbench.host import tree_cpu_s

        me = os.getpid()
        if tracer is not None:
            sc.setJobGroup(f"pass-{i}", wl.name)
        c0, t0, e0 = tree_cpu_s(me), time.perf_counter(), time.time()
        wl.run_pass(i)
        stats = None
        if tracer is not None:
            from perfbench.sparkstats import record_pass

            stats = record_pass(tracer, sc, f"pass-{i}", f"{wl.name}.pass", e0,
                                time.time(), i)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(me) - c0
        attempted, failed = wl.check(i)
        self.attempted += attempted
        self.failed += failed
        wl.after_pass(i)
        return wall, cpu, stats

    def run(self) -> dict:
        from perfbench import host
        from perfbench.spans import Tracer
        from perfbench.workloads import WORKLOADS

        args = self.args
        trace = bool(args.trace)
        stamps = {"host.load1_before": host.load1(),
                  "host.calib_ms_before": host.calibration_ms()}
        remove_stale_runs()
        data_dir = os.path.join(DATA, f"run-{os.getpid()}-{args.workload}")
        os.makedirs(data_dir, exist_ok=True)
        tracer = Tracer()
        spark = None
        try:
            t_setup = time.perf_counter()
            spark = host.start_session(ROOT, data_dir, host.slots())
            sc = spark.sparkContext
            t_session = time.perf_counter() - t_setup
            wl = WORKLOADS[args.workload](spark, data_dir, args.seed, args.size)
            t0 = time.perf_counter()
            wl.prepare()
            gen_s = time.perf_counter() - t0
            # the expected outputs are the checker's work, not set-up
            wl.expect()
            expect_s = time.perf_counter() - t0 - gen_s
            # the JVM compiles hot code by invocation counts, so passes keep
            # speeding up for a number of passes, with plateaus on the way
            # that fool a test for agreeing passes: a fixed count leaves
            # every run at the same point of that curve, fast machine or slow
            warm = [self.one_pass(wl, i)[0] for i in range(wl.warmup_passes)]
            i = wl.warmup_passes
            setup_s = time.perf_counter() - t_setup - expect_s
            plain, traced = [], []
            t_measure = time.perf_counter()
            while (time.perf_counter() - t_measure < args.seconds
                   or min(len(plain), len(traced) if trace else MIN_PASSES) < MIN_PASSES):
                use_tracer = trace and len(traced) < len(plain)
                res = self.one_pass(wl, i, tracer if use_tracer else None, sc)
                (traced if use_tracer else plain).append(res)
                i += 1
            layers = {}
            if trace:
                layers = self.layers(wl, tracer, plain, traced, gen_s)
                self.attempted += wl.layer_checks[0]
                self.failed += wl.layer_checks[1]
        finally:
            try:
                if spark is not None:
                    host.stop_session(spark)
            finally:
                shutil.rmtree(data_dir, ignore_errors=True)
        stamps.update({"host.load1_after": host.load1(),
                       "host.calib_ms_after": host.calibration_ms()})
        wall = statistics.median(p[0] for p in plain)
        self.log += [
            f"workload {args.workload} seed {args.seed}: {wl.n_docs} docs, "
            f"{wl.n_lines} lines, {host.slots()} slots",
            f"set-up {setup_s:.3f} s (session {t_session:.3f} s, inputs "
            f"{gen_s:.3f} s, {len(warm)} warm-up passes "
            f"{', '.join(f'{w:.3f}' for w in warm)}; the last 3 within "
            f"{max(warm[-3:]) / min(warm[-3:]) - 1:.1%} of each other); expected outputs "
            f"{expect_s:.3f} s, not in set-up",
            f"measured {len(plain)} untraced passes"
            + (f" and {len(traced)} traced passes" if trace else "")
            + "; values are medians over the untraced passes: wall "
            + ", ".join(f"{p[0]:.3f}" for p in plain)
            + "; cpu " + ", ".join(f"{p[1]:.2f}" for p in plain),
            f"fail_frac {self.failed / max(1, self.attempted):.6f} "
            f"({self.failed} failed of {self.attempted} outputs checked)",
        ] + [f"{k} {v:.4f}" for k, v in stamps.items()]
        if trace:
            tracer.dump(os.path.join(
                DATA, "traces", f"{args.workload}-seed{args.seed}.json"))
            layers.update(stamps)
            return layers
        return {
            "setup_s": setup_s,
            "wall_s": wall,
            "docs_per_s": wl.n_docs / wall,
            "lines_per_s": wl.n_lines / wall,
            "cpu_s": statistics.median(p[1] for p in plain),
        }

    def layers(self, wl, tracer, plain, traced, gen_s) -> dict:
        """Every per-layer metric: the traced passes' Spark figures, the
        workload's isolated layers, the kernel replay and the tracing
        overhead. Layers a workload does not run read 0."""
        from perfbench import host, inputs, kernels

        out = dict.fromkeys(metric_units("per_layer"), 0.0)
        for key in traced[0][2]:
            out[key] = statistics.median(t[2][key] for t in traced)
        out["sources.gen_s"] = gen_s
        out.update(wl.layers(tracer))
        out["extraction.worker_peak_rss_mb"] = host.worker_peak_rss_mb(os.getpid())
        lines = inputs.replay_lines(self.args.seed, REPLAY_LINES)
        with tracer.span("kernel.replay"):
            out.update(kernels.replay(lines))
        plain_wall = statistics.median(p[0] for p in plain)
        out["trace.overhead_s"] = statistics.median(t[0] for t in traced) - plain_wall
        if wl.name == "extract":
            # the pass's wall split into what the layers account for: the
            # driver's own time, the JVM stages of the isolated branches,
            # and the kernel at its replayed cost spread over every slot
            kernel_s = (wl.n_lines * kernels.fast_path_line_us(out) / 1e6
                        / host.slots())
            explained = (out["spark.driver_gap_s"] + out["extraction.boundary_busy_s"]
                         + kernel_s + out["text.strip_branch_busy_s"]
                         + out["extraction.reassemble_busy_s"])
            out["trace.unexplained_frac"] = 1.0 - explained / plain_wall
            self.log.append(
                f"extract pass {plain_wall:.3f} s = driver gap "
                f"{out['spark.driver_gap_s']:.3f} + boundary stages "
                f"{out['extraction.boundary_busy_s']:.3f} + kernel {kernel_s:.3f} + "
                f"strip stages {out['text.strip_branch_busy_s']:.3f} + reassemble "
                f"stages {out['extraction.reassemble_busy_s']:.3f} + unexplained "
                f"{plain_wall - explained:.3f}")
        for name, secs in sorted(tracer.self_times().items()):
            self.log.append(f"self time {name} {secs:.3f} s")
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "calamari_spark")):
        print(f"perfbench: no calamari_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    runner = Runner(args)
    values = runner.run()
    units = metric_units("per_layer" if args.trace else "end_to_end")
    for line in runner.log:
        print(line)
    metrics = {}
    for name, unit in units.items():
        metrics[name] = {"value": float(values[name]), "unit": unit}
        print(f"{name} = {values[name]:.6g} {unit}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
