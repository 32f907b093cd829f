"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_build,kg_serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from ``--seed``,
sets up (session, inputs, warm-up), measures for ``--seconds``, checks the
outputs against independent references, prints a table of every metric with
its unit and sample count, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones, and
the spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_build", "kg_serve")


def metric_units(section: str) -> dict[str, str]:
    """name -> unit of one metric list of BENCHMARK.json, in file order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


class Context:
    """What a workload's ``run`` gets: the session, the tracer, the CPU clock,
    its seed, the measuring time and a private work directory, plus the
    phase clocks."""

    def __init__(self, spark, tracer, cpu, seed: int, seconds: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.cpu = cpu
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.setup_s = None
        self.measure_s = None

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START
        self._t_measure = time.perf_counter()

    def measure_done(self) -> None:
        self.measure_s = time.perf_counter() - self._t_measure

    @staticmethod
    def note(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    import dice_spark  # noqa: F401  - fail before any set-up when the program is absent

    from harness import CpuClock, PeakRss, Tracer, jvm_pid, start_spark, stop_spark

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = rss = None
    try:
        spark = start_spark(work)
        rss = PeakRss(jvm_pid(spark)).start()
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark, tracer, CpuClock(jvm_pid(spark)), args.seed, args.seconds, work)
        res = importlib.import_module(args.workload).run(ctx)
        peak_mb = rss.stop()
        rss = None
        if tracer.enabled:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans_{args.workload}_seed{args.seed}.json"))
    finally:
        if rss is not None:
            rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it

    e2e = {"setup_s": ctx.setup_s, "cpu_s": res["cpu_s"], "quality": res["quality"]}
    if math.isnan(e2e["cpu_s"]):
        raise SystemExit("no timed operation succeeded; no result")
    end_to_end, per_layer = metric_units("end_to_end"), metric_units("per_layer")
    attempted, failed = res["attempted"], res["failed"]
    table = {
        "setup_s": (ctx.setup_s, "s", 1),
        **res["table"],
        "peak_rss_mb": (peak_mb, "MB", 1),
        "error_rate": (failed / attempted, "ratio", attempted),
    }
    print(f"# {args.workload} seed={args.seed} trace={args.trace} measured {ctx.measure_s:.1f}s")
    for name, (value, unit, n) in table.items():
        print(f"{name:<32} {value:>14.6g} {unit:<6} n={n}")
    if args.trace:
        layers = {name: 0.0 if unit != "count" else 0 for name, unit in per_layer.items()}
        layers.update(res.get("layers", {}))
        if "trace_overhead" in res:
            layers["tracing.overhead_ratio"] = res["trace_overhead"]
        print(f"{'tracing overhead':<32} {layers['tracing.overhead_ratio']:>14.4%}")
        for name, value in layers.items():
            print(f"  {name:<34} {value:>14.6g} {per_layer.get(name, 'count')}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
