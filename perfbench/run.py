"""Crawl-and-extract benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process drives one Spark session at
``local[$SPARK_GRAFT_CPUS or nproc]`` with a single client: the next
operation starts when the previous one has finished and passed its
output check. Inputs and oracles are generated from ``--seed`` into
``.perfbench_cache/`` (untimed). Set-up is session start, the input view
built three times (median) and the workload's warm-up operations; then
operations run for ``--seconds``. Times are wall times; the CPU-steal
fraction and load average next to them are recorded, not subtracted.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns the
Spark event log on, alternates traced and untraced operations, records a
span (and a Spark job group) around every call into a layer during the
traced ones, and prints the per-layer metrics; the difference between
the two kinds' median operation time is the tracing overhead.

The last stdout line is the result, the line before it the run's detail
(host, noise gauges, every operation time, span self times).
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
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "items_per_s": "items/s",
    "peak_rss_mb": "MB",
}
SETUP_REPEATS = 3


@dataclass
class Op:
    traced: bool
    seconds: float
    outcome: object     # workloads.Outcome
    steal: float        # CPU-steal fraction while it ran


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs, for the smoke test")
    return p.parse_args(argv)


def prepare_env(cache: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the cache,
    and let the Python workers import the engine from this checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(cache, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(cache, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(cpus: int, cache: str, event_dir: str | None):
    from crawl4ai_custom_spark.session import get_spark

    from perfbench import host

    conf = {
        "spark.driver.memory": host.driver_memory(host.mem_total_mb()),
        # replaces get_spark's value, so its ParallelGC flag is repeated
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(cache, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(cache, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def closed_loop(wl, spark, tracer, seconds: float, traced: bool) -> dict:
    """Operations back to back until another would overrun ``seconds``
    (at least one). Each is checked after its time is taken; a raise or a
    failed check counts as failed. A traced loop alternates traced and
    untraced operations (traced first, at least one of each), so both run
    equally warm and their medians give the tracing overhead. CPU steal
    is measured over every operation."""
    from perfbench import host
    from perfbench.workloads import Outcome

    modes = (True, False) if traced else (False,)
    ops: list[Op] = []
    load0 = host.load1()
    deadline = time.perf_counter() + seconds
    while True:
        tracer.enabled = modes[len(ops) % len(modes)]
        s0, t0 = host.cpu_sample(), time.perf_counter()
        try:
            with tracer.span("op"):
                result = wl.op(spark, tracer)
            dt = time.perf_counter() - t0
            steal = host.steal_fraction(s0, host.cpu_sample())
            out = wl.check(result)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            dt = time.perf_counter() - t0
            steal = host.steal_fraction(s0, host.cpu_sample())
            out = Outcome(0, ["raised: " + traceback.format_exc(limit=1).strip()])
        ops.append(Op(tracer.enabled, dt, out, steal))
        median_s = statistics.median(op.seconds for op in ops)
        if len(ops) >= len(modes) and time.perf_counter() + median_s > deadline:
            break
    tracer.enabled = traced
    return {"ops": ops, "load1": [load0, host.load1()]}


def session_run(wl, cpus: int, cache: str, seconds: float,
                event_dir: str | None) -> dict:
    """Start a session, set up, run the loop; traced when ``event_dir``
    is given."""
    from perfbench import host
    from perfbench.spans import Tracer
    from perfbench.workloads import Outcome

    traced = event_dir is not None
    with host.RssSampler() as rss:
        s0, t0 = host.cpu_sample(), time.perf_counter()
        spark = start_session(cpus, cache, event_dir)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark.sparkContext, enabled=traced)
            view_s = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                with tracer.span("setup.view"):
                    wl.view(spark)
                view_s.append(time.perf_counter() - t0)
            # untimed, unchecked first operations: the timed ones run warm
            # (a cold crawl costs a third more than a warm one, and the
            # second pagerank pass of a session is still slower than later
            # ones)
            t0 = time.perf_counter()
            for _ in range(wl.warm_ops):
                with tracer.span("setup.warm"):
                    wl.op(spark, tracer)
            warm_s = time.perf_counter() - t0
            setup_steal = host.steal_fraction(s0, host.cpu_sample())
            res = closed_loop(wl, spark, tracer, seconds, traced)
            if traced and hasattr(wl, "layer_calls"):
                with tracer.span("layer_calls"):
                    res["layer_calls"], problems = wl.layer_calls(spark)
                # the layer calls' own output check counts as one operation
                res["layer_check"] = Outcome(0, problems)
        finally:
            try:
                spark.stop()
            finally:
                host.stop_descendants()
    res.update(session_s=session_s, view_s=view_s, warm_s=warm_s,
               setup_steal=setup_steal,
               setup_s=session_s + statistics.median(view_s) + warm_s,
               tracer=tracer, peak_rss=rss.peak, peak_parts=rss.peak_parts)
    return res


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import host
    host.adopt_orphans()
    # a terminated run unwinds through the finally below as well
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return bench(args)
    finally:
        # on every way out, no process this run started outlives it
        host.stop_descendants()


def bench(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "crawl4ai_custom_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    cache = os.path.join(ROOT, ".perfbench_cache")
    prepare_env(cache)

    from perfbench import eventlog, host, layers
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = host.cpu_count()
    work = os.path.join(cache, "work", str(os.getpid()))
    wl = WORKLOADS[args.workload](cache, work, args.seed, args.tiny)
    wl.prepare()

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    run = session_run(wl, cpus, cache, args.seconds, event_dir)
    plain = [op for op in run["ops"] if not op.traced]
    traced_ops = [op for op in run["ops"] if op.traced]
    outcomes = [op.outcome for op in run["ops"]]
    if "layer_check" in run:
        outcomes.append(run["layer_check"])
    op_p50 = statistics.median(op.seconds for op in plain)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "mem_total_mb": host.mem_total_mb(),
        "driver_memory": host.driver_memory(host.mem_total_mb()),
        "item": wl.item, "session_s": run["session_s"],
        "view_s": run["view_s"], "warm_s": run["warm_s"],
        "setup_steal": run["setup_steal"],
        "op_s": [op.seconds for op in plain], "op_steal": [op.steal for op in plain],
        "items_per_op": [op.outcome.items for op in plain],
        "load1": run["load1"],
        "peak_rss_parts_mb": [round(b / 2**20) for b in run["peak_parts"]],
    }
    if args.trace:
        tracer = run["tracer"]
        metrics = layers.compute(
            tracer, eventlog.read(event_dir),
            [op.outcome for op in traced_ops], cpus,
            run["view_s"] if wl.latest_view else [])
        traced_p50 = statistics.median(op.seconds for op in traced_ops)
        metrics["trace.op_s_p50"] = traced_p50
        metrics["trace.overhead_s"] = traced_p50 - op_p50
        metrics.update(run.get("layer_calls", {}))
        if hasattr(wl, "kernel_rate"):
            metrics["kernel.pages_per_core_s"] = wl.kernel_rate()
        self_s: dict[str, list[float]] = {}
        for s in tracer.spans:
            self_s.setdefault(s.name, []).append(tracer.self_seconds(s))
        detail.update(
            traced_op_s=[op.seconds for op in traced_ops],
            traced_op_steal=[op.steal for op in traced_ops],
            span_self_s={k: statistics.median(v) for k, v in self_s.items()})
        results = os.path.join(cache, "results")
        os.makedirs(results, exist_ok=True)
        tracer.write(os.path.join(results, f"spans-{args.workload}-s{args.seed}.json"))
        units = layers.PER_LAYER
    else:
        metrics = {
            "setup_s": run["setup_s"],
            "op_s_p50": op_p50,
            "items_per_s": (sum(op.outcome.items for op in plain)
                            / sum(op.seconds for op in plain)),
            "peak_rss_mb": run["peak_rss"] / 2**20,
        }
        units = END_TO_END

    failed = sum(1 for o in outcomes if o.problems)
    detail.update(failed_ratio=failed / len(outcomes),
                  problems=[p for o in outcomes for p in o.problems][:5])
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
