"""Per-layer metrics of a traced run.

Jobs are attributed to spans by the job group each span sets; jobs from
threads the benchmark does not own (the frontier's asynchronous snapshot
commit) fall back to the innermost span open at their submission time.
Per-operation figures are medians over the run's operations. Layers that
do no work on a workload report 0.
"""

from __future__ import annotations

import statistics

from . import eventlog
from .spans import GROUP_PREFIX, Tracer

PER_LAYER = {
    "kernel.cpu_s": "s",
    "kernel.page_ms_p50": "ms",
    "kernel.pages_per_core_s": "pages/s",
    "extraction.boundary_cpu_s": "s",
    "extraction.core_busy_ratio": "ratio",
    "extraction.task_skew": "ratio",
    "extraction.tasks": "count",
    "frontier.jobs_per_wave": "count",
    "frontier.stages_per_wave": "count",
    "frontier.fetch_extract_s": "s",
    "frontier.admission_s": "s",
    "frontier.link_discovery_s": "s",
    "frontier.state_commit_s": "s",
    "frontier.fetched_ok_ratio": "ratio",
    "frontier.new_links": "count",
    "frontier.waves": "count",
    "frontier.wave_s_p50": "s",
    "frontier.wave_s_tail": "s",
    "frontier.wave_tail_pct": "%",
    "politeness.admit_s": "s",
    "robots.mark_s": "s",
    "seen.bloom_add_s": "s",
    "seen.filter_unseen_exact_s": "s",
    "state.snapshot_bytes_per_page": "bytes",
    "state.resume_s": "s",
    "linkgraph.pagerank_s": "s",
    "linkgraph.coreness_s": "s",
    "linkgraph.pagerank_exchanges": "count",
    "spark.jobs": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "sources.latest_view_s": "s",
    "trace.op_s_p50": "s",
    "trace.overhead_s": "s",
    "trace.attributed_ratio": "ratio",
}

WAVE_PHASES = {
    "frontier.admission_s": "t_admission",
    "frontier.fetch_extract_s": "t_fetch_extract",
    "frontier.link_discovery_s": "t_link_discovery",
    "frontier.state_commit_s": "t_state_commit",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that leaves at least
    ``beyond`` samples above it; the median when too few samples leave
    that percentile above the median."""
    xs = sorted(samples)
    k = len(xs) - beyond - 1
    if k < len(xs) // 2:
        return _median(xs), 50.0
    return xs[k], 100.0 * (k + 1) / len(xs)


def attribute(tracer: Tracer, log: eventlog.EventLog) -> dict[int, list]:
    """span id -> jobs launched while it was the innermost span."""
    by_span: dict[int, list] = {}
    for job in log.jobs.values():
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
        else:
            s = tracer.innermost_at(job.start)
            if s is None:
                continue
            sid = s.id
        by_span.setdefault(sid, []).append(job)
    return by_span


def _stages(log: eventlog.EventLog, jobs: list) -> list[eventlog.Stage]:
    return [s for j in jobs for s in log.job_stages(j)]


def wave_seconds(wave: dict) -> float:
    """A wave's time as the frontier's own phase timings (``t_*``) give it."""
    return sum(v for k, v in wave.items() if k.startswith("t_"))


def attributed_seconds(stats: list[dict] | None, layer_jobs: list) -> float:
    """The part of an operation's wall time the layer figures account for.

    A crawl's is the sum of the frontier's per-wave phase timings (engine
    set-up, the final empty-frontier check and the last commit join are
    outside every phase). Any other operation's is the union of the Spark
    jobs launched inside its layer spans: driver-side work between jobs
    (planning, result conversion, file commits) is not accounted for."""
    if stats:
        return sum(wave_seconds(w) for w in stats)
    return eventlog.union_seconds([(j.start, j.end) for j in layer_jobs])


def _is_extraction(span_name: str, job) -> bool:
    """A job of the extraction layer: launched in the ``extract_pages``
    span, or the frontier's admit+fetch+extract+write job."""
    return (span_name == "extraction.extract_pages"
            or "fetch+extract" in (job.description or ""))


def compute(tracer: Tracer, log: eventlog.EventLog, outcomes: list,
            cpus: int, latest_view_s: list[float]) -> dict:
    """Every PER_LAYER metric except the trace.op_s_p50/overhead pair,
    which the caller sets from the operation times."""
    ops = [s for s in tracer.spans if s.name == "op"]
    by_span = attribute(tracer, log)
    m = dict.fromkeys(PER_LAYER, 0.0)

    per_op: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_op.setdefault(name, []).append(value)

    all_ms: list[float] = []
    waves: list[float] = []
    for span, out in zip(ops, outcomes):
        # (span name, job) of every job the operation launched; those of
        # the op span itself are outside any layer span
        named = [(s.name, j) for s in [span] + tracer.descendants(span)
                 for j in by_span.get(s.id, [])]
        jobs = [j for _, j in named]
        stages = _stages(log, jobs)
        add("spark.jobs", len(jobs))
        add("spark.driver_gap_s", span.seconds - eventlog.union_seconds(
            [(j.start, j.end) for j in jobs]))
        add("spark.executor_run_s", sum(s.run_s for s in stages))
        add("spark.executor_cpu_s", sum(s.cpu_s for s in stages))
        add("spark.gc_s", sum(s.gc_s for s in stages))
        add("spark.shuffle_read_bytes", sum(s.shuffle_read for s in stages))
        add("spark.shuffle_write_bytes", sum(s.shuffle_write for s in stages))
        add("spark.spill_bytes", sum(s.spill for s in stages))
        stats = out.info.get("stats")
        layer_jobs = [j for name, j in named if name != "op"]
        add("trace.attributed_ratio",
            attributed_seconds(stats, layer_jobs) / span.seconds)

        ms = out.info.get("extract_ms", [])
        all_ms.extend(ms)
        kernel_s = sum(ms) / 1000.0
        add("kernel.cpu_s", kernel_s)
        if ms:
            ext_jobs = [j for name, j in named if _is_extraction(name, j)]
            ext_stages = _stages(log, ext_jobs)
            run_s = sum(s.run_s for s in ext_stages)
            wall = eventlog.union_seconds([(j.start, j.end) for j in ext_jobs])
            add("extraction.boundary_cpu_s", run_s - kernel_s)
            add("extraction.core_busy_ratio", run_s / (cpus * wall) if wall else 0.0)
            add("extraction.tasks", sum(s.tasks for s in ext_stages))
            if ext_stages:
                big = max(ext_stages, key=lambda s: s.run_s)
                med = statistics.median(big.task_s)
                add("extraction.task_skew", max(big.task_s) / med if med else 0.0)

        if stats:
            n = len(stats)
            add("frontier.waves", n)
            add("frontier.jobs_per_wave", len(jobs) / n)
            add("frontier.stages_per_wave", len(stages) / n)
            for metric, key in WAVE_PHASES.items():
                add(metric, sum(w.get(key, 0.0) for w in stats))
            admitted = sum(w["admitted"] for w in stats)
            add("frontier.fetched_ok_ratio",
                sum(w["fetched_ok"] for w in stats) / max(1, admitted))
            add("frontier.new_links", sum(w["new_links"] for w in stats))
            waves.extend(wave_seconds(w) for w in stats)

        for child in tracer.children(span):
            if child.name.startswith("linkgraph."):
                add(child.name + "_s", child.seconds)

    for name, values in per_op.items():
        m[name] = _median(values)
    # the weakest operation decides whether the trace covers the run
    m["trace.attributed_ratio"] = min(per_op.get("trace.attributed_ratio", [0.0]))
    m["kernel.page_ms_p50"] = _median(all_ms)
    if waves:
        m["frontier.wave_s_p50"] = _median(waves)
        m["frontier.wave_s_tail"], m["frontier.wave_tail_pct"] = tail(waves)
    m["sources.latest_view_s"] = _median(latest_view_s)
    return m
