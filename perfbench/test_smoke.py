"""Smoke test of the benchmark at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload end to end (untraced and traced), checks metric names
and units against BENCHMARK.json and layers.PER_LAYER, and checks that
each correctness check rejects a corrupted output.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers, oracles  # noqa: E402


def left_running(marker: str) -> list[int]:
    """Processes other than this one whose command line or environment
    names ``marker``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        if marker.encode() in cmd + env:
            pids.append(int(name))
    return pids


def bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    # the JVM and its Python workers write under the cache; none outlives the run
    assert left_running(os.path.join(ROOT, ".perfbench_cache")) == []
    lines = p.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    assert result["attempted"] >= 1
    return result


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


WORKLOADS = [w["name"] for w in spec()["workloads"]] + ["crawl_best_first"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    got = bench(workload, 0)["metrics"]
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert all(v["value"] > 0 for v in got.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    got = bench(workload, 1)["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == layers.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec()["per_layer"]} == layers.PER_LAYER
    # a share of the operation's wall time; whether it reaches 95 % is a
    # finding of the full-size run, not a property of the tiny one
    assert 0 < got["trace.attributed_ratio"]["value"] <= 1.01
    assert got["spark.jobs"]["value"] > 0
    if workload == "linkgraph":
        assert got["linkgraph.pagerank_s"]["value"] > 0
    else:
        assert got["kernel.cpu_s"]["value"] > 0
    if workload.startswith("crawl"):
        assert got["frontier.jobs_per_wave"]["value"] > 0
        assert got["politeness.admit_s"]["value"] > 0


def test_no_engine_exits_nonzero(tmp_path):
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""


def test_stop_descendants_ends_children_and_orphans():
    script = (
        "import os, subprocess, sys, time\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench import host\n"
        "host.adopt_orphans()\n"
        # the shell exits and orphans its background sleep, as a JVM does
        # its Python workers
        "subprocess.Popen(['sh', '-c', 'sleep 300 & exit 0'])\n"
        "subprocess.Popen(['sleep', '301'])\n"
        "time.sleep(0.5)\n"
        "pids = [p for p, _ in host.descendants(os.getpid())]\n"
        "host.stop_descendants(grace=0.2)\n"
        "print(pids)\n")
    p = subprocess.run([sys.executable, "-c", script],
                       capture_output=True, text=True, timeout=120)
    assert p.returncode == 0, p.stderr
    pids = json.loads(p.stdout)
    assert len(pids) >= 2
    for pid in pids:
        assert not os.path.exists(f"/proc/{pid}"), pid


# ---- the checks reject wrong outputs ---------------------------------------

def test_check_extract_rejects_changed_text():
    oracle = {"u1": "alpha", "u2": "beta"}
    rows = [{"url": "u1", "text": "alpha", "n_links": 2},
            {"url": "u2", "text": "beta", "n_links": 1}]
    assert oracles.check_extract(rows, oracle, 3) == []
    assert oracles.check_extract([rows[0], {**rows[1], "text": "beta "}], oracle, 3)
    assert oracles.check_extract(rows[:1], oracle, 2)
    assert oracles.check_extract(rows, oracle, 4)


def test_check_bfs_rejects_changed_waves():
    oracle = {"waves": [["a"], ["b", "c"]], "seen": ["a", "b", "c", "d"]}
    adm = [{"wave": 0, "order_in_wave": 1, "url": "a"},
           {"wave": 1, "order_in_wave": 1, "url": "b"},
           {"wave": 1, "order_in_wave": 2, "url": "c"}]
    ok = {"admitted": adm, "seen": {"a", "b", "c", "d"}}
    assert oracles.check_bfs(ok, oracle) == []
    assert oracles.check_bfs({**ok, "admitted": adm[:2]}, oracle)
    assert oracles.check_bfs({**ok, "seen": {"a", "b", "c"}}, oracle)


def test_check_best_first_rejects_broken_invariants(tmp_path):
    def adm(*urls, wave=0):
        return [{"wave": wave, "order_in_wave": i, "url": u}
                for i, u in enumerate(urls, 1)]

    allowed = lambda u: "/private/" not in u  # noqa: E731
    digest = str(tmp_path / "digest")
    good = {"admitted": adm("https://a/1", "https://a/2")}
    assert oracles.check_best_first(good, allowed, 2, 4, digest) == []
    assert oracles.check_best_first(good, allowed, 2, 4, digest) == []
    assert oracles.check_best_first(
        {"admitted": adm("https://a/2", "https://a/1")}, allowed, 2, 4, digest)
    assert oracles.check_best_first(good, allowed, 1, 4, digest)
    assert oracles.check_best_first(good, allowed, 2, 1, digest)
    assert oracles.check_best_first(
        {"admitted": adm("https://a/1", "https://a/1")}, allowed, 2, 4,
        str(tmp_path / "d2"))
    assert oracles.check_best_first(
        {"admitted": adm("https://a/private/x")}, allowed, 2, 4,
        str(tmp_path / "d3"))


def test_linkgraph_oracles_and_check():
    edges = np.array([[1, 2], [2, 3], [3, 1], [3, 4], [4, 3], [5, 5]])
    nodes, rank = oracles.pagerank_power(edges, iterations=1)
    assert nodes.tolist() == [1, 2, 3, 4, 5]
    # node 3 receives 1/5 from node 2 (one out-edge) and 1/5 from node 4
    assert rank[2] == pytest.approx(0.15 / 5 + 0.85 * 0.4)
    # triangle 1-2-3 is a 2-core, the pendant 4 and the loop-only 5 are not
    assert oracles.coreness_peel(edges) == {1: 2, 2: 2, 3: 2, 4: 1}
    nodes, rank = oracles.pagerank_power(edges)
    core = oracles.coreness_peel(edges)
    oracle = {"nodes": nodes, "rank": rank,
              "cnodes": np.array(sorted(core)),
              "core": np.array([core[n] for n in sorted(core)])}
    ranks = pd.DataFrame({"node": nodes, "rank": rank})
    cores = pd.DataFrame({"node": sorted(core), "coreness": [core[n] for n in sorted(core)]})
    assert oracles.check_pagerank(ranks, oracle) == []
    assert oracles.check_pagerank(ranks.assign(rank=rank * (1 + 1e-8)), oracle)
    assert oracles.check_pagerank(ranks.iloc[1:], oracle)
    assert oracles.check_coreness(cores, oracle) == []
    assert oracles.check_coreness(cores.assign(coreness=1), oracle)


def test_attributed_time_leaves_unattributed_time_out():
    from perfbench.eventlog import Job

    def job(start, end):
        return Job(0, start, end, None, None, [])

    # a 10 s crawl whose waves' phases cover 8 s: engine time outside them
    stats = [{"wave": 0, "t_admission": 1.0, "t_fetch_extract": 3.0},
             {"wave": 1, "t_fetch_extract": 2.5, "t_link_discovery": 1.5}]
    assert layers.attributed_seconds(stats, []) / 10.0 == pytest.approx(0.8)
    # jobs covering 2-5 s and 4-7 s of a 10 s operation: 5 s of driver time
    jobs = [job(2.0, 5.0), job(4.0, 7.0)]
    assert layers.attributed_seconds(None, jobs) / 10.0 == pytest.approx(0.5)
    assert layers.attributed_seconds([], [job(0.0, 10.0)]) == pytest.approx(10.0)


def test_extraction_jobs_are_chosen_by_span_or_frontier_job():
    from perfbench.eventlog import Job

    def job(description):
        return Job(0, 0.0, 1.0, None, description, [])

    assert layers._is_extraction("extraction.extract_pages", job(None))
    assert layers._is_extraction("frontier.run", job("wave 2: admit+fetch+extract+write"))
    assert not layers._is_extraction("extraction.links_table", job("extraction.links_table"))
    assert not layers._is_extraction("frontier.run", job("wave 2: snapshot commit"))


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    value, pct = layers.tail(xs)
    assert (value, pct) == (90, 90.0)
    assert sum(x > value for x in xs) == 10
    assert layers.tail([1.0, 2.0, 3.0]) == (2.0, 50.0)
