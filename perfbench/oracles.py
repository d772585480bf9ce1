"""Correctness oracles, each computed once per seed outside timed runs,
and the checks every timed operation must pass.

A check returns a list of problems; an empty list means the operation's
output is correct. Any problem counts the operation as failed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq


def read_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    """Rows of a parquet file or of a directory of part files."""
    files = (sorted(glob.glob(os.path.join(path, "*.parquet")))
             if os.path.isdir(path) else [path])
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


# ---- extract -------------------------------------------------------------

def latest_texts(site: str) -> dict[str, str]:
    """url -> kernel ``text`` of its latest capture, as the generator
    wrote it (``with_text=True``)."""
    best: dict[str, tuple] = {}
    for r in read_rows(os.path.join(site, "pages.parquet"),
                       ["url", "warc_ts", "text"]):
        if r["url"] not in best or r["warc_ts"] > best[r["url"]][0]:
            best[r["url"]] = (r["warc_ts"], r["text"])
    return {u: t for u, (_, t) in best.items()}


def check_extract(rows: list[dict], oracle: dict[str, str],
                  n_edges: int) -> list[str]:
    """Every url once, ``text`` byte-identical to the oracle, and the
    edge table as long as the extracted link lists."""
    problems = []
    got = {r["url"]: r["text"] for r in rows}
    if len(got) != len(rows):
        problems.append(f"{len(rows) - len(got)} duplicate urls")
    if got.keys() != oracle.keys():
        problems.append(f"url set differs: {len(got)} vs {len(oracle)}")
    diff = [u for u in oracle if u in got
            and (got[u] or "").encode() != (oracle[u] or "").encode()]
    if diff:
        problems.append(f"{len(diff)} texts differ, e.g. {diff[0]}")
    want_edges = sum(r["n_links"] for r in rows)
    if n_edges != want_edges:
        problems.append(f"links_table has {n_edges} rows, want {want_edges}")
    return problems


# ---- crawls --------------------------------------------------------------

def _checkout_on_path() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)


def bfs_oracle(site: str, seeds: list[str], max_depth: int,
               max_pages: int) -> dict:
    """``tests/oracle_crawler.oracle_bfs`` on the site, as JSON-able
    sorted lists, cached next to the site."""
    path = os.path.join(site, f"oracle_bfs-d{max_depth}-p{max_pages}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    _checkout_on_path()
    from tests.oracle_crawler import oracle_bfs

    o = oracle_bfs(seeds, read_rows(os.path.join(site, "pages.parquet")),
                   read_rows(os.path.join(site, "robots.parquet")),
                   max_depth=max_depth, max_pages=max_pages)
    out = {"waves": [sorted(w) for w in o["waves"]],
           "seen": sorted(o["seen"]), "crawled": o["crawled"]}
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def crawl_outputs(results_dir: str, checkpoint_dir: str) -> dict:
    """Admitted rows (wave, order_in_wave, url) and the final seen set
    (seed table + every wave's discovery delta) of a finished crawl."""
    rows = []
    for wdir in sorted(glob.glob(os.path.join(results_dir, "wave=*"))):
        rows.extend(read_rows(os.path.join(wdir, "results.parquet"),
                              ["wave", "order_in_wave", "url", "extract_ms"]))
    rows.sort(key=lambda r: (r["wave"], r["order_in_wave"]))
    seen = {r["url_canon"] for r in read_rows(
        os.path.join(checkpoint_dir, "_state", "seeds_all"), ["url_canon"])}
    for p in glob.glob(os.path.join(results_dir, "wave=*", "new_links.parquet")):
        seen.update(r["url_canon"] for r in read_rows(p, ["url_canon"]))
    return {"admitted": [{k: r[k] for k in ("wave", "order_in_wave", "url")}
                         for r in rows],
            "seen": seen,
            "extract_ms": [r["extract_ms"] for r in rows
                           if r["extract_ms"] is not None]}


def check_bfs(out: dict, oracle: dict) -> list[str]:
    """Per-wave admitted sets and the final seen set equal the oracle's."""
    waves: dict[int, set] = {}
    for r in out["admitted"]:
        waves.setdefault(r["wave"], set()).add(r["url"])
    got = [waves[w] for w in sorted(waves)]
    problems = []
    if len(got) != len(oracle["waves"]):
        problems.append(f"{len(got)} waves, oracle {len(oracle['waves'])}")
    for i, (g, o) in enumerate(zip(got, oracle["waves"])):
        if g != set(o):
            problems.append(f"wave {i}: {len(g ^ set(o))} urls differ")
    if out["seen"] != set(oracle["seen"]):
        problems.append(f"seen set differs by {len(out['seen'] ^ set(oracle['seen']))}")
    return problems


def robots_allows(site: str):
    """url -> allowed, with the kernel's robots matcher (the oracle
    crawler's rule)."""
    from crawl4ai_custom_spark.kernel.robotstxt import parse_robots

    rules = {r["domain"].lower(): parse_robots(r["rules"])
             for r in read_rows(os.path.join(site, "robots.parquet"))}

    def allowed(url: str) -> bool:
        rs = rules.get(url.split("/", 3)[2].lower())
        if rs is None:
            return True
        return rs.can_fetch("/" + url.split("/", 3)[3] if url.count("/") >= 3 else "/")

    return allowed


def order_digest(admitted: list[dict]) -> str:
    h = hashlib.sha256()
    for r in admitted:
        h.update(f"{r['wave']}\t{r['order_in_wave']}\t{r['url']}\n".encode())
    return h.hexdigest()


def check_best_first(out: dict, allowed, batch: int, budget: int,
                     digest_path: str) -> list[str]:
    """Admission invariants plus a crawl-order digest that must be the
    same for every crawl of one seed (pinned in ``digest_path`` by the
    first crawl that passes the invariants)."""
    adm = out["admitted"]
    problems = []
    per_wave: dict[int, int] = {}
    for r in adm:
        per_wave[r["wave"]] = per_wave.get(r["wave"], 0) + 1
    if any(n > batch for n in per_wave.values()):
        problems.append(f"a wave admitted more than {batch}: {per_wave}")
    if len(adm) > budget:
        problems.append(f"{len(adm)} admitted over budget {budget}")
    urls = [r["url"] for r in adm]
    if len(set(urls)) != len(urls):
        problems.append(f"{len(urls) - len(set(urls))} urls admitted twice")
    denied = [u for u in urls if not allowed(u)]
    if denied:
        problems.append(f"{len(denied)} robots-disallowed urls admitted, e.g. {denied[0]}")
    digest = order_digest(adm)
    if os.path.exists(digest_path):
        with open(digest_path) as f:
            if f.read().strip() != digest:
                problems.append("crawl-order digest differs from this seed's first crawl")
    elif not problems:
        with open(digest_path + ".tmp", "w") as f:
            f.write(digest)
        os.replace(digest_path + ".tmp", digest_path)
    return problems


# ---- linkgraph -----------------------------------------------------------

def pagerank_power(edges: np.ndarray, iterations: int = 3,
                   damping: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, ranks) by the engine's power step: rank0 = 1/n, then
    base + damping * sum(rank[src] / out_deg[src]) over in-edges, with
    duplicate edge rows counted and no dangling-mass redistribution."""
    nodes, idx = np.unique(edges, return_inverse=True)
    idx = idx.reshape(edges.shape)
    n = nodes.size
    deg = np.bincount(idx[:, 0], minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = rank[idx[:, 0]] / deg[idx[:, 0]]
        rank = (1.0 - damping) / n + damping * np.bincount(
            idx[:, 1], weights=contrib, minlength=n)
    return nodes, rank


def coreness_peel(edges: np.ndarray) -> dict[int, int]:
    """Coreness by bucket peeling (Batagelj & Zaversnik 2003) over the
    undirected simple graph: self-loops dropped, duplicate pairs merged."""
    a, b = np.minimum(edges[:, 0], edges[:, 1]), np.maximum(edges[:, 0], edges[:, 1])
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    nbrs: dict[int, list[int]] = {}
    for u, v in pairs.tolist():
        nbrs.setdefault(u, []).append(v)
        nbrs.setdefault(v, []).append(u)
    deg = {u: len(vs) for u, vs in nbrs.items()}
    buckets: dict[int, set] = {}
    for u, d in deg.items():
        buckets.setdefault(d, set()).add(u)
    core: dict[int, int] = {}
    k = 0
    for _ in range(len(deg)):
        while not buckets.get(k):
            k += 1
        u = buckets[k].pop()
        core[u] = k
        for v in nbrs[u]:
            if v in core:
                continue
            dv = deg[v]
            if dv > k:
                buckets[dv].discard(v)
                deg[v] = dv - 1
                buckets.setdefault(dv - 1, set()).add(v)
    return core


def linkgraph_oracle(graph_dir: str) -> dict:
    path = os.path.join(graph_dir, "oracle.npz")
    if not os.path.exists(path):
        t = pq.read_table(os.path.join(graph_dir, "edges.parquet"))
        edges = np.stack([t["src"].to_numpy(), t["dst"].to_numpy()], axis=1)
        nodes, rank = pagerank_power(edges)
        core = coreness_peel(edges)
        cnodes = np.array(sorted(core), dtype=np.int64)
        np.savez(path + ".tmp.npz", nodes=nodes, rank=rank, cnodes=cnodes,
                 core=np.array([core[n] for n in cnodes.tolist()], dtype=np.int64))
        os.replace(path + ".tmp.npz", path)
    z = np.load(path)
    return {k: z[k] for k in z.files}


def check_pagerank(ranks, oracle: dict, rtol: float = 1e-9) -> list[str]:
    """``ranks`` (node, rank) pandas frame against the numpy power
    iteration, to ``rtol`` relative."""
    r = ranks.sort_values("node")
    if not np.array_equal(r["node"].to_numpy(), oracle["nodes"]):
        return [f"pagerank node set differs ({len(r)} vs {oracle['nodes'].size})"]
    err = np.abs(r["rank"].to_numpy() - oracle["rank"]) / oracle["rank"]
    return [f"pagerank off by {err.max():.3g} relative"] if err.max() > rtol else []


def check_coreness(cores, oracle: dict) -> list[str]:
    """``cores`` (node, coreness) pandas frame against the peeling oracle,
    exactly."""
    c = cores.sort_values("node")
    if not np.array_equal(c["node"].to_numpy(), oracle["cnodes"]):
        return ["coreness node set differs"]
    wrong = int((c["coreness"].to_numpy() != oracle["core"]).sum())
    return [f"{wrong} coreness values differ"] if wrong else []
