"""Seeded benchmark inputs, cached on disk by (kind, seed, size).

The engine only ever sees the generated files: page corpora come from
``sources.datagen.write_dataset`` and the link graph from a seeded
power-law generator here. Generation runs before set-up and is not part
of any reported time. A cache directory is complete once its ``DONE``
marker exists, so a run that was killed mid-write regenerates it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np


def _cached(cache_root: str, key: str, build) -> str:
    d = os.path.join(cache_root, "inputs", key)
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    build(d)
    open(os.path.join(d, "DONE"), "w").close()
    return d


def page_site(cache_root: str, seed: int, n_pages: int, n_domains: int,
              with_text: bool) -> str:
    """pages/seeds/robots parquet of a ``datagen`` site. ``with_text``
    stores the single-process kernel ``text`` of every capture (the
    extraction oracle)."""
    from crawl4ai_custom_spark.sources.datagen import write_dataset

    key = f"site-s{seed}-n{n_pages}-d{n_domains}-t{int(with_text)}"
    return _cached(cache_root, key, lambda d: write_dataset(
        d, n_pages=n_pages, n_domains=n_domains, seed=seed,
        with_text=with_text))


def power_law_edges(seed: int, n_nodes: int, out_degree: int,
                    alpha: float = 0.8) -> np.ndarray:
    """Directed link graph: every node links to ``out_degree`` targets
    drawn from a Zipf(alpha) popularity law over a seeded permutation of
    the nodes (power-law in-degree, the shape of a web link graph).
    Self-loops and duplicate edges are dropped. Returns an (E, 2) int64
    array sorted by (src, dst)."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_nodes + 1) ** alpha
    popularity = (weights / weights.sum())[rng.permutation(n_nodes)]
    src = np.repeat(np.arange(n_nodes, dtype=np.int64), out_degree)
    dst = rng.choice(n_nodes, size=src.size, p=popularity).astype(np.int64)
    keep = src != dst
    return np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)


def graph(cache_root: str, seed: int, n_nodes: int, out_degree: int) -> str:
    """``edges.parquet`` (src bigint, dst bigint) of :func:`power_law_edges`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(d: str) -> None:
        e = power_law_edges(seed, n_nodes, out_degree)
        pq.write_table(pa.table({"src": e[:, 0], "dst": e[:, 1]}),
                       os.path.join(d, "edges.parquet"))

    return _cached(cache_root, f"graph-s{seed}-n{n_nodes}-k{out_degree}",
                   build)
