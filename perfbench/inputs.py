"""Seeded input generators for the four workloads, cached as parquet.

Each input set is generated once per (workload, size, seed) into
``.perfbench_work/inputs`` and published by an atomic rename, so a cached
set is either complete or absent. The program under test only ever sees
the generated tables; ground truth and oracles stay on the benchmark side.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import WORK

INPUTS = WORK / "inputs"

# q26-shaped documents: words drawn from a 30-token vocabulary, so long
# documents share almost every token and LSH bands form mega-blocks.
DOC_VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
DOC_CONTENT_SEED = 26


def cached(name: str, build) -> Path:
    """Return INPUTS/name, building it with build(tmp_dir) if absent."""
    final = INPUTS / name
    if (final / "_DONE").exists():
        return final
    tmp = INPUTS / f".{name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_DONE").write_text("")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


# ------------------------------------------------------------ ER corpora


def er_corpus(n_files: int, seed: int, forks: int = 1) -> Path:
    """Clone-family repo_files corpus with entity truth: the first
    `n_files` rows ``synth_repo_files_with_truth(n_families, members_mean=4,
    heavy_families=0, seed)`` yields, generated in this one process. A
    fixed row count (not family count) keeps the input the same size for
    every seed; family sizes are random, so a family count alone varies the
    corpus by +-15% between seeds.

    No heavy (200-400 member) families: at the benchmark's scaled-down
    sizes seed 42's two heavy families alone would carry ~210k candidate
    pairs, more than the whole run budget, and their size swings the pair
    count 6x from one seed to the next.

    files.parquet: repo, path, commit, lang, content (what the program gets)
    truth.parquet: file_id, entity_id

    With forks > 1 every file is copied into `forks` repos named
    ``<repo>~f<k>``: same path, commit and content, shared entity truth.
    """
    from record_matching_spark.synth import _gen_family

    def build(out: Path) -> None:
        rows: list[dict] = []
        fid = 0
        while len(rows) < n_files:
            rows.extend(_gen_family(fid, seed, 4, heavy=False))
            fid += 1
        rows = rows[:n_files]
        if forks > 1:
            rows = [{**r, "repo": f"{r['repo']}~f{k}"} for r in rows for k in range(forks)]
        cols = {c: [r[c] for r in rows] for c in ("repo", "path", "commit", "lang", "content")}
        pq.write_table(pa.table(cols), out / "files.parquet")
        file_id = [hashlib.sha256(f"{r['repo']}|{r['path']}|{r['commit']}".encode()).hexdigest()
                   for r in rows]
        pq.write_table(
            pa.table({"file_id": file_id,
                      "entity_id": pa.array([r["entity_id"] for r in rows], pa.int64())}),
            out / "truth.parquet")

    return cached(f"er_n{n_files}_k{forks}_s{seed}", build)


# -------------------------------------------------------------- documents


def _doc_texts(n_docs: int) -> list[str]:
    rng = np.random.default_rng(DOC_CONTENT_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n = int(rng.integers(6, 97))
        texts.append(" ".join(DOC_VOCAB[j] for j in rng.integers(0, len(DOC_VOCAB), n)))
    return texts


def _popcount32(x: np.ndarray) -> np.ndarray:
    x = x - ((x >> 1) & 0x55555555)
    x = (x & 0x33333333) + ((x >> 2) & 0x33333333)
    x = (x + (x >> 4)) & 0x0F0F0F0F
    return (x * 0x01010101 & 0xFFFFFFFF) >> 24


def min_label_components(n: int, left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """Component label (= smallest node index) of nodes 0..n-1 under the
    undirected edges (left[i], right[i])."""
    label = np.arange(n, dtype=np.int64)
    while True:
        m = np.minimum(label[left], label[right])
        nxt = label.copy()
        np.minimum.at(nxt, left, m)
        np.minimum.at(nxt, right, m)
        nxt = nxt[nxt]
        if np.array_equal(nxt, label):
            return label
        label = nxt


def documents(n_docs: int, seed: int, threshold: float) -> Path:
    """q26-shaped documents plus the brute-force near-duplicate oracle.

    The document contents are fixed for a given n_docs; the seed permutes
    the row order only, so the expected pairs and clusters are the same for
    every seed. docs.parquet: doc_id, text. expected_pairs.parquet: every
    (left < right) with exact token-set Jaccard >= threshold.
    expected_clusters.parquet: doc_id, cluster_id (min doc_id of the
    pair graph's component)."""

    def build(out: Path) -> None:
        texts = _doc_texts(n_docs)
        vocab = {w: i for i, w in enumerate(DOC_VOCAB + ["dup"])}
        masks = np.array(
            [sum(1 << vocab[w] for w in set(t.split())) for t in texts],
            dtype=np.int64)
        sizes = _popcount32(masks)
        left, right = [], []
        for i in range(n_docs - 1):
            inter = _popcount32(masks[i] & masks[i + 1:])
            union = sizes[i] + sizes[i + 1:] - inter
            # same float64 division and comparison as the program's verify
            hit = np.nonzero(inter / union >= threshold)[0] + i + 1
            left.append(np.full(hit.size, i, dtype=np.int64))
            right.append(hit.astype(np.int64))
        left_a, right_a = np.concatenate(left), np.concatenate(right)
        labels = min_label_components(n_docs, left_a, right_a)
        order = np.random.default_rng(seed).permutation(n_docs)
        pq.write_table(
            pa.table({"doc_id": pa.array(order, pa.int64()),
                      "text": pa.array([texts[i] for i in order])}),
            out / "docs.parquet")
        pq.write_table(pa.table({"left": left_a, "right": right_a}),
                       out / "expected_pairs.parquet")
        pq.write_table(
            pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                      "cluster_id": labels}),
            out / "expected_clusters.parquet")

    return cached(f"docs_n{n_docs}_t{threshold}_s{seed}", build)


# ----------------------------------------------------------------- chains


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def chains(n_chains: int, chain_edges: int, seed: int) -> Path:
    """Version-history chains: chain c is node(c,0) - node(c,1) - ... -
    node(c, chain_edges), with node ids a seeded 64-bit hash of (c, i), so
    chain order is not id order. edges.parquet: src, dst. nodes.parquet:
    node, chain. expected.parquet: node, cluster_id (the chain's smallest
    id)."""

    def build(out: Path) -> None:
        per = chain_edges + 1
        with np.errstate(over="ignore"):
            idx = np.arange(n_chains * per, dtype=np.uint64)
            salt = _splitmix64(np.array([seed], dtype=np.uint64))[0]
            node = _splitmix64(idx ^ salt).view(np.int64)
        if np.unique(node).size != node.size:
            raise ValueError(f"node id collision for seed {seed}")
        chain = np.arange(n_chains * per, dtype=np.int64) // per
        grid = node.reshape(n_chains, per)
        pq.write_table(pa.table({"src": grid[:, :-1].ravel(), "dst": grid[:, 1:].ravel()}),
                       out / "edges.parquet")
        pq.write_table(pa.table({"node": node, "chain": chain}), out / "nodes.parquet")
        pq.write_table(
            pa.table({"node": node, "cluster_id": np.repeat(grid.min(axis=1), per)}),
            out / "expected.parquet")

    return cached(f"chains_c{n_chains}_e{chain_edges}_s{seed}", build)
