"""Round-6 optimization gates: every rewrite that changed an operator's
internals is pinned to the round-5 semantics here.

- sha_features grew a map-side Arrow TF-IDF path (numpy-broadcast idf) with
  the round-5 shuffle shape kept as the >1M-docs fallback — both paths must
  produce the same table.
- candidate_pairs deduplicates with an exchange-first shape (repartition by
  pair key, then distinct) — pinned against the brute-force clique union by
  tests/test_blocking.py::test_candidate_pairs_equals_clique_union.
- connected components dropped large-star's per-round distinct — component
  assignments on duplicate-heavy / high-diameter graphs must be exact.
- minhash_near_dup_pairs verifies via |A∪B| = |A|+|B|−|A∩B| with a split
  size-first attach — pair sets and jaccard VALUES must equal the
  brute-force oracle's.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_sha_features_paths_agree(spark, monkeypatch):
    """The numpy-broadcast fast path and the >1M-docs shuffle fallback must
    emit identical (content_sha, sig, tid, tw) tables — same tids, same
    float32 weights — modulo the empty-doc null-vs-missing-row detail that
    both normalize to NULL."""
    import record_matching_spark.operators.scoring as S

    rows = [
        ("a", "alpha beta beta gamma"),
        ("b", "alpha beta delta delta delta"),
        ("c", "gamma gamma epsilon"),
        ("d", ""),  # empty-token doc -> NULL tid/tw
        ("e", "alpha beta beta gamma"),  # duplicate content of 'a'
    ]
    files = spark.createDataFrame(rows, "file_id string, content string")
    files = files.withColumn("content_sha", F.sha2("content", 256)).withColumn(
        "tokens",
        F.filter(F.split(F.lower("content"), r"[^a-z0-9_]+"),
                 lambda t: F.length(t) >= 2),
    )
    fast = S.sha_features(files)
    monkeypatch.setattr(S, "VOCAB_BROADCAST_MAX_DOCS", 0)
    slow = S.sha_features(files)

    def norm(df):
        out = {}
        for r in df.collect():
            out[r["content_sha"]] = (
                r["sig"],
                None if r["tid"] is None else tuple(r["tid"]),
                None if r["tw"] is None else tuple(r["tw"]),
            )
        return out

    nf, ns = norm(fast), norm(slow)
    assert set(nf) == set(ns)
    for sha in nf:
        assert nf[sha][0] == ns[sha][0], "sig mismatch"
        assert nf[sha][1] == ns[sha][1], "tid mismatch"
        if nf[sha][2] is None:
            assert ns[sha][2] is None
        else:
            for x, y in zip(nf[sha][2], ns[sha][2]):
                assert x == pytest.approx(y, abs=1e-6)
    # weights are L2-normalized
    for sha, (_, tid, tw) in nf.items():
        if tw:
            assert sum(w * w for w in tw) == pytest.approx(1.0, abs=1e-5)


def test_cc_exact_on_dup_heavy_graph(spark):
    """Star rounds without large-star's distinct must still converge to the
    exact component minima on a graph that maximizes duplicate emissions
    (many nodes sharing one minimum) plus a long chain (worst-case
    diameter), with duplicate + reversed input edges thrown in."""
    from record_matching_spark.operators.cluster import connected_components

    edges = []
    # star: 1..40 all attached to 0 via a middle hub 41 (degree fan-in)
    edges += [(41, i) for i in range(41)]
    # chain: 100..160
    edges += [(i, i + 1) for i in range(100, 160)]
    # duplicates and reversed orientations
    edges += [(i + 1, i) for i in range(100, 160, 3)]
    edges += [(41, 5), (41, 5), (0, 41)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    for n in range(42):
        assert got[n] == 0
    for n in range(100, 161):
        assert got[n] == 100


def test_minhash_jaccard_values_match_oracle(spark):
    """The na+nb−inter union rewrite and the split size-first attach must
    leave pair sets AND jaccard values identical to brute force."""
    from record_matching_spark.functions.dedup import (
        minhash_near_dup_pairs, ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["left"], r["right"]): r["jaccard"]
        for r in minhash_near_dup_pairs(docs, threshold=0.8).collect()
    }
    want = {
        (r["left"], r["right"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert got == want  # exact doubles: same ints divided in both plans
