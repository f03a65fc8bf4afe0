"""Deduplication operators over a documents-shaped table.

The engine's blocking machinery re-used as training-data dedup: exact
(hash-groupBy), MinHash-LSH near-dup, SimHash, and n-gram Jaccard. Exact and
Jaccard are pure Catalyst; MinHash/SimHash batch through Arrow UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from record_matching_spark.operators.blocking import candidate_pairs
from record_matching_spark.operators.minhash import minhash_bands, with_minhash_signature
from record_matching_spark.operators.normalize import char_shingles, tokenize


def _fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2.5 input skew): a single
    unsplittable input file (one parquet row group) pins every narrow
    downstream op — tokenize/shingle, the minhash Arrow UDF, band explode —
    to ONE task. When the input's planned parallelism is below the
    runtime's, round-robin repartition to the full core count first (the
    rows repartitioned are the raw corpus rows, the cheapest thing in the
    dedup plan to move). On real multi-file inputs (scan splits ≥ cores)
    this is a NO-OP — no exchange is added at cluster scale. Measured on
    the single-file sf0.1 documents table: the q19 signature pipeline drops
    from a 4.1s single-core stage to a parallel one (~8× wall)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        # only consult partition counts for shuffle-free (scan-rooted)
        # plans: under AQE, .rdd on an exchange-bearing frame EXECUTES the
        # upstream stages to learn the partition count (verified: one extra
        # job) — and such inputs already carry shuffle-set parallelism
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if any(
            tok in plan
            for tok in ("Join", "Aggregate", "Sort", "Window",
                        "Repartition", "Deduplicate", "Exchange")
        ):
            return df
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n >= target:
        return df
    return df.repartition(target)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text; keeps the minimum id as representative.
    (The reference's dedup-by-hash stage, /root/reference/record_matching/
    main.py:89-93.) Output: (<id_col>, <text_col>) of survivors."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("_h"))
        .agg(F.min(id_col).alias(id_col), F.first(text_col).alias(text_col))
        .drop("_h")
    )


def exact_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All (left, right) id pairs with byte-identical text, left < right."""
    a = df.select(F.sha2(F.col(text_col), 256).alias("_h"), F.col(id_col).alias("left"))
    b = df.select(F.sha2(F.col(text_col), 256).alias("_h"), F.col(id_col).alias("right"))
    return (
        a.join(b, "_h")
        .filter(F.col("left") < F.col("right"))
        .select("left", "right")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard over all pairs within optional groups.

    Brute-force (quadratic per group) — the *oracle-grade* dedup for
    small/grouped data; use minhash_near_dup_pairs for the scale path.
    Ungrouped input is an unguarded cartesian product, so (like its sibling
    embedding_near_dup_pairs) it refuses above 100k rows rather than
    silently cross-joining a corpus. Output: (left, right, jaccard) with
    left < right.
    """
    if not group_cols and df.count() > 100_000:
        raise ValueError(
            "ngram_jaccard_pairs without group_cols is a cartesian product; "
            "pass group_cols or use minhash_near_dup_pairs above 100k rows"
        )
    toks = df.select(
        *(group_cols or []),
        F.col(id_col),
        F.array_sort(F.array_distinct(tokenize(F.col(text_col)))).alias("_t"),
        F.xxhash64(F.col(text_col)).alias("_sha"),
    )
    on = group_cols or []
    a = toks.select(*on, F.col(id_col).alias("left"),
                    F.col("_t").alias("_ta"), F.col("_sha").alias("_sha_a"))
    b = toks.select(*on, F.col(id_col).alias("right"),
                    F.col("_t").alias("_tb"), F.col("_sha").alias("_sha_b"))
    joined = a.join(b, on) if on else a.crossJoin(b)
    union_sz = F.size(F.array_union("_ta", "_tb"))
    # both-empty token sets: jaccard 1.0 ONLY for identical content —
    # two different symbol-only/non-Latin documents are not duplicates
    # (ADVICE fix; the tokenizer alphabet is [a-z0-9_])
    empty_case = F.when(F.col("_sha_a") == F.col("_sha_b"), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return (
        joined.filter(F.col("left") < F.col("right"))
        .withColumn(
            "jaccard",
            F.when(union_sz == 0, empty_case).otherwise(
                F.size(F.array_intersect("_ta", "_tb")).cast("double") / union_sz
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left", "right", "jaccard")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int = 32,
    rows_per_band: int = 4,
    salt_cap: int = 2000,
    verify_exact: bool = True,
    broadcast_features: bool | None = None,
    shingle_k: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (the 100-TB-scale dedup path).

    shingle_k=None tokenizes into lowercased words; shingle_k=k uses
    character k-shingles instead (alphabet-independent n-gram Jaccard —
    the scale path that replaces the brute-force ngram_jaccard_pairs).

    shingle→minhash→band→bucket self-join; candidates are then exact-verified
    with token Jaccard ≥ threshold (so LSH is recall machinery, not the
    decision). P(candidate | J) = 1-(1-J^r)^b: at b=32, r=4 a J=0.8 pair is
    missed with prob ≈ 5e-8. Output: (left, right, jaccard).

    Join strategy: candidate pairs are deduped first (distinct on the two id
    columns only — cross-band duplicates would otherwise multiply the
    verification's array work), then per-doc token features are attached —
    broadcast when the corpus is small (`broadcast_features=None` picks by
    corpus row count), sort-merge otherwise.
    """
    def _tok(c):
        if shingle_k is not None:
            return char_shingles(c, shingle_k)
        return tokenize(c)

    # single-file corpora otherwise run tokenize+signature on one core
    df = _fan_out(df)
    # no array_sort: the minhash signature is a set function of the distinct
    # tokens, so sorting the (string) token array first is pure waste — for
    # shingle mode that was an n·log n string sort per document
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(_tok(F.col(text_col))).alias("_t"),
    )
    sigs = with_minhash_signature(
        toks, tokens_col="_t", num_hashes=num_hashes, uniq_col="_id"
    )
    blocks = minhash_bands(sigs, id_col="_id",
                           num_bands=num_bands, rows_per_band=rows_per_band)
    # content-hash block key: identical documents are ALWAYS candidates,
    # independent of tokenization — required now that empty-token docs get
    # unique sentinel signatures (ADVICE fix)
    blocks = blocks.unionByName(
        df.select(
            F.col(id_col).alias("_id"),
            F.xxhash64(F.lit("cs"), F.col(text_col)).alias("block_key"),
        )
    )
    # the salted self-join scans blocks twice; materialize EAGERLY so the
    # signature UDF runs once and Catalyst/AQE plan the self-join with real
    # sizes. localCheckpoint (not persist): auto-released when the plan is
    # GC'd instead of pinning executor storage for the session (ADVICE fix);
    # the staged pipeline gets the same effect from its parquet checkpoint.
    # The corpus row count rides the SAME materialization action via
    # observe() — every doc emits exactly num_bands band rows + 1
    # content-sha row, so n_docs = n_block_rows/(num_bands+1) and the join
    # strategy needs NO separate count job (VERDICT r2 item 5).
    from pyspark.sql import Observation

    obs = Observation("dedup_blocks_n")
    blocks = blocks.observe(obs, F.count(F.lit(1)).alias("n"))
    blocks = blocks.localCheckpoint(eager=True)
    if not verify_exact:
        return candidate_pairs(blocks, id_col="_id", salt_cap=salt_cap)
    if broadcast_features is None:
        n_docs = obs.get["n"] / (num_bands + 1)
        broadcast_features = n_docs <= 200_000
    # verify on xxhash64'd token arrays: long-array intersect is ~9× cheaper
    # than string arrays and Jaccard is unchanged (a 64-bit collision inside
    # one pair's ~100-token union has probability ~1e-16). Materialized ONCE
    # (localCheckpoint): both verify sides and the size table read it, so
    # tokenize runs one more time total instead of once per join side.
    toksh = df.select(
        F.col(id_col).alias("_id"),
        F.array_sort(
            F.transform(
                F.array_distinct(_tok(F.col(text_col))), lambda t: F.xxhash64(t)
            )
        ).alias("_t"),
        F.xxhash64(F.col(text_col)).alias("_sha"),
    ).withColumn("_n", F.size("_t")).localCheckpoint(eager=True)
    if broadcast_features:
        # split attach (all four joins map-side broadcast): sizes+sha first
        # so the size filter runs before any array row is built
        sz_a = F.broadcast(toksh.select(
            F.col("_id").alias("left"),
            F.col("_sha").alias("_sha_a"), F.col("_n").alias("_na")))
        sz_b = F.broadcast(toksh.select(
            F.col("_id").alias("right"),
            F.col("_sha").alias("_sha_b"), F.col("_n").alias("_nb")))
        a = F.broadcast(toksh.select(F.col("_id").alias("left"),
                                     F.col("_t").alias("_ta")))
        b = F.broadcast(toksh.select(F.col("_id").alias("right"),
                                     F.col("_t").alias("_tb")))
    else:
        # sort-merge regime: a split attach would double the pair-stream
        # exchanges, so sizes ride with the arrays (the round-5 shape)
        sz_a = sz_b = None
        a = toksh.select(F.col("_id").alias("left"), F.col("_t").alias("_ta"),
                         F.col("_sha").alias("_sha_a"), F.col("_n").alias("_na"))
        b = toksh.select(F.col("_id").alias("right"), F.col("_t").alias("_tb"),
                         F.col("_sha").alias("_sha_b"), F.col("_n").alias("_nb"))
    # dedup-first: cross-band duplicate pairs would multiply the (array-
    # copying) feature joins, and the pair stream is just two int64 columns —
    # the cheapest thing in this plan to shuffle
    pairs = candidate_pairs(blocks, id_col="_id", salt_cap=salt_cap)
    # both-empty token sets: duplicate ONLY when content is identical
    empty_case = F.when(F.col("_sha_a") == F.col("_sha_b"), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    # EXACT size prefilter before the O(|A|+|B|) intersect: J(A,B) ≥ t
    # implies min(|A|,|B|)/max(|A|,|B|) ≥ t (since |A∩B| ≤ min and
    # |A∪B| ≥ max). Two-int comparison kills the low-J candidates that
    # banded LSH inevitably admits (b=32, r=4 catches ~87% of J=0.5 pairs);
    # measured 70% of candidates cut on the sf0.1 documents mega-clusters.
    # The 1e-9 slack guards the one-ulp division-rounding edge so no true
    # pair is lost; both-empty pairs (_na=_nb=0 → ratio computed on 0/0)
    # are kept via the >= on greatest(...,1) only when sizes are equal.
    # r6 optimization: the size/sha columns attach FIRST (three int64s per
    # side) and the filter runs BEFORE the token arrays join on, so the
    # array-copying attach touches only size-plausible candidates (~30% of
    # the stream on the sf0.1 mega-clusters) instead of every one.
    size_ok = (
        F.least("_na", "_nb").cast("double")
        / F.greatest("_na", "_nb", F.lit(1))
        >= F.lit(threshold - 1e-9)
    ) | ((F.col("_na") == 0) & (F.col("_nb") == 0))
    # |A∪B| = |A| + |B| − |A∩B| (the arrays are distinct), so array_union
    # never needs to materialize — one set op per pair instead of two
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union_sz = F.col("_na") + F.col("_nb") - inter
    if broadcast_features:
        cand = pairs.join(sz_a, "left").join(sz_b, "right").filter(size_ok)
        cand = cand.join(a, "left").join(b, "right")
    else:
        cand = pairs.join(a, "left").join(b, "right").filter(size_ok)
    return (
        cand.withColumn(
            "jaccard",
            F.when((F.col("_na") == 0) & (F.col("_nb") == 0), empty_case).otherwise(
                inter.cast("double") / union_sz
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left", "right", "jaccard")
    )


def _cc_tok(c, shingle_k: int | None):
    return char_shingles(c, shingle_k) if shingle_k is not None else tokenize(c)


def _cc_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    num_bands: int,
    rows_per_band: int,
    shingle_k: int | None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(_id, block_key[, *keep_cols]): LSH band keys + the content-sha key
    (identical text is ALWAYS a candidate regardless of tokenization).
    Shared by the batch and streaming decontamination paths — stateless
    per row, so it runs unchanged under Structured Streaming. `keep_cols`
    (already present on df) ride through both branches — the streaming
    path carries its verify payload this way because a stream cannot be
    re-joined to itself to attach features afterwards."""
    keep = keep_cols or []
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.array_sort(
            F.array_distinct(_cc_tok(F.col(text_col), shingle_k))
        ).alias("_t"),
        *(F.col(c) for c in keep),
    )
    sigs = with_minhash_signature(
        toks, tokens_col="_t", num_hashes=num_hashes, uniq_col="_id"
    )
    b = minhash_bands(sigs, id_col="_id",
                      num_bands=num_bands, rows_per_band=rows_per_band,
                      keep_cols=keep)
    return b.unionByName(
        df.select(
            F.col(id_col).alias("_id"),
            *(F.col(c) for c in keep),
            F.xxhash64(F.lit("cs"), F.col(text_col)).alias("block_key"),
        )
    )


def _cc_feats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    idname: str,
    suf: str,
    shingle_k: int | None,
) -> DataFrame:
    """(<idname>, _t<suf>, _sha_<suf>, _n<suf>): sorted distinct token
    hashes, content hash, and token count — the exact-verify payload."""
    return df.select(
        F.col(id_col).alias(idname),
        F.array_sort(
            F.transform(
                F.array_distinct(_cc_tok(F.col(text_col), shingle_k)),
                lambda t: F.xxhash64(t),
            )
        ).alias(f"_t{suf}"),
        F.xxhash64(F.col(text_col)).alias(f"_sha_{suf}"),
        F.size(
            F.array_distinct(_cc_tok(F.col(text_col), shingle_k))
        ).alias(f"_n{suf}"),
    )


def build_near_dup_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Persistable near-dup INDEX of a corpus — the incremental-ingestion
    contract: band the historical corpus ONCE, write both tables to
    parquet, and every future shard checks against the stored index
    instead of re-banding 100 TB of history per ingest.

    Returns (bands, feats): bands = (corpus_id, block_key) — LSH band
    keys + the content-sha always-candidate key; feats = (corpus_id,
    _ta sorted distinct token hashes, _sha_a, _na) — the exact-verify
    payload. Plain flat-schema DataFrames, round-trippable through any
    sink (test_round5 pins parquet roundtrip → identical pairs).
    Parameters must match at query time (the index is only valid for the
    banding scheme that built it)."""
    bands = _cc_bands(
        df, id_col, text_col, num_hashes, num_bands, rows_per_band, shingle_k
    ).withColumnRenamed("_id", "corpus_id")
    feats = _cc_feats(df, id_col, text_col, "corpus_id", "a", shingle_k)
    return bands, feats


def near_dup_pairs_against_index(
    index_bands: DataFrame,
    index_feats: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
    broadcast_probe: bool = True,
) -> DataFrame:
    """cross_corpus_near_dup_pairs against a PREBUILT index (see
    build_near_dup_index): the probe shard's bands+features broadcast,
    the stored index crosses two map-only scans — the shape of a daily
    ingest against a 100-TB history. Banding parameters must equal the
    index's. Output: (corpus_id, probe_id, jaccard)."""
    pb = _cc_bands(
        probe, id_col, text_col, num_hashes, num_bands, rows_per_band, shingle_k
    ).withColumnRenamed("_id", "probe_id")
    pf = _cc_feats(probe, id_col, text_col, "probe_id", "b", shingle_k)
    if broadcast_probe:
        pb, pf = F.broadcast(pb), F.broadcast(pf)
    cand = (
        index_bands.join(pb, "block_key")
        .select("corpus_id", "probe_id")
        .distinct()
    )
    union_sz = F.size(F.array_union("_ta", "_tb"))
    empty_case = F.when(
        F.col("_sha_a") == F.col("_sha_b"), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    size_ok = (
        F.least("_na", "_nb").cast("double")
        / F.greatest("_na", "_nb", F.lit(1))
        >= F.lit(threshold - 1e-9)
    ) | ((F.col("_na") == 0) & (F.col("_nb") == 0))
    return (
        cand.join(index_feats, "corpus_id")
        .join(pf, "probe_id")
        .filter(size_ok)
        .withColumn(
            "jaccard",
            F.when(union_sz == 0, empty_case).otherwise(
                F.size(F.array_intersect("_ta", "_tb")).cast("double")
                / union_sz
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("corpus_id", "probe_id", "jaccard")
    )


def incremental_dedup(
    new_df: DataFrame,
    index_bands: DataFrame,
    index_feats: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
) -> DataFrame:
    """Incremental-ingest dedup of a NEW shard: drop a new doc if it is a
    near-dup of the historical index (reason 'history_dup', checked
    first) or of any lower-id doc within the shard itself (reason
    'shard_dup' — the deterministic keep-first rule: lower id wins
    regardless of that doc's own verdict, so the decision is a pure
    function of the pair set, no sequential scan). Every new doc appears
    in the output with (kept, reason).

    Scale shape: history crosses two map-only scans against the
    broadcast shard (near_dup_pairs_against_index); the within-shard
    pass is minhash_near_dup_pairs on the (small) shard. Fully
    SQL-expressible -> DuckDB oracle q55."""
    hist = (
        near_dup_pairs_against_index(
            index_bands, index_feats, new_df, text_col, id_col, threshold,
            num_hashes, num_bands, rows_per_band, shingle_k,
        )
        .select(F.col("probe_id").alias(id_col))
        .distinct()
        .withColumn("_hist", F.lit(True))
    )
    within = (
        minhash_near_dup_pairs(
            new_df, text_col=text_col, id_col=id_col, threshold=threshold,
            num_hashes=num_hashes, num_bands=num_bands,
            rows_per_band=rows_per_band, shingle_k=shingle_k,
        )
        .select(F.col("right").alias(id_col))
        .distinct()
        .withColumn("_shard", F.lit(True))
    )
    return (
        new_df.select(F.col(id_col))
        .join(hist, id_col, "left")
        .join(within, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_hist"), "history_dup")
            .when(F.col("_shard"), "shard_dup")
            .otherwise("kept")
            .alias("reason"),
            (F.col("_hist").isNull() & F.col("_shard").isNull()).alias("kept"),
        )
    )


def cross_corpus_near_dup_pairs(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Decontamination: near-duplicate pairs BETWEEN two corpora — find
    training documents that leak evaluation/benchmark content (the
    train/test-overlap removal step every large-scale training-data
    pipeline needs; no within-side pairs are emitted).

    Scale shape for the real use (100-TB corpus × small benchmark set):
    the PROBE side's LSH band keys and token-hash features broadcast
    (benchmarks are ≤ millions of rows), so the big corpus is never
    shuffled — it streams through band computation, a broadcast hash join
    on band keys, and a broadcast feature attach: two map-only scans of
    the corpus, zero corpus-sized exchanges. Candidates are exact-verified
    with token Jaccard ≥ threshold exactly like minhash_near_dup_pairs
    (LSH is recall machinery, not the decision); identical text across
    corpora is ALWAYS a candidate via the content-sha key regardless of
    tokenization. Output: (corpus_id, probe_id, jaccard).
    """
    pb = _cc_bands(
        probe, id_col, text_col, num_hashes, num_bands, rows_per_band, shingle_k
    ).withColumnRenamed("_id", "probe_id")
    pf = _cc_feats(probe, id_col, text_col, "probe_id", "b", shingle_k)
    if broadcast_probe:
        pb, pf = F.broadcast(pb), F.broadcast(pf)
    cand = (
        _cc_bands(
            corpus, id_col, text_col,
            num_hashes, num_bands, rows_per_band, shingle_k,
        )
        .join(pb, "block_key")
        .select(F.col("_id").alias("corpus_id"), "probe_id")
        .distinct()
    )
    cf = _cc_feats(corpus, id_col, text_col, "corpus_id", "a", shingle_k)
    union_sz = F.size(F.array_union("_ta", "_tb"))
    empty_case = F.when(
        F.col("_sha_a") == F.col("_sha_b"), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    size_ok = (
        F.least("_na", "_nb").cast("double")
        / F.greatest("_na", "_nb", F.lit(1))
        >= F.lit(threshold - 1e-9)
    ) | ((F.col("_na") == 0) & (F.col("_nb") == 0))
    return (
        cand.join(cf, "corpus_id")
        .join(pf, "probe_id")
        .filter(size_ok)
        .withColumn(
            "jaccard",
            F.when(union_sz == 0, empty_case).otherwise(
                F.size(F.array_intersect("_ta", "_tb")).cast("double")
                / union_sz
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("corpus_id", "probe_id", "jaccard")
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              out_col: str = "simhash", portable: bool = False) -> DataFrame:
    """64-bit SimHash of the token multiset (Charikar 2002): sign of the
    per-bit sum of token-hash bits weighted by token frequency. Arrow-batched
    numpy; token hashing stays JVM-side.

    portable=True hashes tokens via md5 (first 15 hex chars → 60-bit int,
    the `hash_split(portable=True)` idiom) so ANY engine with md5 reproduces
    the signatures bit-for-bit (bits 60-63 are then always zero) — this is
    what lets the q24 DuckDB oracle recompute simhash in SQL. Default
    xxhash64 (faster, JVM-only)."""

    @F.pandas_udf(LongType())
    def simhash_udf(token_hashes: pd.Series) -> pd.Series:
        # flatten every doc's token hashes into one array, then one
        # vectorized segment-reduce per bit — no per-doc Python, and memory
        # stays O(total_tokens) instead of the (tokens, 64) bit matrix
        n = len(token_hashes)
        out = np.zeros(n, dtype=np.int64)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in token_hashes),
            dtype=np.int64, count=n,
        )
        nz = lens > 0
        if not nz.any():
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a, m in zip(token_hashes, nz) if m]
        ).astype(np.uint64)
        seg_lens = lens[nz]
        starts = np.zeros(len(seg_lens), dtype=np.int64)
        starts[1:] = np.cumsum(seg_lens)[:-1]
        sig = np.zeros(len(seg_lens), dtype=np.uint64)
        for b in range(64):
            ones = ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            votes = np.add.reduceat(ones, starts) * 2 - seg_lens
            sig |= (votes > 0).astype(np.uint64) << np.uint64(b)
        out[nz] = sig.view(np.int64)
        return pd.Series(out)

    toks = tokenize(F.col(text_col))
    if portable:
        token_hashes = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    else:
        token_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return df.select(F.col(id_col), simhash_udf(token_hashes).alias(out_col))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dups: block on each of `n_chunks` 16-bit signature chunks
    (pigeonhole: hamming ≤ n_chunks-1 guarantees an identical chunk), then
    exact-verify hamming distance ≤ max_hamming via bit_count (Catalyst).
    With max_hamming ≤ n_chunks-1 the pigeonhole guarantee makes the output
    EXACTLY the set of pairs at hamming ≤ max_hamming — which is what the
    q24 DuckDB oracle recomputes by brute force (portable=True md5 token
    hashes). Output: (left, right, hamming)."""
    sh = simhash64(df, text_col=text_col, id_col=id_col, portable=portable)
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1
    keys = sh.select(
        F.col(id_col).alias("_id"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.xxhash64(
                    F.lit("sh"),
                    F.lit(c),
                    F.shiftrightunsigned("simhash", c * chunk_bits).bitwiseAND(mask),
                )
                for c in range(n_chunks)
            ])
        ).alias("block_key"),
    ).localCheckpoint(eager=True)  # scanned twice by the self-join; eager so
    # the UDF runs once; auto-released on GC (vs persist, which pins storage)
    a = keys.select("block_key", F.col("_id").alias("left"), F.col("simhash").alias("_sa"))
    b = keys.select("block_key", F.col("_id").alias("right"), F.col("simhash").alias("_sb"))
    return (
        a.join(b, "block_key")
        .filter(F.col("left") < F.col("right"))
        .withColumn("hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("left", "right", "hamming")
        .distinct()
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    keep_text: bool = False,
) -> DataFrame:
    """C4-style LINE-level deduplication: a (space-trimmed, non-empty) line
    that occurs in >= `min_docs` DISTINCT documents is boilerplate (license
    headers, nav bars, footer chrome) and every occurrence is removed; each
    document keeps its remaining lines in original order. This is the
    classic training-data dedup mode between exact whole-doc dedup and
    near-dup (C4, Raffel et al. 2020 removed three-sentence spans repeated
    across the corpus; lines are the code/web analog the reference's
    pandas pipeline never needed at its scale).

    Scale shape — inverted index, never all-pairs:
    1. posexplode lines (one shuffle-free map);
    2. distinct (doc, line-hash) -> groupBy(line-hash) count = doc
       frequency: one exchange on the 8-byte hash, map-side partial aggs;
    3. boilerplate hash set joins back BROADCAST-sized in the common case
       (boilerplate is by definition a small distinct set; Spark's AQE
       picks the strategy from the actual count);
    4. rebuild text with sort_array(collect_list(struct(pos, line))) —
       the q08 ordered-agg idiom.
    Empty/whitespace-only lines are never counted as boilerplate and are
    always kept (they carry document structure, not content).

    Output: (id_col, n_lines, n_kept, dedup_sha) + optionally dedup_text;
    every input doc appears (docs reduced to nothing get dedup_sha of '').
    Fully SQL-expressible -> DuckDB-oracled as q39."""
    lines = F.split(F.col(text_col), "\n")
    ex = df.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    ).withColumn(
        "_lh",
        F.when(
            F.trim(F.col("line")) != "", F.xxhash64(F.lit("ln"), F.trim(F.col("line")))
        ),
    )
    bad = (
        ex.filter(F.col("_lh").isNotNull())
        .select(F.col(id_col), "_lh")
        .distinct()
        .groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_lh")
    )
    # null _lh (blank lines) never matches the anti-join probe -> kept
    kept = ex.join(bad, "_lh", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("dedup_text"),
    )
    out = (
        df.select(F.col(id_col), F.size(lines).alias("n_lines"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.sha2(F.coalesce(F.col("dedup_text"), F.lit("")), 256).alias("dedup_sha"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
    )
    return out if keep_text else out.drop("dedup_text")


def ngram_decontaminate(
    corpus: DataFrame,
    probe: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Exact n-gram decontamination (the GPT-3/PaLM mode: a training doc
    is contaminated if it shares ANY exact n-token run with a benchmark
    doc) — the third decontamination mode beside near-dup (q38 minhash)
    and surgical span excision (q41 winnowing). Tokens are
    whitespace-split lowercase; n-grams are consecutive token windows.

    Scale shape mirrors cross_corpus_near_dup_pairs: the probe side's
    DISTINCT n-gram keys broadcast (benchmark suites are tiny next to a
    100-TB corpus), so the corpus crosses ONE map-only scan + broadcast
    join — zero corpus-sized exchanges. The per-(corpus-doc) match count
    aggregates on id_col only. portable=False keys n-grams by xxhash64
    (8 bytes/gram in the broadcast); portable=True keys by the raw gram
    string so any engine reproduces it exactly -> DuckDB oracle q47.

    Output: (id_col, n_matched) — corpus docs sharing >= 1 distinct
    probe n-gram, with how many distinct probe n-grams they contain."""
    def grams(df: DataFrame) -> DataFrame:
        toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                        lambda t: F.length(t) > 0)
        g = F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
            ),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        key = F.col("gram") if portable else F.xxhash64(F.lit("ng"), F.col("gram"))
        return (
            df.select(F.col(id_col), F.explode(g).alias("gram"))
            .select(F.col(id_col), key.alias("_gk"))
            .distinct()
        )

    pg = grams(probe).select("_gk").distinct()
    if broadcast_probe:
        pg = F.broadcast(pg)
    return (
        grams(corpus)
        .join(pg, "_gk", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )


def near_dedup_keep_min(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-duplicate DEDUP of a corpus: MinHash-LSH candidate
    pairs with exact-Jaccard verification (minhash_near_dup_pairs), then
    transitive closure over the verified pair graph (large/small-star CC),
    then keep-one-per-cluster — the lowest id in each near-dup cluster
    survives. This is the composed operation a training pipeline actually
    runs ("dedup the corpus"), not just the pair listing; the composition
    is itself the scale path: banded LSH pairs + O(log n)-round
    distributed CC, never all-pairs, never a driver-side union-find.

    Output: (id_col, cluster_id, kept) for EVERY input row — kept is true
    exactly for the cluster minimum (singletons are their own cluster and
    always kept). DuckDB-oracled (q50) via the q26 recursive-CTE closure
    over brute-force Jaccard pairs."""
    from record_matching_spark.operators.cluster import cluster_assignments

    pairs = minhash_near_dup_pairs(
        df, text_col=text_col, id_col=id_col, threshold=threshold,
        **minhash_kwargs,
    )
    edges = pairs.select(F.col("left").alias("src"), F.col("right").alias("dst"))
    assign = cluster_assignments(edges, df, id_col)
    return assign.select(
        F.col(id_col),
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("kept"),
    )
