"""The four workloads: input sizes, the chain of public calls each one
times, its output checks and its quality evaluation.

A workload's ``run`` is written once and serves both modes: the tracer it
is handed is either ``spans.NoTrace`` (untraced runs: spans are no-ops and
layer outputs stay lazy) or ``spans.Tracer`` (traced run: every layer runs
in a labelled span and its output is cached and counted inside that span,
so the next layer starts from a materialized input).
"""

from __future__ import annotations

import json
import shutil
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
from harness import WORK

from record_matching_spark.operators.blocking import blocking_keys, candidate_pairs
from record_matching_spark.operators.cluster import cluster_assignments
from record_matching_spark.operators.evaluate import adjusted_rand_index
from record_matching_spark.operators.minhash import minhash_bands, with_minhash_signature
from record_matching_spark.operators.normalize import normalize_files, tokenize
from record_matching_spark.operators.scoring import pair_features, score_pairs
from record_matching_spark.functions.dedup import minhash_near_dup_pairs
from record_matching_spark.pipeline import Pipeline, PipelineConfig

TAU = 0.5
NEAR_DUP_THRESHOLD = 0.9
SALT_CAP = 1000

# ER quality floors: the pipeline reaches ARI/F1 of 0.99+ on these corpora;
# a drop below the floor means the program's output is wrong, not slow.
ER_QUALITY_FLOOR = 0.95

# Input sizes: files for er_* (before forking), documents, chains. "bench"
# is the measured size, "tiny" the smoke test's size.
SIZES = {
    "er_clones": {"bench": 3000, "tiny": 400},
    "er_forks_staged": {"bench": 3300, "tiny": 200},
    "near_dup_docs": {"bench": 1200, "tiny": 500},
    "cc_chains": {"bench": 60, "tiny": 4},
}
FORKS = 3

# every count a traced run reports; a workload that has no such layer
# reports 0
COUNT_METRICS = [
    "normalize.rows_out", "sha_features.docs_distinct",
    "blocking_keys.block_rows", "blocking_keys.blocks_nonsingleton",
    "blocking_keys.max_block_size", "candidate_pairs.raw_pairs",
    "candidate_pairs.pairs_out", "pair_features.pairs_in",
    "score_pairs.edges_over_tau", "near_dup.candidates", "near_dup.verified_out",
    "cluster.edges_in", "cluster.clusters_out", "cluster.max_cluster_size",
    "pipeline.checkpoint_mb",
]
CHAIN_EDGES = 500


def checksum(df: DataFrame, cols: list[str]) -> list:
    """Order-insensitive identity of a table: [rows, sum of xxhash64]."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return [int(row["n"]), str(row["h"])]


def quality(pred: DataFrame, truth: DataFrame, key: str,
            pred_col: str, truth_col: str) -> dict:
    """ARI (operators.evaluate) and pairwise F1 of a clustering against
    ground truth. The F1 counts pairs from the cluster x truth contingency
    table, which equals evaluate.pairwise_metrics over the two expanded
    within-cluster pair sets without materializing those pairs."""
    ari = adjusted_rand_index(pred, truth, element_col=key,
                              pred_col=pred_col, truth_col=truth_col)
    j = pred.select(key, pred_col).join(truth.select(key, truth_col), key)

    def pairs(*cols):
        c = j.groupBy(*cols).count()
        return c.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0

    tp, npred, ntrue = pairs(pred_col, truth_col), pairs(pred_col), pairs(truth_col)
    prec = tp / npred if npred else 0.0
    rec = tp / ntrue if ntrue else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"ari": float(ari), "pairwise_f1": float(f1)}


@dataclass
class Outcome:
    """What one timed repetition produced."""
    checksums: dict
    result: DataFrame | None = None
    problems: list[str] = field(default_factory=list)  # "" entries = ok


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, seed: int, scale: str):
        self.spark, self.seed, self.scale = spark, seed, scale
        self.size = SIZES[self.name][scale]
        self._rep: list[DataFrame] = []  # one repetition's cached outputs

    # generate(): build (or find) the cached inputs; returns a path
    # load(path): read + cache + count the inputs; returns record count
    # run(tracer, rep): one timed repetition
    # evaluate(outcome): {"ari", "pairwise_f1"}
    # check(outcome, n_records): {check name: problem, or "" when it holds}
    # counters(outcome): per-layer counts for the traced run

    def prepare(self, rep: int) -> None:
        """Untimed preparation before a repetition."""

    def unload_rep(self) -> None:
        for df in self._rep:
            df.unpersist()
        self._rep = []



# ------------------------------------------------------------------- ER


def _er_truth(truth: DataFrame) -> DataFrame:
    return truth.select(F.xxhash64("file_id").alias("fid"), "entity_id")


def _block_counters(blocks: DataFrame) -> dict:
    """Block-size census of an (id, block_key) table; raw_pairs is the
    clique expansion sum C(n, 2) that candidate_pairs deduplicates."""
    row = blocks.groupBy("block_key").count().agg(
        F.sum(F.when(F.col("count") > 1, 1).otherwise(0)).alias("ns"),
        F.max("count").alias("mx"),
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("raw"),
    ).first()
    return {"blocking_keys.blocks_nonsingleton": int(row["ns"] or 0),
            "blocking_keys.max_block_size": int(row["mx"] or 0),
            "candidate_pairs.raw_pairs": int(row["raw"] or 0)}


def _cluster_counters(clusters: DataFrame) -> dict:
    row = clusters.groupBy("cluster_id").count().agg(
        F.count(F.lit(1)).alias("n"), F.max("count").alias("mx")).first()
    return {"cluster.clusters_out": int(row["n"]),
            "cluster.max_cluster_size": int(row["mx"] or 0)}


def _structure_check(clusters: DataFrame, key: str, n_records: int,
                     node=None) -> str:
    """A clustering must assign every input record exactly once, and each
    cluster_id must be the smallest node id (``node``, default the key)
    of its cluster. Returns the problem, or "" when it holds."""
    row = clusters.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct(key).alias("d")).first()
    if row["n"] != n_records or row["d"] != n_records:
        return f"{row['n']} rows / {row['d']} distinct ids for {n_records} records"
    node = F.col(key) if node is None else node
    bad = clusters.groupBy("cluster_id").agg(F.min(node).alias("m")).filter(
        F.col("m") != F.col("cluster_id")).count()
    return f"{bad} clusters whose id is not their smallest member" if bad else ""


def _match(got, want, what: str) -> str:
    return "" if got == want else f"{what}: got {got}, want {want}"


class ErClones(Workload):
    """Clone-family files with unique contents, scored per file pair in memory."""

    name = "er_clones"

    def generate(self) -> Path:
        return inputs.er_corpus(self.size, self.seed)

    def load(self, path: Path) -> int:
        self.files = self.spark.read.parquet(str(path / "files.parquet")).cache()
        self.truth = _er_truth(self.spark.read.parquet(str(path / "truth.parquet"))).cache()
        self.truth.count()
        return self.files.count()

    def run(self, tr, rep: int) -> Outcome:
        self.unload_rep()
        norm = tr.layer("normalize", lambda: normalize_files(self.files), keep=True)
        self._rep = [norm]
        blocks = tr.layer("blocking_keys", lambda: blocking_keys(norm, id_col="fid"))
        pairs = tr.layer("candidate_pairs", lambda: candidate_pairs(
            blocks, id_col="fid", salt_cap=SALT_CAP))
        feats = tr.layer("pair_features", lambda: pair_features(pairs, norm, id_col="fid"))
        scored = tr.layer("score_pairs", lambda: score_pairs(feats))
        clusters = tr.layer("cluster", lambda: cluster_assignments(
            scored.filter(F.col("score") > TAU).select(
                F.col("left").alias("src"), F.col("right").alias("dst")),
            norm, "fid"), keep=True)
        self._rep.append(clusters)
        self._layers = {"norm": norm, "blocks": blocks, "pairs": pairs,
                        "scored": scored, "clusters": clusters}
        return Outcome({"clusters": checksum(clusters, ["fid", "cluster_id"])}, clusters)

    def evaluate(self, out: Outcome) -> dict:
        return quality(out.result, self.truth, "fid", "cluster_id", "entity_id")

    def check(self, out: Outcome, n_records: int) -> dict:
        return {"structure": _structure_check(out.result, "fid", n_records)}

    def counters(self, out: Outcome) -> dict:
        L = self._layers
        c = {"normalize.rows_out": L["norm"].count(),
             "sha_features.docs_distinct":
                 L["norm"].select("content_sha").distinct().count(),
             "blocking_keys.block_rows": L["blocks"].count(),
             "candidate_pairs.pairs_out": L["pairs"].count(),
             "score_pairs.edges_over_tau":
                 L["scored"].filter(F.col("score") > TAU).count()}
        c["pair_features.pairs_in"] = c["candidate_pairs.pairs_out"]
        c["cluster.edges_in"] = c["score_pairs.edges_over_tau"]
        c.update(_block_counters(L["blocks"]))
        c.update(_cluster_counters(L["clusters"]))
        return c


class ErForksStaged(Workload):
    """Every repo copied into 3 forks, run through the checkpointed
    Pipeline in a fresh workdir and then resumed from its checkpoints."""

    name = "er_forks_staged"

    def generate(self) -> Path:
        return inputs.er_corpus(self.size, self.seed, forks=FORKS)

    def load(self, path: Path) -> int:
        self.files = self.spark.read.parquet(str(path / "files.parquet")).cache()
        self.truth = self.spark.read.parquet(str(path / "truth.parquet")).cache()
        self.truth.count()
        return self.files.count()

    def _workdir(self, rep: int) -> Path:
        return WORK / "pipeline" / f"{self.name}-{self.scale}-{rep}"

    def prepare(self, rep: int) -> None:
        """Untimed: give the repetition a fresh, empty workdir."""
        shutil.rmtree(WORK / "pipeline", ignore_errors=True)
        self._workdir(rep).mkdir(parents=True)

    def run(self, tr, rep: int) -> Outcome:
        wd = self._workdir(rep)
        cfg = PipelineConfig(tau=TAU, salt_cap=SALT_CAP)
        pipe = Pipeline(self.spark, wd, cfg)
        if tr.enabled:
            # one run(stop_after=stage) per stage; each resumes the earlier ones
            last = len(Pipeline.STAGES)
            for i, stage in enumerate(Pipeline.STAGES, 1):
                with tr.span(f"pipeline.s{i}"):
                    fresh = pipe.run(self.files, stop_after=None if i == last else stage)
        else:
            fresh = pipe.run(self.files)
        ck_fresh = checksum(fresh, ["file_id", "cluster_id"])
        with tr.span("pipeline.resume"):
            resumed = Pipeline(self.spark, wd, cfg).run(self.files)
            ck_resumed = checksum(resumed, ["file_id", "cluster_id"])
        self._pipe = pipe
        return Outcome({"clusters": ck_fresh, "clusters_resumed": ck_resumed}, fresh,
                       [_match(ck_resumed, ck_fresh, "resumed clusters")])

    def evaluate(self, out: Outcome) -> dict:
        return quality(out.result, self.truth, "file_id", "cluster_id", "entity_id")

    def check(self, out: Outcome, n_records: int) -> dict:
        return {
            "structure": _structure_check(out.result, "file_id", n_records,
                                          node=F.xxhash64("file_id")),
            "resumed_equals_fresh": _match(out.checksums["clusters_resumed"],
                                           out.checksums["clusters"], "resumed clusters"),
        }

    def counters(self, out: Outcome) -> dict:
        wd = self._pipe.workdir
        rows = {s: json.loads((wd / s / "_manifest.json").read_text())["rows"]
                for s in Pipeline.STAGES}
        c = {"normalize.rows_out": rows["s1_normalized"],
             "sha_features.docs_distinct": rows["s2_sha_features"],
             "blocking_keys.block_rows": rows["s3_blocks"],
             "candidate_pairs.pairs_out": rows["s4_pairs"],
             "pair_features.pairs_in": rows["s4_pairs"],
             "score_pairs.edges_over_tau": self.spark.read.parquet(
                 str(wd / "s6_scores" / "data")).filter(F.col("score") > TAU).count()}
        c["cluster.edges_in"] = c["score_pairs.edges_over_tau"]
        c.update(_block_counters(self.spark.read.parquet(str(wd / "s3_blocks" / "data"))))
        c.update(_cluster_counters(out.result))
        c["pipeline.checkpoint_mb"] = sum(
            p.stat().st_size for p in wd.rglob("*") if p.is_file()) / 2**20
        return c


# -------------------------------------------------------------- near dup


class NearDupDocs(Workload):
    """q26-shaped documents: LSH near-duplicate pairs, then clusters."""

    name = "near_dup_docs"

    def generate(self) -> Path:
        return inputs.documents(self.size, self.seed, NEAR_DUP_THRESHOLD)

    def load(self, path: Path) -> int:
        self.path = path
        self.docs = self.spark.read.parquet(str(path / "docs.parquet")).cache()
        return self.docs.count()

    def run(self, tr, rep: int) -> Outcome:
        self.unload_rep()
        pairs = tr.layer("near_dup", lambda: minhash_near_dup_pairs(
            self.docs, threshold=NEAR_DUP_THRESHOLD), keep=True)
        clusters = tr.layer("cluster", lambda: cluster_assignments(
            pairs.select(F.col("left").alias("src"), F.col("right").alias("dst")),
            self.docs, "doc_id"), keep=True)
        self._rep = [pairs, clusters]
        ck = checksum(clusters, ["doc_id", "cluster_id"])
        return Outcome({"clusters": ck, "pairs": checksum(pairs, ["left", "right"])},
                       clusters)

    def _expected(self, name: str) -> DataFrame:
        return self.spark.read.parquet(str(self.path / name))

    def evaluate(self, out: Outcome) -> dict:
        truth = self._expected("expected_clusters.parquet").withColumnRenamed(
            "cluster_id", "truth_id")
        return quality(out.result, truth, "doc_id", "cluster_id", "truth_id")

    def check(self, out: Outcome, n_records: int) -> dict:
        return {
            "structure": _structure_check(out.result, "doc_id", n_records),
            "oracle_pairs": _match(
                out.checksums["pairs"],
                checksum(self._expected("expected_pairs.parquet"), ["left", "right"]),
                "pairs vs brute force"),
            "oracle_clusters": _match(
                out.checksums["clusters"],
                checksum(self._expected("expected_clusters.parquet"),
                         ["doc_id", "cluster_id"]),
                "clusters vs brute force"),
        }

    def counters(self, out: Outcome) -> dict:
        pairs = self._rep[0]
        c = {"near_dup.verified_out": pairs.count()}
        c["cluster.edges_in"] = c["near_dup.verified_out"]
        c.update(_cluster_counters(out.result))
        # the blocks minhash_near_dup_pairs builds: 32 LSH bands of 4 rows
        # over the distinct word tokens, plus one content-hash key
        toks = self.docs.select(F.col("doc_id").alias("_id"),
                                F.array_distinct(tokenize(F.col("text"))).alias("_t"))
        blocks = minhash_bands(
            with_minhash_signature(toks, tokens_col="_t", uniq_col="_id"),
            id_col="_id", num_bands=32, rows_per_band=4,
        ).unionByName(self.docs.select(
            F.col("doc_id").alias("_id"),
            F.xxhash64(F.lit("cs"), F.col("text")).alias("block_key")))
        c["candidate_pairs.raw_pairs"] = _block_counters(blocks)["candidate_pairs.raw_pairs"]
        return c

    def probes(self, tr) -> dict:
        """Traced-run extras outside the timed chain: the candidate count
        from the public verify_exact=False call."""
        cand = tr.layer("probe.near_dup_candidates", lambda: minhash_near_dup_pairs(
            self.docs, threshold=NEAR_DUP_THRESHOLD, verify_exact=False))
        n = cand.count()
        return {"near_dup.candidates": n, "candidate_pairs.pairs_out": n}


# ---------------------------------------------------------------- chains


class CcChains(Workload):
    """Long version-history chains through cluster_assignments only."""

    name = "cc_chains"

    def generate(self) -> Path:
        return inputs.chains(self.size, CHAIN_EDGES, self.seed)

    def load(self, path: Path) -> int:
        self.path = path
        self.edges = self.spark.read.parquet(str(path / "edges.parquet")).cache()
        self.nodes = self.spark.read.parquet(str(path / "nodes.parquet")).cache()
        self.edges.count()
        return self.nodes.count()

    def run(self, tr, rep: int) -> Outcome:
        self.unload_rep()
        clusters = tr.layer("cluster", lambda: cluster_assignments(
            self.edges, self.nodes, "node"), keep=True)
        self._rep = [clusters]
        return Outcome({"clusters": checksum(clusters, ["node", "cluster_id"])}, clusters)

    def evaluate(self, out: Outcome) -> dict:
        return quality(out.result, self.nodes, "node", "cluster_id", "chain")

    def check(self, out: Outcome, n_records: int) -> dict:
        want = checksum(self.spark.read.parquet(str(self.path / "expected.parquet")),
                        ["node", "cluster_id"])
        return {"structure": _structure_check(out.result, "node", n_records),
                "oracle_clusters": _match(out.checksums["clusters"], want,
                                          "clusters vs chains")}

    def counters(self, out: Outcome) -> dict:
        c = {"cluster.edges_in": self.edges.count()}
        c.update(_cluster_counters(out.result))
        return c


WORKLOADS = {w.name: w for w in (ErClones, ErForksStaged, NearDupDocs, CcChains)}
