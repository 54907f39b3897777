"""Seeded inputs and operations of the two benchmark workloads.

Every input is a pure function of its seed. ``documents`` and ``part``
are fixed inputs (built from ``FIXED_SEED`` whatever ``--seed`` says,
like the read-only sf parquet tables ``bench.py`` reads); the transcripts,
the zipf hot-token corpus and the embeddings follow ``--seed``.

An operation builds a lazy DataFrame (driver-side plan construction,
including any eager probe jobs the library launches) and the harness
then runs ONE timed action over it: ``result_digest``, a count plus an
order-insensitive hash of every output column.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from harness import persistent_rdds, pinned, seeded, storage_mb
from sparksimjoin import (
    WhitespaceTokenizer,
    edit_distance_join,
    overlap_coefficient_join,
    tversky_index_join,
)
from sparksimjoin.ann import brute_force_topk
from sparksimjoin.cache import scoped_caches
from sparksimjoin.checkpoint import CheckpointManager
from sparksimjoin.dedup import minhash_lsh_dedup
from sparksimjoin.filter_math import JACCARD
from sparksimjoin.fixtures import expanded_vocab, make_transcripts
from sparksimjoin.incremental import run_incremental
from sparksimjoin.joins.core import prefix_explode, prefix_meeting_estimate
from sparksimjoin.pipeline import PipelineConfig, pairwise_f1, run_pipeline
from tracing import span_total

FIXED_SEED = 42

# input sizes (rows). Chosen so one pass over a workload's operations
# takes a few seconds on a 4-core host and every query keeps the
# candidate path it takes at sf0.1 (the path label
# is checked against expected.json on every run).
N_DOCS = 400
N_PART = 1000
N_ZIPF = 4000
N_EMB = 1500
N_CONV = 600
VOCAB = 2000
THRESHOLD = 0.6

_DOC_WORDS = (
    "a the data row column table key value join hash merge sort scan "
    "filter group order agg batch stream window spark query line "
    "customer part vector big small fast slow"
).split()
_PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_PART_NOUN = ["widget", "bolt", "gear", "plate", "ring", "gizmo", "nut", "pipe"]


# ---------------------------------------------------------------- inputs
def make_documents(n: int = N_DOCS, seed: int = FIXED_SEED) -> pd.DataFrame:
    """31-word-vocabulary documents of 10-99 tokens; ~5% are copies of
    an earlier document with one or two ``dup`` tokens appended (the
    near-duplicates the minhash query finds)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_DOC_WORDS, size=k)))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def make_part(n: int = N_PART, seed: int = FIXED_SEED) -> pd.DataFrame:
    """Part names drawn from 64 adjective-noun combinations."""
    rng = np.random.default_rng(seed)
    adj = rng.choice(_PART_ADJ, size=n)
    noun = rng.choice(_PART_NOUN, size=n)
    names = [f"{a} {b}" for a, b in zip(adj, noun)]
    return pd.DataFrame({"p_partkey": np.arange(n, dtype=np.int64), "p_name": names})


def make_embeddings(n: int = N_EMB, seed: int = 0, dim: int = 64,
                    n_clusters: int = 10) -> np.ndarray:
    """Unit-norm float32 vectors around ``n_clusters`` random centres."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_clusters, dim))
    x = centres[rng.integers(0, n_clusters, size=n)] + 0.6 * rng.normal(size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def embeddings_frame(spark: SparkSession, x: np.ndarray) -> DataFrame:
    pdf = pd.DataFrame({"vec_id": np.arange(len(x), dtype=np.int64),
                        "embedding": list(x)})
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")


def zipf_tokens(n: int = N_ZIPF, seed: int = 0, vocab: int = 4000) -> list[list[str]]:
    """7 log-uniform (~Zipf(1)) tokens per record plus one ubiquitous
    ``hot`` token in every other record: the adversarial-skew corpus of
    ``bench.py``'s overlap-coefficient query, seeded."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        toks = [f"w{int(vocab ** rng.random())}" for _ in range(7)]
        out.append((["hot"] if i % 2 == 0 else []) + toks)
    return out


def zipf_frame(spark: SparkSession, toks: list[list[str]]) -> DataFrame:
    pdf = pd.DataFrame({"id": np.arange(len(toks), dtype=np.int64),
                        "text": [" ".join(t) for t in toks]})
    return spark.createDataFrame(pdf, "id long, text string")


# ---------------------------------------------------------------- digest
def result_digest(df: DataFrame) -> tuple[int, int]:
    """-> (rows, order-insensitive hash over all output columns), from
    one aggregation. Doubles are rounded to 9 decimals so the hash pins
    the result, not the last bit of a float summation order. The joins'
    ``_id`` is ``monotonically_increasing_id`` and depends on the
    partitioning, so it is computed (counted) but not hashed."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c.cast("double"), 9)
        if f.name != "_id":
            cols.append(c)
    n_expr = F.count("_id") if "_id" in df.columns else F.count(F.lit(1))
    row = df.agg(
        n_expr.alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


# ---------------------------------------------------------------- queries
@dataclass
class Query:
    """One library call. ``build`` returns the lazy result; ``fixed``
    says whether its inputs ignore ``--seed`` (then its digest is pinned
    in expected.json)."""

    name: str
    build: Callable[[dict], DataFrame]
    fixed: bool


def _ws():
    return WhitespaceTokenizer()


def _q_edit(inp):
    p = inp["part"]
    return edit_distance_join(p, p, "p_partkey", "p_partkey", "p_name", "p_name",
                              2, self_join=True)


def _q_tversky(inp):
    d = inp["documents"]
    return tversky_index_join(d, d, "doc_id", "doc_id", "text", "text", _ws(), 0.6,
                              alpha=0.7, beta=0.3, allow_empty=False, self_join=True)


def _q_overlap_zipf(inp):
    z = inp["zipf"]
    return overlap_coefficient_join(z, z, "id", "id", "text", "text", _ws(), 0.8,
                                    self_join=True, allow_empty=False,
                                    dedup_strings=False)


def _q_minhash(inp):
    return minhash_lsh_dedup(inp["documents"], "doc_id", "text", threshold=0.9)


def _q_ann(inp):
    return brute_force_topk(inp["embeddings"], "vec_id", "embedding", k=3)


LIBRARY_MIX = [
    Query("tversky_doc_t6", _q_tversky, True),
    Query("edit_part_k2", _q_edit, True),
    Query("overlap_coeff_zipf_skew", _q_overlap_zipf, False),
    Query("minhash_doc_t9", _q_minhash, True),
    Query("ann_topk", _q_ann, False),
]


def candidate_path(df: DataFrame) -> str:
    """``dense`` when the executed plan has a BroadcastNestedLoopJoin
    (the all-pairs candidate path), else ``blocked``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "dense" if "BroadcastNestedLoopJoin" in plan else "blocked"


# ---------------------------------------------------------------- oracles
def overlap_coeff_oracle(toks: list[list[str]], t: float) -> set[tuple[int, int]]:
    """Exact self-join pairs (l < r) with |A∩B| / min(|A|,|B|) >= t,
    from a dense incidence-matrix product in row blocks (intersection
    sizes are small integers, exact in float32)."""
    sets = [set(x) for x in toks]
    df: dict[str, int] = {}
    for st in sets:
        for w in st:
            df[w] = df.get(w, 0) + 1
    # a token held by one record adds to no intersection
    vocab = {w: j for j, w in enumerate(sorted(w for w, c in df.items() if c > 1))}
    m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for i, st in enumerate(sets):
        m[i, [vocab[w] for w in st if w in vocab]] = 1.0
    size = np.array([len(st) for st in sets], dtype=np.float32)
    out: set[tuple[int, int]] = set()
    for lo in range(0, len(sets), 1000):
        inter = m[lo:lo + 1000] @ m.T
        need = t * np.minimum(size[lo:lo + 1000, None], size[None, :]) - 1e-9
        ii, jj = np.nonzero(inter >= need)
        ii = ii + lo
        keep = ii < jj
        out.update(zip(ii[keep].tolist(), jj[keep].tolist()))
    return out


def topk_oracle(x: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k (self excluded) -> (n, k) cosines, best first."""
    s = x.astype(np.float64) @ x.astype(np.float64).T
    np.fill_diagonal(s, -np.inf)
    return -np.sort(-s, axis=1)[:, :k]


# ---------------------------------------------------------------- workloads
def _cached(df: DataFrame) -> DataFrame:
    df = df.cache()
    df.count()
    return df


class LibraryMix:
    """Library self-joins and ANN / near-duplicate calls, one after
    another per pass."""

    queries = LIBRARY_MIX

    def __init__(self, spark: SparkSession, seed: int, work, run):
        self.spark, self.seed, self.work, self.run = spark, seed, work, run
        self.ops = [q.name for q in self.queries]
        self.inputs: dict[str, DataFrame] = {}
        self.warm_digest: dict[str, tuple[int, int]] = {}

    def prepare(self) -> None:
        need = {
            "documents": lambda: self.spark.createDataFrame(make_documents()),
            "part": lambda: self.spark.createDataFrame(make_part()),
            "zipf": lambda: zipf_frame(self.spark, self.zipf_toks),
            "embeddings": lambda: embeddings_frame(self.spark, self.emb),
        }
        self.zipf_toks = zipf_tokens(seed=self.seed)
        self.zipf_pairs = overlap_coeff_oracle(self.zipf_toks, 0.8)
        self.emb = make_embeddings(seed=self.seed)
        self.knn_cos = topk_oracle(self.emb, 3)
        for name in sorted(need):
            self.inputs[name] = _cached(need[name]())

    def run_pass(self, warm: bool) -> dict[str, float | None]:
        return {q.name: self._query(q, warm) for q in self.queries}

    def _query(self, q: Query, warm: bool) -> float | None:
        run, tr = self.run, self.run.tr

        def body():
            with tr.span("driver.construct", "construct"):
                c0 = tr.py4j_calls
                df = q.build(self.inputs)
                tr.count("py4j_calls", tr.py4j_calls - c0)
            with tr.span("action", "action"):
                return df, result_digest(df)

        rdds0 = persistent_rdds(self.spark)
        mb0 = storage_mb(self.spark) if tr.active else 0.0
        with scoped_caches():
            wall, out = run.timed(q.name, body)
            if out is not None and tr.active:
                run.persisted_mb[q.name] = storage_mb(self.spark) - mb0
            if out is not None and warm:
                self._check_warm(q, *out)
        if tr.active:
            run.leaked += persistent_rdds(self.spark) - rdds0
        if out is None:
            return None
        if not warm and out[1] != self.warm_digest.get(q.name):
            run.fail(q.name, f"digest {out[1]} differs from warm-up "
                             f"{self.warm_digest.get(q.name)}")
        return wall

    def _check_warm(self, q: Query, df: DataFrame, digest) -> None:
        self.warm_digest[q.name] = digest
        path = candidate_path(df)
        self.run.info[q.name] = {"rows": digest[0], "hash": str(digest[1]),
                                 "path": path}
        if q.fixed:
            pinned(self.run, q.name, digest, path)
            return
        seeded(self.run, q.name, digest, path)
        if q.name == "overlap_coeff_zipf_skew":
            got = {(r[0], r[1]) for r in df.select("l_id", "r_id").collect()}
            if got != self.zipf_pairs or digest[0] != len(got):
                self.run.fail(q.name, f"{len(got)} pairs vs oracle {len(self.zipf_pairs)} "
                                      f"({len(got ^ self.zipf_pairs)} differ)")
        else:
            self._check_topk(q.name, df.toPandas())

    def _check_topk(self, op: str, pdf: pd.DataFrame) -> None:
        """Every query has k=3 neighbours ranked 1..3 whose cosines are
        the exact top-3 cosines (compared by value, so ties may swap
        neighbour ids) and the true cosines of the returned vectors."""
        n, k = len(self.emb), 3
        pdf = pdf.sort_values(["query_id", "rank"])
        if len(pdf) != n * k or (pdf.groupby("query_id").size() != k).any():
            self.run.fail(op, f"{len(pdf)} rows, expected {n * k}")
            return
        q = pdf["query_id"].to_numpy()
        nb = pdf["neighbor_id"].to_numpy()
        got = pdf["cosine"].to_numpy()
        true = np.einsum("ij,ij->i", self.emb[q].astype(np.float64),
                         self.emb[nb].astype(np.float64))
        if np.abs(true - got).max() > 1e-4 or (q == nb).any():
            self.run.fail(op, "returned cosines differ from the vectors' cosines")
        if np.abs(got.reshape(n, k) - self.knn_cos).max() > 1e-4:
            self.run.fail(op, "top-3 cosines differ from the exact oracle")

    def after_traced_pass(self, lat) -> dict[str, float]:
        return {}


STAGES = ["records", "token_ranks", "tokens", "candidates", "scored", "clusters"]


class Linkage:
    """``run_pipeline`` over the first 90% of the seeded transcripts,
    then ``run_incremental`` of the last 10% against that base, each
    pass in a fresh workdir."""

    ops = ["pipeline", "batch"]

    def __init__(self, spark: SparkSession, seed: int, work, run):
        self.spark, self.seed, self.work, self.run = spark, seed, work, run
        self.k = 0
        self.warm_digest: dict[str, tuple[int, int]] = {}

    def prepare(self) -> None:
        tpdf, ents = make_transcripts(n_conv=N_CONV, seed=self.seed,
                                      vocab=expanded_vocab(VOCAB))
        cut = "conv%08d" % int(N_CONV * 0.9)
        tdf = self.spark.createDataFrame(tpdf).repartition(
            int(self.spark.conf.get("spark.sql.shuffle.partitions")))
        self.base_df = _cached(tdf.where(F.col("conv_id") < cut))
        self.batch_df = _cached(tdf.where(F.col("conv_id") >= cut))
        gold = self.spark.createDataFrame(ents)
        self.gold_all = _cached(gold)
        self.gold_base = _cached(gold.where(F.col("conv_id") < cut))
        self.n_base = int((ents["conv_id"] < cut).sum())

    def _cfg(self):
        return PipelineConfig(threshold=THRESHOLD)

    def run_pass(self, warm: bool) -> dict[str, float | None]:
        if self.k:
            shutil.rmtree(self.work / f"link{self.k}", ignore_errors=True)
        self.k += 1
        wd = self.work / f"link{self.k}"
        self.base_dir, self.inc_dir = str(wd / "base"), str(wd / "inc")
        tr = self.run.tr
        lat: dict[str, float | None] = {"pipeline": None, "batch": None}

        def pipeline():
            clusters = run_pipeline(self.spark, self.base_df, self.base_dir, self._cfg())
            with tr.span("action", "action"):
                return clusters, result_digest(clusters)

        def batch():
            clusters = run_incremental(self.spark, self.batch_df, self.base_dir,
                                       self.inc_dir, self._cfg())
            with tr.span("action", "action"):
                return clusters, result_digest(clusters)

        for op, body, root, gold, rows in (
            ("pipeline", pipeline, self.base_dir, self.gold_base, self.n_base),
            ("batch", batch, self.inc_dir, self.gold_all, N_CONV),
        ):
            t_start = time.time()
            rdds0 = persistent_rdds(self.spark)
            wall, out = self.run.timed(op, body)
            if tr.active:
                self.run.leaked += persistent_rdds(self.spark) - rdds0
            if out is None:
                if op == "pipeline":  # the batch has no base to link against
                    self.run.attempted += 1
                    self.run.fail("batch", "not run: the pipeline failed")
                return lat
            lat[op] = wall
            self._check(op, out, root, gold, rows, t_start, warm)
        return lat

    def _check(self, op, out, root, gold, rows, t_start, warm) -> None:
        """Untimed: fresh manifests, one cluster row per conversation,
        pairwise F1 = 1.0 against the gold entities, stable digest."""
        clusters, digest = out
        for st in STAGES:
            mf = os.path.join(root, st, "_MANIFEST.json")
            if not os.path.exists(mf) or os.path.getmtime(mf) < t_start - 1:
                self.run.fail(op, f"stage {st} manifest not written in this pass")
        if digest[0] != rows:
            self.run.fail(op, f"{digest[0]} cluster rows, expected {rows}")
        f1 = pairwise_f1(clusters, gold)["f1"]
        if f1 != 1.0:
            self.run.fail(op, f"pairwise F1 {f1} != 1.0")
        if warm:
            self.warm_digest[op] = digest
            self.run.info[op] = {"rows": digest[0], "hash": str(digest[1]), "f1": f1}
            seeded(self.run, op, digest, None)
        elif digest != self.warm_digest.get(op):
            self.run.fail(op, f"digest {digest} differs from warm-up "
                              f"{self.warm_digest.get(op)}")

    def after_traced_pass(self, lat) -> dict[str, float]:
        """Linkage layer metrics of the traced pass (spans, manifests,
        checkpoint bytes) plus the exact prefix meeting volume."""
        spans = self.run.tr.spans
        out: dict[str, float] = {}
        for st in STAGES[2:]:
            out[f"pipeline.{st}_s"] = span_total(spans, "pipeline", f"stage.{st}")
            out[f"incremental.{st}_s"] = span_total(spans, "batch", f"stage.{st}")
        out["checkpoint.overhead_s"] = sum(
            span_total(spans, op, "checkpoint.write")
            - span_total(spans, op, "checkpoint.parquet") for op in self.ops)
        nbytes = 0
        for root in (self.base_dir, self.inc_dir):
            for dirpath, _, files in os.walk(root):
                nbytes += sum(os.path.getsize(os.path.join(dirpath, f))
                              for f in files if f.endswith(".parquet"))
        out["checkpoint.write_mb"] = nbytes / 1e6
        base = CheckpointManager(self.spark, self.base_dir)
        inc = CheckpointManager(self.spark, self.inc_dir)
        cand = base.manifest("candidates")["rows"]
        scored = base.manifest("scored")["rows"]
        out["core.candidate_rows"] = cand
        out["core.scored_rows"] = scored
        out["core.verified_per_candidate"] = scored / cand if cand else 0.0
        out["incremental.candidate_rows"] = inc.manifest("candidates")["rows"]
        out["clustering.rounds"] = self.run.tr.counts.get(("pipeline", "clustering.rounds"), 0)
        if lat.get("pipeline"):
            out["pipeline.candidate_pairs_per_s"] = cand / lat["pipeline"]
        tokens = self.spark.read.parquet(os.path.join(self.base_dir, "tokens"))
        meet = prefix_meeting_estimate(
            prefix_explode(tokens, "l", JACCARD, THRESHOLD, id_col="id"),
            prefix_explode(tokens, "r", JACCARD, THRESHOLD, id_col="id"), same=True)
        out["core.candidates_per_meeting"] = cand / meet if meet else 0.0
        return out


WORKLOADS = {"linkage": Linkage, "library_mix": LibraryMix}
