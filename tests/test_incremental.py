"""Incremental linkage (sparksimjoin/incremental.py): exact
equivalence with a full recompute, chaining, bridge merges, resume,
and the guard rails. Greenfield vs the reference (batch-only)."""

from __future__ import annotations

import shutil
from dataclasses import replace

import pandas as pd
import pytest

from sparksimjoin.fixtures import make_transcripts
from sparksimjoin.incremental import run_incremental
from sparksimjoin.pipeline import PipelineConfig, run_pipeline

CFG = PipelineConfig(threshold=0.6)

T_PDF, E_PDF = make_transcripts(n_conv=260, seed=7)
_CONVS = sorted(T_PDF["conv_id"].unique())
# suffix split: fixture entities span adjacent conv ids, so the cut
# leaves some entities straddling base/new — natural bridge cases
BASE_IDS = set(_CONVS[:200])
NEW_IDS = set(_CONVS[200:])


@pytest.fixture(scope="module")
def split(spark):
    base = spark.createDataFrame(T_PDF[T_PDF.conv_id.isin(BASE_IDS)]).cache()
    new = spark.createDataFrame(T_PDF[T_PDF.conv_id.isin(NEW_IDS)]).cache()
    full = spark.createDataFrame(T_PDF).cache()
    base.count(), new.count(), full.count()
    return base, new, full


def _rows(clusters):
    return sorted((r["conv_id"], r["component"]) for r in clusters.collect())


def test_incremental_equals_full(spark, split, tmp_path):
    """The headline invariant: base run + incremental batch ==
    byte-identical clusters (ids AND labels) to one full run over the
    union — exactness of the frozen-token-order + contraction-seeded
    design, not an approximation."""
    base, new, full = split
    full_rows = _rows(run_pipeline(spark, full, str(tmp_path / "full"), CFG))
    run_pipeline(spark, base, str(tmp_path / "base"), CFG)
    inc_rows = _rows(
        run_incremental(spark, new, str(tmp_path / "base"), str(tmp_path / "inc"), CFG)
    )
    assert inc_rows == full_rows
    assert len(inc_rows) == len(_CONVS)


def test_chained_batches_equal_full(spark, split, tmp_path):
    """An incremental dir is itself a valid base: two successive
    batches chained through manifests match the full recompute."""
    base, _, full = split
    mid_ids = set(_CONVS[200:230])
    b1 = spark.createDataFrame(T_PDF[T_PDF.conv_id.isin(mid_ids)])
    b2 = spark.createDataFrame(T_PDF[T_PDF.conv_id.isin(NEW_IDS - mid_ids)])
    full_rows = _rows(run_pipeline(spark, full, str(tmp_path / "full"), CFG))
    run_pipeline(spark, base, str(tmp_path / "base"), CFG)
    run_incremental(spark, b1, str(tmp_path / "base"), str(tmp_path / "inc1"), CFG)
    rows = _rows(
        run_incremental(spark, b2, str(tmp_path / "inc1"), str(tmp_path / "inc2"), CFG)
    )
    assert rows == full_rows
    # the uncapped inc1 candidates manifest records stop_token_cap=None,
    # so a capped batch chained onto it is rejected before any job
    with pytest.raises(ValueError, match="config mismatch"):
        run_incremental(spark, b2, str(tmp_path / "inc1"), str(tmp_path / "inc3"),
                        replace(CFG, stop_token_cap=50))


def _mini_transcripts(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            [
                {"conv_id": cid, "turn_idx": 0, "role": "user", "text": text,
                 "tool": None, "ts": pd.Timestamp("2026-01-01")}
                for cid, text in rows
            ]
        )
    )


def test_bridge_merges_two_base_clusters(spark, tmp_path):
    """A new record similar to two mutually-dissimilar base records
    merges their previously-separate components, and the merged label
    is the global min conv_id — the case contraction seeding must get
    right."""
    cfg = PipelineConfig(threshold=0.5)
    base = _mini_transcripts(
        spark, [("a", "alpha beta gamma"), ("b", "delta epsilon zeta")]
    )
    # jaccard(a, c) = jaccard(b, c) = 3/6 = 0.5; jaccard(a, b) = 0
    new = _mini_transcripts(
        spark, [("c", "alpha beta gamma delta epsilon zeta")]
    )
    b_rows = _rows(run_pipeline(spark, base, str(tmp_path / "base"), cfg))
    assert b_rows == [("a", "a"), ("b", "b")]
    rows = _rows(
        run_incremental(spark, new, str(tmp_path / "base"), str(tmp_path / "inc"), cfg)
    )
    assert rows == [("a", "a"), ("b", "a"), ("c", "a")]


def test_base_prune_metric_and_disjoint_vocab(spark, tmp_path):
    """The (new x base) posting prune: the batch's distinct prefix
    vocabulary is recorded on the candidates manifest (lazy observed
    metric, resolved by the stage write — proves the CollectMetrics
    node survived the broadcast-semi-join plan), and a batch sharing
    NO tokens with the base still links correctly — the pruned base
    side contributes nothing and clusters come out right."""
    from sparksimjoin.checkpoint import CheckpointManager

    cfg = PipelineConfig(threshold=0.5)
    base = _mini_transcripts(
        spark, [("a", "alpha beta gamma"), ("b", "delta epsilon zeta")]
    )
    new = _mini_transcripts(
        spark, [("x", "eta theta iota"), ("y", "eta theta iota")]
    )
    run_pipeline(spark, base, str(tmp_path / "base"), cfg)
    rows = _rows(
        run_incremental(spark, new, str(tmp_path / "base"), str(tmp_path / "inc"), cfg)
    )
    assert rows == [("a", "a"), ("b", "b"), ("x", "x"), ("y", "x")]
    m = CheckpointManager(spark, str(tmp_path / "inc")).manifest("candidates")
    assert isinstance(m["batch_prefix_vocab"], int)
    assert 1 <= m["batch_prefix_vocab"] <= 3  # <= |{eta, theta, iota}|


def test_stop_token_cap_excluding_every_token(spark, tmp_path):
    """A cap that excludes every prefix token empties the batch funnel,
    so AQE prunes both observed metrics' CollectMetrics nodes; the
    candidates stage is still written, empty, with both metrics
    counted from their fallback frames."""
    from sparksimjoin.checkpoint import CheckpointManager

    # each conversation twice in the base and once more in the batch:
    # every token has base doc frequency >= 2 > cap
    t_pdf, _ = make_transcripts(10, seed=5)
    cfg = replace(CFG, stop_token_cap=1)
    base = pd.concat([t_pdf, t_pdf.assign(conv_id=t_pdf["conv_id"] + "_dup")],
                     ignore_index=True)
    new = t_pdf.assign(conv_id=t_pdf["conv_id"] + "_new")
    run_pipeline(spark, spark.createDataFrame(base), str(tmp_path / "base"), cfg)
    run_incremental(spark, spark.createDataFrame(new), str(tmp_path / "base"),
                    str(tmp_path / "inc"), cfg)
    m = CheckpointManager(spark, str(tmp_path / "inc")).manifest("candidates")
    assert m["rows"] == 0
    assert m["dropped_stop_tokens"] > 0
    assert m["batch_prefix_vocab"] > 0


def test_incremental_resume_identical(spark, split, tmp_path):
    """Kill-after-candidates resume inside the incremental dir: later
    stages recompute, result identical (same contract as
    run_pipeline's resume)."""
    import os

    base, new, _ = split
    run_pipeline(spark, base, str(tmp_path / "base"), CFG)
    inc = str(tmp_path / "inc")
    rows1 = _rows(run_incremental(spark, new, str(tmp_path / "base"), inc, CFG))
    for stage in os.listdir(inc):
        if stage.startswith(("scored", "clusters", "cc_round")):
            shutil.rmtree(os.path.join(inc, stage))
    rows2 = _rows(run_incremental(spark, new, str(tmp_path / "base"), inc, CFG))
    assert rows1 == rows2


def test_overlapping_batch_rejected(spark, split, tmp_path):
    base, _, _ = split
    run_pipeline(spark, base, str(tmp_path / "base"), CFG)
    with pytest.raises(ValueError, match="already exist in the base corpus"):
        run_incremental(spark, base.limit(5), str(tmp_path / "base"),
                        str(tmp_path / "inc"), CFG)


def test_config_mismatch_rejected(spark, split, tmp_path):
    base, new, _ = split
    run_pipeline(spark, base, str(tmp_path / "base"), CFG)
    with pytest.raises(ValueError, match="config mismatch"):
        run_incremental(spark, new, str(tmp_path / "base"), str(tmp_path / "inc"),
                        PipelineConfig(threshold=0.8))
    # comp_op is checked against the base's scored manifest
    with pytest.raises(ValueError, match="config mismatch.*comp_op"):
        run_incremental(spark, new, str(tmp_path / "base"), str(tmp_path / "inc"),
                        replace(CFG, comp_op=">"))


def test_incomplete_base_rejected(spark, split, tmp_path):
    _, new, _ = split
    (tmp_path / "empty").mkdir()
    with pytest.raises(ValueError, match="not a completed pipeline run"):
        run_incremental(spark, new, str(tmp_path / "empty"), str(tmp_path / "inc"), CFG)


def test_verify_strategy_pinned_and_chain_sized(spark, split, tmp_path):
    """Round-5 review fix: the incremental verify stage pins its
    token-lookup strategy like the batch pipeline (never Catalyst's
    mid-plan estimate — the 77 GB sort-merge cliff), sized on the
    FULL base-chain token count. Both forced strategies must produce
    identical clusters, and _chained_rows must sum every link of the
    chain, not just the immediate base."""
    import dataclasses

    from sparksimjoin.checkpoint import CheckpointManager
    from sparksimjoin.incremental import _chain_links, _chained_rows
    from sparksimjoin.pipeline import tokens_join_strategy

    base, new, full = split
    full_rows = _rows(run_pipeline(spark, full, str(tmp_path / "full"), CFG))
    run_pipeline(spark, base, str(tmp_path / "base"), CFG)
    # cap=1 -> n_tok always above -> pinned SHUFFLE_HASH end to end
    shuffle_cfg = dataclasses.replace(CFG, tokens_broadcast_cap=1)
    rows_sh = _rows(run_incremental(
        spark, new, str(tmp_path / "base"), str(tmp_path / "inc_sh"), shuffle_cfg
    ))
    # default cap (1M) -> broadcast branch on this corpus
    rows_bc = _rows(run_incremental(
        spark, new, str(tmp_path / "base"), str(tmp_path / "inc_bc"), CFG
    ))
    assert rows_sh == rows_bc == full_rows

    # chain sizing: inc dir's tokens + base dir's tokens, walked via
    # manifests (the r-side union verify_pairs actually joins)
    base_ck = CheckpointManager(spark, str(tmp_path / "base"))
    inc_ck = CheckpointManager(spark, str(tmp_path / "inc_bc"))
    expect = (
        base_ck.manifest("tokens")["rows"] + inc_ck.manifest("tokens")["rows"]
    )
    assert _chained_rows(inc_ck, "parquet", "tokens") == expect
    assert _chained_rows(base_ck, "parquet", "tokens") == base_ck.manifest(
        "tokens"
    )["rows"]

    # both sides of the byte guard at the same row count: the default
    # byte cap broadcasts this chain, a 1-byte cap pins shuffle-hash
    mgrs = [cur for cur, _ in _chain_links(inc_ck, "parquet", "tokens")]
    assert tokens_join_strategy(CFG, expect, mgrs) == "broadcast"
    assert tokens_join_strategy(
        dataclasses.replace(CFG, tokens_broadcast_bytes_cap=1), expect, mgrs
    ) == "shuffle_hash"
