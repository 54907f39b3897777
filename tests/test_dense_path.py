"""Equivalence of the cost-based dense all-pairs candidate path
(joins/core.dense_candidates + the probes in set_sim_join/tfidf_join)
with the blocked prefix-filter path — the round-6 optimization's
correctness contract: candidate sets differ (dense is a superset) but
exact verification must map both to the IDENTICAL result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparksimjoin import (
    WhitespaceTokenizer,
    jaccard_join,
    tfidf_join,
    tversky_index_join,
)

WS = WhitespaceTokenizer()


def _dense_corpus(spark, n=400, vocab=12):
    """Tiny vocabulary relative to n -> every posting list is O(n) and
    the meeting-volume probe must flip the join to the dense path."""
    df = spark.range(n)
    toks = []
    for k in range(7):
        h = F.xxhash64(F.col("id"), F.lit(k))
        toks.append(F.concat(F.lit("w"), F.pmod(h, F.lit(vocab)).cast("string")))
    return df.select("id", F.concat_ws(" ", *toks).alias("text"))


def _sparse_corpus(spark, n=400, vocab=20000):
    """Huge vocabulary -> blocking prunes well, the probe must keep
    the blocked path."""
    df = spark.range(n)
    toks = []
    for k in range(7):
        h = F.xxhash64(F.col("id"), F.lit(k))
        toks.append(F.concat(F.lit("w"), F.pmod(h, F.lit(vocab)).cast("string")))
    return df.select("id", F.concat_ws(" ", *toks).alias("text"))


def _pairs(df):
    return sorted(
        (r["l_id"], r["r_id"], round(r["_sim_score"], 12)) for r in df.collect()
    )


@pytest.mark.parametrize("threshold", [0.5, 0.8])
def test_dense_vs_blocked_jaccard_identical(spark, threshold):
    """Force both paths via DENSE_ALLPAIRS_CAP monkey-knob-free A/B:
    the dense corpus triggers the probe naturally; the blocked arm is
    obtained by disabling the probe through a stop-gap comp_op-safe
    route — here, by patching the cap to 0."""
    import sparksimjoin.joins.core as core

    corpus = _dense_corpus(spark)
    dense = jaccard_join(corpus, corpus, "id", "id", "text", "text", WS,
                         threshold, self_join=True, dedup_strings=False)
    got_dense = _pairs(dense.select("l_id", "r_id", "_sim_score"))

    old = core.DENSE_ALLPAIRS_CAP
    core.DENSE_ALLPAIRS_CAP = 0  # probe can never trigger -> blocked
    try:
        blocked = jaccard_join(corpus, corpus, "id", "id", "text", "text", WS,
                               threshold, self_join=True, dedup_strings=False)
        got_blocked = _pairs(blocked.select("l_id", "r_id", "_sim_score"))
    finally:
        core.DENSE_ALLPAIRS_CAP = old
    assert got_dense == got_blocked
    assert len(got_dense) > 0


def test_dense_probe_actually_fires(spark):
    """The dense corpus must flip the probe (meeting volume >= n^2);
    the sparse corpus must not — checked through the physical plan
    (BroadcastNestedLoopJoin present/absent)."""
    # allow_empty=False: the empty-pair branch is itself a crossJoin
    # (BroadcastNestedLoopJoin) and would shadow the assertion
    dense = jaccard_join(_dense_corpus(spark), _dense_corpus(spark),
                         "id", "id", "text", "text", WS, 0.5,
                         self_join=True, dedup_strings=False, allow_empty=False)
    plan_dense = dense._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan_dense

    sparse = jaccard_join(_sparse_corpus(spark), _sparse_corpus(spark),
                          "id", "id", "text", "text", WS, 0.5,
                          self_join=True, dedup_strings=False, allow_empty=False)
    plan_sparse = sparse._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan_sparse


def test_dense_vs_blocked_tversky_asymmetric(spark):
    """Asymmetric Tversky self-join (the orientation-sensitive verify)
    through both candidate paths."""
    import sparksimjoin.joins.core as core

    corpus = _dense_corpus(spark)
    kw = dict(alpha=0.7, beta=0.3, self_join=True, allow_empty=False)
    dense = tversky_index_join(corpus, corpus, "id", "id", "text", "text",
                               WS, 0.5, **kw)
    got_dense = _pairs(dense.select("l_id", "r_id", "_sim_score"))
    old = core.DENSE_ALLPAIRS_CAP
    core.DENSE_ALLPAIRS_CAP = 0
    try:
        blocked = tversky_index_join(corpus, corpus, "id", "id", "text", "text",
                                     WS, 0.5, **kw)
        got_blocked = _pairs(blocked.select("l_id", "r_id", "_sim_score"))
    finally:
        core.DENSE_ALLPAIRS_CAP = old
    assert got_dense == got_blocked
    assert len(got_dense) > 0


def test_dense_vs_blocked_tfidf(spark):
    """tfidf_join's own dense probe (and the adaptive BIGINT dot) vs
    the blocked path with the DECIMAL dot: scores must be
    bit-identical (both integer-exact)."""
    import sparksimjoin.joins.core as core
    import sparksimjoin.joins.tfidf as tfidf_mod

    corpus = _dense_corpus(spark)
    dense = tfidf_join(corpus, corpus, "id", "id", "text", "text", WS, 0.5,
                       self_join=True)
    got_dense = _pairs(dense)
    old = core.DENSE_ALLPAIRS_CAP
    tfidf_mod.DENSE_ALLPAIRS_CAP = 0
    try:
        blocked = tfidf_join(corpus, corpus, "id", "id", "text", "text", WS, 0.5,
                             self_join=True)
        got_blocked = _pairs(blocked)
    finally:
        tfidf_mod.DENSE_ALLPAIRS_CAP = old
    assert got_dense == got_blocked
    assert len(got_dense) > 0


def test_dense_vs_blocked_weighted_jaccard(spark):
    """_weighted_join's dense probe (round-6 batch 2): the dense arm
    evaluates the same W-band predicate inside the BNL, so both paths
    must verify to the identical exact-integer-weight result; the
    dense corpus must actually fire the probe (BNL in the plan)."""
    import sparksimjoin.joins.weighted as wmod
    from sparksimjoin.joins.weighted import weighted_jaccard_join

    corpus = _dense_corpus(spark)
    dense = weighted_jaccard_join(corpus, corpus, "id", "id", "text", "text",
                                  WS, 0.5, self_join=True)
    # the weight table's crossJoin(broadcast(N)) is itself one BNL in
    # EVERY weighted plan; the dense candidate path adds a second one
    # (the W-band nested loop over the record frames)
    n_bnl_dense = dense._jdf.queryExecution().executedPlan().toString().count(
        "BroadcastNestedLoopJoin"
    )
    got_dense = _pairs(dense)
    old = wmod.DENSE_ALLPAIRS_CAP
    wmod.DENSE_ALLPAIRS_CAP = 0
    try:
        blocked = weighted_jaccard_join(corpus, corpus, "id", "id", "text",
                                        "text", WS, 0.5, self_join=True)
        n_bnl_blocked = (
            blocked._jdf.queryExecution().executedPlan().toString().count(
                "BroadcastNestedLoopJoin"
            )
        )
        assert n_bnl_dense == n_bnl_blocked + 1, (n_bnl_dense, n_bnl_blocked)
        got_blocked = _pairs(blocked)
    finally:
        wmod.DENSE_ALLPAIRS_CAP = old
    assert got_dense == got_blocked
    assert len(got_dense) > 0


def test_dense_gate_row_cap(spark, monkeypatch):
    """The row-cap branch of the dense gate, on both sides: the dense
    corpus's meeting volume reaches n_l*n_r, yet the gate declines the
    dense path once max(n_l, n_r) exceeds DENSE_ALLPAIRS_CAP."""
    import sparksimjoin.joins.core as core
    from sparksimjoin.joins.core import (
        prefix_explode,
        prefix_meeting_estimate,
        prepare_sides,
    )

    corpus = _dense_corpus(spark)
    prep, _, _ = prepare_sides(corpus, corpus, "id", "id", "text", "text",
                               WS.with_return_set(True))
    ex = prefix_explode(prep, "l", "JACCARD", 0.5)
    n = prep.count()
    assert prefix_meeting_estimate(ex, ex, same=True) >= n * n

    for cap, dense in ((n, True), (n - 1, False)):
        monkeypatch.setattr(core, "DENSE_ALLPAIRS_CAP", cap)
        out = jaccard_join(corpus, corpus, "id", "id", "text", "text", WS,
                           0.5, self_join=True, dedup_strings=False,
                           allow_empty=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastNestedLoopJoin" in plan) == dense, cap


def test_dense_gate_marginal_window(spark):
    """The priced marginal window (joins/core.DENSE_MEET_COST_RATIO):
    below est >= n^2 but above est*FACTOR >= n^2 the gate charges the
    dense path its full verify volume (exact band-pair count x mean
    token count) against the meeting rows saved. A short-token corpus
    in the window must fire dense; the same window shape with long
    records (verify volume dominates) must keep the blocked path."""
    from sparksimjoin.joins.core import (
        DENSE_MEET_COST_RATIO,
        DENSE_MEETING_FACTOR,
        dense_band_pair_stats,
        prefix_explode,
        prefix_meeting_estimate,
        prepare_sides,
    )

    def window_corpus(n, n_tok, vocab_dense, dense_share=3):
        """~dense_share/4 of records in a tiny shared vocabulary, the
        rest unique -> est lands strictly between n^2/FACTOR and n^2."""
        df = spark.range(n)
        toks = []
        for k in range(n_tok):
            h = F.xxhash64(F.col("id"), F.lit(k))
            dense_tok = F.concat(
                F.lit("w"), F.pmod(h, F.lit(vocab_dense)).cast("string"))
            sparse_tok = F.concat(F.lit(f"s{k}_"), h.cast("string"))
            toks.append(
                F.when(F.col("id") % 4 < dense_share, dense_tok)
                .otherwise(sparse_tok))
        return df.select("id", F.concat_ws(" ", *toks).alias("text"))

    def gate_inputs(corpus, threshold):
        tok = WS.with_return_set(True)
        prep_l, _, _ = prepare_sides(corpus, corpus, "id", "id",
                                     "text", "text", tok)
        ex = prefix_explode(prep_l, "l", "JACCARD", threshold)
        est = prefix_meeting_estimate(ex, ex, same=True)
        n_rec = prep_l.count()
        bp, lbar = dense_band_pair_stats(prep_l, prep_l, "JACCARD",
                                         threshold, same=True)
        return est, n_rec, bp, lbar

    # short-token corpus: in the window AND cheap to verify -> dense
    short = window_corpus(300, n_tok=7, vocab_dense=8)
    est, n_rec, bp, lbar = gate_inputs(short, 0.5)
    assert est < n_rec * n_rec, (est, n_rec)
    assert est * DENSE_MEETING_FACTOR >= n_rec * n_rec, (est, n_rec)
    assert bp * lbar <= DENSE_MEET_COST_RATIO * est, (bp, lbar, est)
    out = jaccard_join(short, short, "id", "id", "text", "text", WS, 0.5,
                       self_join=True, dedup_strings=False, allow_empty=False)
    assert "BroadcastNestedLoopJoin" in (
        out._jdf.queryExecution().executedPlan().toString()
    )

    # long-record corpus, same window shape: the n^2-ish band-pair
    # volume x ~60-token arrays overwhelms the meeting-row savings ->
    # the priced window must keep the blocked path
    long = window_corpus(300, n_tok=60, vocab_dense=900)
    est, n_rec, bp, lbar = gate_inputs(long, 0.5)
    assert est < n_rec * n_rec, (est, n_rec)
    assert est * DENSE_MEETING_FACTOR >= n_rec * n_rec, (est, n_rec)
    assert bp * lbar > DENSE_MEET_COST_RATIO * est, (bp, lbar, est)
    out = jaccard_join(long, long, "id", "id", "text", "text", WS, 0.5,
                       self_join=True, dedup_strings=False, allow_empty=False)
    assert "BroadcastNestedLoopJoin" not in (
        out._jdf.queryExecution().executedPlan().toString()
    )


def test_overlap_coeff_zipf_stays_blocked(spark):
    """Regression anchor for the gate constant: OVERLAP_COEFFICIENT
    blocks on the FULL token set, so its size band prunes nothing
    (BP = n^2) and the dense path's verify volume is the whole pair
    square — measured 3-4x SLOWER dense on the 48k-row bench corpus
    even though its meeting ratio (est/n^2 = 0.755) opens the marginal
    window. A RATIO miscalibration that re-admits this shape must turn
    this test red before it burns the bench."""
    from bench import _zipf_skew_corpus
    from sparksimjoin import overlap_coefficient_join
    from sparksimjoin.joins.core import (
        DENSE_MEETING_FACTOR,
        prefix_explode,
        prefix_meeting_estimate,
        prepare_sides,
    )

    corpus = _zipf_skew_corpus(spark, n_rows=3000, vocab=1000)
    tok = WS.with_return_set(True)
    prep, _, _ = prepare_sides(corpus, corpus, "id", "id", "text", "text", tok)
    ex = prefix_explode(prep, "l", "OVERLAP_COEFFICIENT", 0.8)
    est = prefix_meeting_estimate(ex, ex, same=True)
    n = prep.count()
    # the zipf shape must actually sit inside the marginal window
    # (scale-free: hot-token (n/2)^2 plus the zipf head) — otherwise
    # this test stops guarding the window rule
    assert est < n * n, (est, n)
    assert est * DENSE_MEETING_FACTOR >= n * n, (est, n)
    out = overlap_coefficient_join(
        corpus, corpus, "id", "id", "text", "text", WS, 0.8,
        self_join=True, allow_empty=False, dedup_strings=False,
    )
    assert "BroadcastNestedLoopJoin" not in (
        out._jdf.queryExecution().executedPlan().toString()
    )


def test_dense_not_used_for_lossy_or_nonmonotone(spark):
    """stop_token_cap (lossy candidate semantics) and comp_op '<='
    (verify keeps low scores) must keep the blocked path regardless of
    corpus shape."""
    corpus = _dense_corpus(spark)
    capped = jaccard_join(corpus, corpus, "id", "id", "text", "text", WS, 0.5,
                          self_join=True, dedup_strings=False,
                          allow_empty=False, stop_token_cap=10**9)
    assert "BroadcastNestedLoopJoin" not in (
        capped._jdf.queryExecution().executedPlan().toString()
    )


def test_candidate_budget_guard(spark):
    """candidate_budget (verdict item 4): a breached budget must
    refuse to launch with the projected volume in the error; a
    generous budget must not change the result."""
    from sparksimjoin import overlap_coefficient_join

    corpus = _dense_corpus(spark)
    with pytest.raises(ValueError, match="candidate meeting volume"):
        overlap_coefficient_join(
            corpus, corpus, "id", "id", "text", "text", WS, 0.6,
            self_join=True, dedup_strings=False, allow_empty=False,
            candidate_budget=10,
        ).count()
    ok = overlap_coefficient_join(
        corpus, corpus, "id", "id", "text", "text", WS, 0.6,
        self_join=True, dedup_strings=False, allow_empty=False,
        candidate_budget=10**12,
    )
    base = overlap_coefficient_join(
        corpus, corpus, "id", "id", "text", "text", WS, 0.6,
        self_join=True, dedup_strings=False, allow_empty=False,
    )
    assert _pairs(ok.select("l_id", "r_id", "_sim_score")) == _pairs(
        base.select("l_id", "r_id", "_sim_score")
    )
