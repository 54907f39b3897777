"""Equivalence of the cost-based dense all-pairs candidate path with
the blocked prefix-filter path, and both sides of every branch of the
candidate-path rule (joins/core.plan_candidates, shared by the set-sim,
tfidf and weighted joins). Candidate sets differ (dense is a superset)
but exact verification must map both to the IDENTICAL result. Each
equivalence test patches the one gate symbol, core.DENSE_ALLPAIRS_CAP,
to force the blocked arm."""

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


def _n_bnl(df):
    """BroadcastNestedLoopJoin count in the executed plan. Some plans
    carry BNLs of their own (the allow_empty cross join, the weight
    tables' N crossJoin), so a dense arm is identified by exactly one
    more BNL than its blocked twin."""
    return df._jdf.queryExecution().executedPlan().toString().count(
        "BroadcastNestedLoopJoin"
    )


@pytest.mark.parametrize("threshold", [0.5, 0.8])
def test_dense_vs_blocked_jaccard_identical(spark, monkeypatch, threshold):
    """The dense corpus triggers the probe naturally; the blocked arm
    patches the cap to 0, so the probe can never trigger. At t=0.8 the
    prefixes are short and the 12-word corpus stays blocked, so that
    arm uses an 8-word vocabulary (dense through the priced window)."""
    import sparksimjoin.joins.core as core

    corpus = _dense_corpus(spark, vocab=12 if threshold < 0.8 else 8)
    dense = jaccard_join(corpus, corpus, "id", "id", "text", "text", WS,
                         threshold, self_join=True, dedup_strings=False)
    monkeypatch.setattr(core, "DENSE_ALLPAIRS_CAP", 0)
    blocked = jaccard_join(corpus, corpus, "id", "id", "text", "text", WS,
                           threshold, self_join=True, dedup_strings=False)
    assert _n_bnl(dense) == _n_bnl(blocked) + 1
    got_dense = _pairs(dense.select("l_id", "r_id", "_sim_score"))
    got_blocked = _pairs(blocked.select("l_id", "r_id", "_sim_score"))
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


def test_dense_vs_blocked_tversky_asymmetric(spark, monkeypatch):
    """Asymmetric Tversky self-join (the orientation-sensitive verify)
    through both candidate paths."""
    import sparksimjoin.joins.core as core

    corpus = _dense_corpus(spark)
    kw = dict(alpha=0.7, beta=0.3, self_join=True, allow_empty=False)
    dense = tversky_index_join(corpus, corpus, "id", "id", "text", "text",
                               WS, 0.5, **kw)
    monkeypatch.setattr(core, "DENSE_ALLPAIRS_CAP", 0)
    blocked = tversky_index_join(corpus, corpus, "id", "id", "text", "text",
                                 WS, 0.5, **kw)
    assert _n_bnl(dense) == _n_bnl(blocked) + 1
    got_dense = _pairs(dense.select("l_id", "r_id", "_sim_score"))
    got_blocked = _pairs(blocked.select("l_id", "r_id", "_sim_score"))
    assert got_dense == got_blocked
    assert len(got_dense) > 0


@pytest.mark.parametrize("self_join", [True, False], ids=["self", "two"])
def test_dense_vs_blocked_tfidf(spark, monkeypatch, self_join):
    """tfidf_join's dense path (and the adaptive BIGINT dot) vs the
    blocked path: scores must be bit-identical (both integer-exact).
    The two-table arm joins the corpus with itself as two inputs, so
    its dense product has no orientation predicate."""
    import sparksimjoin.joins.core as core

    corpus = _dense_corpus(spark)
    dense = tfidf_join(corpus, corpus, "id", "id", "text", "text", WS, 0.5,
                       self_join=self_join)
    monkeypatch.setattr(core, "DENSE_ALLPAIRS_CAP", 0)
    blocked = tfidf_join(corpus, corpus, "id", "id", "text", "text", WS, 0.5,
                         self_join=self_join)
    assert _n_bnl(dense) == _n_bnl(blocked) + 1
    got_dense = _pairs(dense)
    got_blocked = _pairs(blocked)
    assert got_dense == got_blocked
    assert len(got_dense) > 0


@pytest.mark.parametrize("self_join", [True, False], ids=["self", "two"])
@pytest.mark.parametrize("measure", ["jaccard", "cosine", "dice"])
def test_dense_vs_blocked_weighted(spark, monkeypatch, measure, self_join):
    """The weighted dense arm evaluates the same W-band predicate
    inside the BNL, so both paths must verify to the identical
    exact-integer-weight result, for every measure's band and with
    and without the self-join orientation."""
    import sparksimjoin.joins.core as core
    from sparksimjoin.joins import weighted

    join = getattr(weighted, f"weighted_{measure}_join")
    corpus = _dense_corpus(spark)
    dense = join(corpus, corpus, "id", "id", "text", "text", WS, 0.5,
                 self_join=self_join)
    monkeypatch.setattr(core, "DENSE_ALLPAIRS_CAP", 0)
    blocked = join(corpus, corpus, "id", "id", "text", "text", WS, 0.5,
                   self_join=self_join)
    assert _n_bnl(dense) == _n_bnl(blocked) + 1
    got_dense = _pairs(dense)
    got_blocked = _pairs(blocked)
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
        m: dict = {}
        out = jaccard_join(corpus, corpus, "id", "id", "text", "text", WS,
                           0.5, self_join=True, dedup_strings=False,
                           allow_empty=False, metrics_out=m)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastNestedLoopJoin" in plan) == dense, cap
        cp = m["candidate_plan"]
        assert cp["path"] == ("dense" if dense else "blocked"), cp
        assert cp["n_l"] == cp["n_r"] == n and cp["cap"] == cap, cp
        # over the cap the gate never probes; at est >= n^2 the
        # window (and its band-pair jobs) is never entered
        if dense:
            assert cp["est"] >= n * n, cp
        else:
            assert cp["est"] is None, cp
        assert cp["bp"] is None, cp


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
    m: dict = {}
    out = jaccard_join(short, short, "id", "id", "text", "text", WS, 0.5,
                       self_join=True, dedup_strings=False, allow_empty=False,
                       metrics_out=m)
    assert "BroadcastNestedLoopJoin" in (
        out._jdf.queryExecution().executedPlan().toString()
    )
    cp = m["candidate_plan"]
    assert cp["path"] == "dense", cp
    assert (cp["n_l"], cp["n_r"], cp["est"], cp["bp"]) == (
        n_rec, n_rec, est, bp), cp

    # long-record corpus, same window shape: the n^2-ish band-pair
    # volume x ~60-token arrays overwhelms the meeting-row savings ->
    # the priced window must keep the blocked path
    long = window_corpus(300, n_tok=60, vocab_dense=900)
    est, n_rec, bp, lbar = gate_inputs(long, 0.5)
    assert est < n_rec * n_rec, (est, n_rec)
    assert est * DENSE_MEETING_FACTOR >= n_rec * n_rec, (est, n_rec)
    assert bp * lbar > DENSE_MEET_COST_RATIO * est, (bp, lbar, est)
    m = {}
    out = jaccard_join(long, long, "id", "id", "text", "text", WS, 0.5,
                       self_join=True, dedup_strings=False, allow_empty=False,
                       metrics_out=m)
    assert "BroadcastNestedLoopJoin" not in (
        out._jdf.queryExecution().executedPlan().toString()
    )
    cp = m["candidate_plan"]
    assert cp["path"] == "blocked", cp
    assert (cp["n_l"], cp["n_r"], cp["est"], cp["bp"]) == (
        n_rec, n_rec, est, bp), cp


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
    m: dict = {}
    out = overlap_coefficient_join(
        corpus, corpus, "id", "id", "text", "text", WS, 0.8,
        self_join=True, allow_empty=False, dedup_strings=False, metrics_out=m,
    )
    assert "BroadcastNestedLoopJoin" not in (
        out._jdf.queryExecution().executedPlan().toString()
    )
    # the window was priced, and the unpruned band is the pair square
    cp = m["candidate_plan"]
    assert cp["path"] == "blocked", cp
    assert (cp["n_l"], cp["n_r"], cp["est"]) == (n, n, est), cp
    assert cp["bp"] == n * n, cp


def test_dense_not_used_for_lossy_or_nonmonotone(spark):
    """stop_token_cap (lossy candidate semantics) and the non-monotone
    comp_op '=' (the only one set-sim validation admits besides '>=' and
    '>') must keep the blocked path regardless of corpus shape."""
    corpus = _dense_corpus(spark)
    capped = jaccard_join(corpus, corpus, "id", "id", "text", "text", WS, 0.5,
                          self_join=True, dedup_strings=False,
                          allow_empty=False, stop_token_cap=10**9)
    assert "BroadcastNestedLoopJoin" not in (
        capped._jdf.queryExecution().executedPlan().toString()
    )
    equal = jaccard_join(corpus, corpus, "id", "id", "text", "text", WS, 0.5,
                         comp_op="=", self_join=True, dedup_strings=False,
                         allow_empty=False)
    assert "BroadcastNestedLoopJoin" not in (
        equal._jdf.queryExecution().executedPlan().toString()
    )


def test_candidate_budget_guard(spark, monkeypatch):
    """candidate_budget: a breached budget must refuse to launch with
    the projected volume in the error, also when the dense gate never
    probes (cap 0); a budget of exactly the self-join volume
    ``estimate_join_cost`` reports must run and not change the result,
    one less must raise, and the gate reuses the budget's meeting
    estimate (one probe)."""
    import sparksimjoin.joins.core as core
    from sparksimjoin import estimate_join_cost, overlap_coefficient_join

    corpus = _dense_corpus(spark)
    est = estimate_join_cost(
        corpus, corpus, "id", "id", "text", "text", WS, "OVERLAP_COEFFICIENT", 0.6,
        self_join=True,
    ).first()["est_candidates"]
    with pytest.raises(ValueError, match="candidate meeting volume"):
        overlap_coefficient_join(
            corpus, corpus, "id", "id", "text", "text", WS, 0.6,
            self_join=True, dedup_strings=False, allow_empty=False,
            candidate_budget=10,
        ).count()
    with monkeypatch.context() as mp:
        mp.setattr(core, "DENSE_ALLPAIRS_CAP", 0)
        with pytest.raises(ValueError, match="candidate meeting volume"):
            overlap_coefficient_join(
                corpus, corpus, "id", "id", "text", "text", WS, 0.6,
                self_join=True, dedup_strings=False, allow_empty=False,
                candidate_budget=10,
            ).count()

    calls = []
    orig = core.prefix_meeting_estimate

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(core, "prefix_meeting_estimate", counting)
        ok = overlap_coefficient_join(
            corpus, corpus, "id", "id", "text", "text", WS, 0.6,
            self_join=True, dedup_strings=False, allow_empty=False,
            candidate_budget=est,
        )
    assert len(calls) == 1, calls
    base = overlap_coefficient_join(
        corpus, corpus, "id", "id", "text", "text", WS, 0.6,
        self_join=True, dedup_strings=False, allow_empty=False,
    )
    assert _pairs(ok.select("l_id", "r_id", "_sim_score")) == _pairs(
        base.select("l_id", "r_id", "_sim_score")
    )
    with pytest.raises(ValueError, match=f"candidate meeting volume {est:,} "):
        overlap_coefficient_join(
            corpus, corpus, "id", "id", "text", "text", WS, 0.6,
            self_join=True, dedup_strings=False, allow_empty=False,
            candidate_budget=est - 1,
        )
