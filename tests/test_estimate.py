"""estimate_join_cost: the pre-flight blocking-cost predictors must
be EXACT — est_candidates is defined as the occurrence-mode meeting
count the candidate stage emits, so it is checked against an
independent pure-Python derivation and against the real join's
blocking output, not just for plausibility."""

from __future__ import annotations

from collections import Counter

import pytest

from sparksimjoin import WhitespaceTokenizer, jaccard_join
from sparksimjoin.estimate import estimate_join_cost
from sparksimjoin.filter_math import prefix_length_py
from sparksimjoin.filters import PrefixFilter

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
         "iota", "kappa", "mu", "nu"]


def _corpus(n=40):
    rows = []
    for i in range(n):
        ws = sorted({WORDS[(i * 7 + k * 3) % len(WORDS)] for k in range(2 + i % 5)})
        rows.append((i, " ".join(ws)))
    rows.append((n, None))          # null join attr: excluded everywhere
    rows.append((n + 1, "   "))     # tokenizes to empty: counted, no postings
    return rows


def _python_reference(rows, threshold):
    """Independent derivation of every estimator column."""
    toks = {i: set(t.split()) for i, t in rows if t is not None}
    ex = [(i, w) for i, s in toks.items() for w in s]
    cnt = Counter(w for _, w in ex)
    pdf = Counter()
    postings = 0
    for i, s in toks.items():
        sz = len(s)
        if sz == 0:
            continue
        plen = prefix_length_py(sz, "JACCARD", threshold)
        prefix = sorted(s, key=lambda w: (cnt[w], w))[:plen]
        postings += len(prefix)
        for w in prefix:
            pdf[w] += 1
    return {
        "n_left": len(toks),
        "distinct_tokens": len(cnt),
        "prefix_postings": postings,
        "est_candidates": sum(c * (c - 1) // 2 for c in pdf.values()),
        "max_token_candidates": max((c * (c - 1) // 2 for c in pdf.values()), default=0),
        "pdf": pdf,
    }


def test_estimate_matches_python_reference(spark):
    rows = _corpus()
    df = spark.createDataFrame(rows, "id bigint, t string")
    got = estimate_join_cost(
        df, df, "id", "id", "t", "t", WhitespaceTokenizer(), "JACCARD", 0.8,
        self_join=True,
    ).first().asDict()
    ref = _python_reference(rows, 0.8)
    assert got["n_left"] == got["n_right"] == ref["n_left"]
    assert got["distinct_tokens"] == ref["distinct_tokens"]
    assert got["prefix_postings"] == ref["prefix_postings"]
    assert got["est_candidates"] == ref["est_candidates"]
    assert got["max_token_candidates"] == ref["max_token_candidates"]
    assert got["hot_tokens"] == 0  # nothing exceeds AUTO_SALT_CAP here


def test_estimate_upper_bounds_real_blocking(spark):
    """est_candidates counts MEETINGS, so it upper-bounds (and with
    distinct prefixes usually exceeds) the distinct candidate pairs
    the prefix filter emits — and both bound the verified join."""
    rows = _corpus()
    df = spark.createDataFrame(rows, "id bigint, t string")
    est = estimate_join_cost(
        df, df, "id", "id", "t", "t", WhitespaceTokenizer(), "JACCARD", 0.8,
        self_join=True,
    ).first()
    f = PrefixFilter(WhitespaceTokenizer(), "JACCARD", 0.8, allow_empty=False)
    n_cand = f.filter_tables(df, df, "id", "id", "t", "t", self_join=True).count()
    n_join = jaccard_join(df, df, "id", "id", "t", "t", WhitespaceTokenizer(),
                          0.8, allow_empty=False, self_join=True).count()
    assert est["est_candidates"] >= n_cand >= n_join


def test_hot_tokens_and_rxs(spark):
    rows = [(i, "common extra%d" % (i % 17)) for i in range(30)]
    l_df = spark.createDataFrame(rows, "id bigint, t string")
    r_df = spark.createDataFrame(rows[:20], "rid bigint, t string")
    got = estimate_join_cost(
        l_df, r_df, "id", "rid", "t", "t", WhitespaceTokenizer(), "JACCARD",
        0.5, salt_cap=8,
    ).first()
    # threshold 0.5, sz=2 -> plen=2: every token is a prefix token.
    # 'common' appears in all 30 left / 20 right rows -> hot at cap 8,
    # and meetings = 30*20 for it plus the extra% matches.
    assert got["hot_tokens"] >= 1
    assert got["n_left"] == 30 and got["n_right"] == 20
    extra_l = Counter("extra%d" % (i % 17) for i in range(30))
    extra_r = Counter("extra%d" % (i % 17) for i in range(20))
    expect = 30 * 20 + sum(extra_l[w] * extra_r[w] for w in extra_r)
    assert got["est_candidates"] == expect
    assert got["max_token_candidates"] == 30 * 20


def test_edit_distance_rejected(spark):
    df = spark.createDataFrame([(1, "a")], "id bigint, t string")
    with pytest.raises(ValueError):
        estimate_join_cost(df, df, "id", "id", "t", "t",
                           WhitespaceTokenizer(), "EDIT_DISTANCE", 2,
                           self_join=True)


# ---------------------------------------------------- hybrid estimator
def _typo_corpus(n=30):
    words = ["johnson", "jonhson", "smith", "smyth", "walker", "ltd"]
    rows = []
    for i in range(n):
        ws = sorted({words[(i * 5 + k) % len(words)] for k in range(1 + i % 3)})
        rows.append((i, " ".join(ws)))
    rows.append((n, None))
    return rows


def _hybrid_reference(rows, t):
    from sparksimjoin.simfunctions import jaro_winkler_sim

    recs = [sorted(set(s.split())) for _, s in rows if s is not None]
    df = Counter(tok for r in recs for tok in r)
    vocab = sorted(df)
    tp = [(a, b) for a in vocab for b in vocab if jaro_winkler_sim(a, b) >= t]
    meets = [df[a] * df[b] for a, b in tp]
    return {
        "n_left": len(recs), "n_right": len(recs),
        "vocab_left": len(vocab), "vocab_right": len(vocab),
        "token_pairs": len(tp),
        "est_candidates": sum(meets),
        "max_pair_candidates": max(meets) if meets else 0,
    }


def test_hybrid_estimate_matches_python_reference(spark):
    from sparksimjoin import estimate_hybrid_join_cost

    rows = _typo_corpus()
    d = spark.createDataFrame(rows, ["id", "name"])
    got = estimate_hybrid_join_cost(
        d, d, "id", "id", "name", "name", WhitespaceTokenizer(), 0.9,
        self_join=True,
    ).collect()[0].asDict()
    assert got == _hybrid_reference(rows, 0.9)


def test_hybrid_estimate_upper_bounds_real_join(spark):
    """est_candidates counts expansion meetings (ordered, pre-filter),
    so it must upper-bound the real join's distinct canonical pairs."""
    from sparksimjoin import estimate_hybrid_join_cost, monge_elkan_join

    rows = _typo_corpus()
    d = spark.createDataFrame(rows, ["id", "name"])
    est = estimate_hybrid_join_cost(
        d, d, "id", "id", "name", "name", WhitespaceTokenizer(), 0.9,
        self_join=True,
    ).collect()[0]
    real = monge_elkan_join(d, d, "id", "id", "name", "name",
                            WhitespaceTokenizer(), 0.9, self_join=True).count()
    assert est.est_candidates >= 2 * real  # ordered meetings vs canonical pairs
    assert est.token_pairs >= est.vocab_left  # diagonal always survives


def test_cap_advisor_exact_and_sound(spark):
    """stop_token_cap advisory columns: est_candidates_capped is the
    EXACT post-cap meeting count (python re-derivation), lost_pairs_ub
    really bounds the pairs the capped join loses (measured against
    the real overlap_coefficient_join with and without the cap), and
    blind_records counts exactly the records whose every prefix token
    is capped."""
    from collections import Counter

    from sparksimjoin import overlap_coefficient_join

    rows = _corpus(40)
    df = spark.createDataFrame(rows, ["id", "name"])
    cap = 8
    est = estimate_join_cost(
        df, df, "id", "id", "name", "name", WhitespaceTokenizer(),
        "OVERLAP_COEFFICIENT", 0.6, self_join=True, stop_token_cap=cap,
    ).first()

    # python re-derivation (overlap-coefficient prefix = full set)
    toks = {i: set(t.split()) for i, t in rows if t is not None and t.split()}
    cnt = Counter(w for s in toks.values() for w in s)
    stopset = {w for w, c in cnt.items() if c > cap}
    surv_pdf = Counter(w for s in toks.values() for w in s if w not in stopset)
    exp_capped = sum(c * (c - 1) // 2 for c in surv_pdf.values())
    exp_blind = sum(1 for s in toks.values() if s <= stopset)
    w_l = sum(1 for s in toks.values() if s & stopset)
    exp_ub = min(est.est_candidates - exp_capped, w_l * (w_l - 1) // 2)
    assert est.capped_tokens == len(stopset)
    assert est.est_candidates_capped == exp_capped
    assert est.blind_records == exp_blind
    assert est.lost_pairs_ub == exp_ub

    # soundness against the real join: pairs lost to the cap <= ub
    kw = dict(tokenizer=WhitespaceTokenizer(), threshold=0.6)
    full = {(r.l_id, r.r_id) for r in overlap_coefficient_join(
        df, df, "id", "id", "name", "name", **kw).collect()}
    capped = {(r.l_id, r.r_id) for r in overlap_coefficient_join(
        df, df, "id", "id", "name", "name", stop_token_cap=cap,
        **kw).collect()}
    assert capped <= full
    assert len(full - capped) <= est.lost_pairs_ub

    # cap high above every df: advisory reports a no-op, zero loss
    hi = estimate_join_cost(
        df, df, "id", "id", "name", "name", WhitespaceTokenizer(),
        "OVERLAP_COEFFICIENT", 0.6, self_join=True,
        stop_token_cap=10_000,
    ).first()
    assert hi.capped_tokens == 0
    assert hi.est_candidates_capped == hi.est_candidates
    assert hi.lost_pairs_ub == 0 and hi.blind_records == 0
    # and without the knob the original 7-column schema is unchanged
    base = estimate_join_cost(
        df, df, "id", "id", "name", "name", WhitespaceTokenizer(),
        "OVERLAP_COEFFICIENT", 0.6, self_join=True,
    )
    assert base.columns == [
        "n_left", "n_right", "distinct_tokens", "prefix_postings",
        "est_candidates", "max_token_candidates", "hot_tokens",
    ]


def test_cap_zero_rejected(spark):
    """A stop_token_cap below 1 would exclude every token, so the
    estimator rejects it, as the joins and the linkage drivers do
    (one check: joins/core.check_stop_token_cap)."""
    df = spark.createDataFrame([(1, "a b"), (2, "b c")], ["id", "name"])
    for bad in (0, -3):
        with pytest.raises(ValueError, match="stop_token_cap"):
            estimate_join_cost(
                df, df, "id", "id", "name", "name", WhitespaceTokenizer(),
                "OVERLAP_COEFFICIENT", 0.6, self_join=True,
                stop_token_cap=bad,
            )
