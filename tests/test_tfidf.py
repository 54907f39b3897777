"""tfidf_join: brute-force parity (bag term frequencies), two-table
shared weight space, tf sensitivity vs the set-weighted cosine,
salting equivalence, boundary t=1.0, plan shape."""

from __future__ import annotations

import collections
import math

import pytest

from sparksimjoin.joins.tfidf import TFIDF_SCALE, tfidf_join
from sparksimjoin.tokenizers import WhitespaceTokenizer

WS = WhitespaceTokenizer()


def _brute(l_docs, r_docs, t, self_join):
    """Independent Python twin: exact integer vectors, the same three
    float steps as the module contract (double(dot) /
    (sqrt(double(nx²))·sqrt(double(ny²))))."""
    def bags(docs):
        out = {}
        for i, s in docs.items():
            if s is None:
                continue
            v = s.split()
            if v:
                out[i] = collections.Counter(v)
        return out

    lb = bags(l_docs)
    rb = lb if self_join else bags(r_docs)
    corpus = list(lb.values()) + ([] if self_join else list(rb.values()))
    n = len(corpus)
    df = collections.Counter(tok for bag in corpus for tok in bag)
    w = {tok: (n * TFIDF_SCALE) // c for tok, c in df.items()}
    vec_l = {i: {tok: tf * w[tok] for tok, tf in bag.items()} for i, bag in lb.items()}
    vec_r = vec_l if self_join else {
        i: {tok: tf * w[tok] for tok, tf in bag.items()} for i, bag in rb.items()}
    n2_l = {i: sum(v * v for v in vec.values()) for i, vec in vec_l.items()}
    n2_r = n2_l if self_join else {
        i: sum(v * v for v in vec.values()) for i, vec in vec_r.items()}
    out = {}
    for a, va in vec_l.items():
        for b, vb in vec_r.items():
            if self_join and not a < b:
                continue
            shared = va.keys() & vb.keys()
            if not shared:
                continue
            dot = sum(va[x] * vb[x] for x in shared)
            sim = float(dot) / (math.sqrt(float(n2_l[a])) * math.sqrt(float(n2_r[b])))
            if sim >= t:
                out[(a, b)] = sim
    return out


def _docs_df(spark, docs):
    return spark.createDataFrame(
        [(i, s) for i, s in docs.items()], "doc_id long, text string"
    )


@pytest.mark.parametrize("dot", ["bigint", "decimal"])
def test_self_join_brute_force_parity(spark, monkeypatch, dot):
    """Both arms of the adaptive exact dot: the default corpus runs the
    BIGINT aggregate; the ``decimal`` arm patches BIGINT_DOT_BOUND to 0
    so the DECIMAL(38,0) fallback runs, and its scores must be
    bit-identical to the BIGINT arm's."""
    import random

    import sparksimjoin.joins.tfidf as tfidf_mod

    rng = random.Random(37)
    vocab = [f"w{i}" for i in range(30)]
    # rng.choices repeats tokens: real bag multiplicities in most docs
    docs = {
        i: " ".join(rng.choices(vocab, k=rng.randint(3, 14))) for i in range(80)
    }
    docs[80] = None
    docs[81] = "   "
    d = _docs_df(spark, docs)

    def scores(t):
        out = tfidf_join(d, d, "doc_id", "doc_id", "text", "text", WS, t,
                         self_join=True)
        # only the DECIMAL dot intersects the tid arrays
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("array_intersect" in plan) == (
            tfidf_mod.BIGINT_DOT_BOUND == 0), t
        return {(r.l_id, r.r_id): r._sim_score for r in out.collect()}

    for t in (0.35, 0.6, 0.85):
        if dot == "decimal":
            bigint = scores(t)
            monkeypatch.setattr(tfidf_mod, "BIGINT_DOT_BOUND", 0)
        got = scores(t)
        want = _brute(docs, docs, t, self_join=True)
        assert got.keys() == want.keys(), (t, got.keys() ^ want.keys())
        assert all(abs(got[k] - want[k]) < 1e-12 for k in got)
        if dot == "decimal":
            assert got == bigint, t
            monkeypatch.undo()


def test_two_table_shared_weight_space(spark):
    l_docs = {1: "alpha beta beta gamma", 2: "alpha llc", 3: "zylker systems llc"}
    r_docs = {10: "alpha beta gamma delta", 11: "zylker llc llc", 12: "beta beta alpha"}
    got = {
        (r.l_id, r.r_id): r._sim_score
        for r in tfidf_join(
            _docs_df(spark, l_docs), _docs_df(spark, r_docs),
            "doc_id", "doc_id", "text", "text", WS, 0.2,
        ).collect()
    }
    want = _brute(l_docs, r_docs, 0.2, self_join=False)
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-12 for k in got)


def test_term_frequency_matters(spark):
    # sets are equal, bags differ: the undampened TF-IDF cosine must
    # score the multiplicity-identical pair at ~1.0 (the sqrt·sqrt
    # float path keeps identical vectors within 1 ulp of 1.0, exactly
    # as the brute twin computes it) and the multiplicity-skewed pair
    # strictly below it
    docs = {1: "a a a b", 2: "a a a b", 3: "a b"}
    d = _docs_df(spark, docs)
    out = {
        (r.l_id, r.r_id): r._sim_score
        for r in tfidf_join(
            d, d, "doc_id", "doc_id", "text", "text", WS, 0.01, self_join=True
        ).collect()
    }
    want = _brute(docs, docs, 0.01, self_join=True)
    assert out.keys() == want.keys()
    assert all(abs(out[k] - want[k]) < 1e-12 for k in out)
    assert abs(out[(1, 2)] - 1.0) < 1e-12
    assert out[(1, 3)] < out[(1, 2)]
    assert out[(1, 3)] == out[(2, 3)]


def test_rare_token_outweighs_common(spark):
    docs = {
        1: "zylker corp llc", 2: "zylker inc llc",
        3: "acme llc", 4: "foobar llc", 5: "baz llc", 6: "qux llc",
    }
    d = _docs_df(spark, docs)
    out = {
        (r.l_id, r.r_id): r._sim_score
        for r in tfidf_join(
            d, d, "doc_id", "doc_id", "text", "text", WS, 0.01, self_join=True
        ).collect()
    }
    assert out[(1, 2)] > 2 * out[(3, 4)]


def test_salting_equivalence_on_hot_token(spark):
    docs = {i: f"hot hot tok{i % 5} tok{i % 7}" for i in range(60)}
    d = _docs_df(spark, docs)
    args = (d, d, "doc_id", "doc_id", "text", "text", WS, 0.3)
    salted = tfidf_join(*args, self_join=True, salt_cap=4).collect()
    plain = tfidf_join(*args, self_join=True, salt_cap=10**6).collect()
    assert sorted(map(tuple, salted)) == sorted(map(tuple, plain))
    want = _brute(docs, docs, 0.3, self_join=True)
    assert {(r.l_id, r.r_id) for r in salted} == set(want)


def test_threshold_one_matches_brute(spark):
    # t=1.0 boundary: whether an identical-vector pair lands at 1.0,
    # 1-ulp below, or 1-ulp above is decided by the shared float path
    # — the engine must agree with the brute twin BIT-exactly here
    # (the prefix at t=1.0 is a single token, the tightest blocking)
    docs = {1: "a a b", 2: "a a b", 3: "a b", 4: "c c d", 5: "c c d"}
    d = _docs_df(spark, docs)
    got = {
        (r.l_id, r.r_id): r._sim_score
        for r in tfidf_join(
            d, d, "doc_id", "doc_id", "text", "text", WS, 1.0, self_join=True
        ).collect()
    }
    want = _brute(docs, docs, 1.0, self_join=True)
    assert got == want
    assert (1, 3) not in got


def test_plan_is_equi_join_not_cartesian(spark):
    docs = {i: f"a{i % 9} b{i % 4} c{i % 3}" for i in range(40)}
    d = _docs_df(spark, docs)
    out = tfidf_join(
        d, d, "doc_id", "doc_id", "text", "text", WS, 0.5, self_join=True
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def _brute_damp(l_docs, r_docs, t, self_join):
    """Dampened twin: v = ln(N/df)·ln(tf+1); sums in ascending global
    (df, token) rank order — the engine's deterministic order. The
    comparison tolerance absorbs Python-vs-JVM ln()/summation ulps."""
    def bags(docs):
        out = {}
        for i, s in docs.items():
            if s is None:
                continue
            v = s.split()
            if v:
                out[i] = collections.Counter(v)
        return out

    lb = bags(l_docs)
    rb = lb if self_join else bags(r_docs)
    corpus = list(lb.values()) + ([] if self_join else list(rb.values()))
    n = len(corpus)
    df = collections.Counter(tok for bag in corpus for tok in bag)
    order = {tok: i for i, tok in
             enumerate(sorted(df, key=lambda x: (df[x], x)))}
    w = {tok: math.log(float(n) / c) for tok, c in df.items()}

    def vecs(b):
        return {i: {tok: w[tok] * math.log(tf + 1.0) for tok, tf in bag.items()}
                for i, bag in b.items()}

    vec_l, vec_r = vecs(lb), (None if not self_join else None)
    vec_r = vec_l if self_join else vecs(rb)

    def n2(vec):
        s = 0.0
        for tok in sorted(vec, key=order.__getitem__):
            s += vec[tok] * vec[tok]
        return s

    n2_l = {i: n2(v) for i, v in vec_l.items()}
    n2_r = n2_l if self_join else {i: n2(v) for i, v in vec_r.items()}
    out = {}
    for a, va in vec_l.items():
        if n2_l[a] <= 0:
            continue
        for b, vb in vec_r.items():
            if (self_join and not a < b) or n2_r[b] <= 0:
                continue
            shared = sorted(va.keys() & vb.keys(), key=order.__getitem__)
            if not shared:
                continue
            dot = 0.0
            for x in shared:
                dot += va[x] * vb[x]
            sim = dot / (math.sqrt(n2_l[a]) * math.sqrt(n2_r[b]))
            if sim >= t:
                out[(a, b)] = sim
    return out


def test_dampened_brute_force_parity(spark):
    import random

    rng = random.Random(91)
    vocab = [f"w{i}" for i in range(25)]
    docs = {
        i: " ".join(rng.choices(vocab, k=rng.randint(3, 12))) for i in range(70)
    }
    docs[70] = None
    d = _docs_df(spark, docs)
    for t in (0.4, 0.7):
        got = {
            (r.l_id, r.r_id): r._sim_score
            for r in tfidf_join(
                d, d, "doc_id", "doc_id", "text", "text", WS, t,
                self_join=True, dampen=True,
            ).collect()
        }
        want = _brute_damp(docs, docs, t, self_join=True)
        # ln()/fp-order ulps: require agreement far inside the
        # round-before-filter granularity, and identical membership
        # away from the threshold boundary (margin checked below)
        margin = min(
            (abs(s - t) for s in want.values()), default=1.0)
        assert margin > 1e-9, "fixture sits on the threshold boundary"
        assert got.keys() == want.keys(), (t, got.keys() ^ want.keys())
        assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


def test_dampened_zero_vector_records_skipped(spark):
    # "common" appears in every record -> ln(idf)=0; record 3 has ONLY
    # that token -> zero vector -> must not pair with anything
    docs = {1: "common rare1 rare2", 2: "common rare1 rare2", 3: "common"}
    d = _docs_df(spark, docs)
    out = tfidf_join(d, d, "doc_id", "doc_id", "text", "text", WS, 0.01,
                     self_join=True, dampen=True).collect()
    pairs = {(r.l_id, r.r_id) for r in out}
    assert pairs == {(1, 2)}
    assert all(abs(r._sim_score - 1.0) < 1e-12 for r in out)


def test_salt_cap_validation(spark):
    d = _docs_df(spark, {1: "a"})
    with pytest.raises(ValueError):
        tfidf_join(d, d, "doc_id", "doc_id", "text", "text", WS, 0.5, salt_cap=0)
