"""Filter tests (reference pattern: pair truth tables + losslessness
of table mode w.r.t. the true match set — SURVEY.md §5.1/5.2 item 5)."""

from __future__ import annotations

import pytest

from sparksimjoin import QgramTokenizer, WhitespaceTokenizer
from sparksimjoin.filters import (
    OverlapFilter,
    PositionFilter,
    PrefixFilter,
    SizeFilter,
    SuffixFilter,
)
from sparksimjoin.fixtures import make_person_tables
from sparksimjoin.naive import naive_set_sim_join

A_PDF, B_PDF = make_person_tables(50, 60, seed=11)
WS = WhitespaceTokenizer()
QG = QgramTokenizer(qval=2, padding=True)


@pytest.fixture(scope="module")
def tables(spark):
    a = spark.createDataFrame(A_PDF).cache()
    b = spark.createDataFrame(B_PDF).cache()
    a.count(), b.count()
    return a, b


def _pairs(df):
    return {(r["l_id"], r["r_id"]) for r in df.select("l_id", "r_id").collect()}


def _true_matches(measure, threshold, tok=WS):
    return {
        (l, r)
        for l, r, _ in naive_set_sim_join(
            A_PDF, B_PDF, "id", "id", "name", "name", tok, threshold, measure,
            allow_empty=False,
        )
    }


# ---------------------------------------------------------- pair mode
def test_overlap_filter_pair():
    f = OverlapFilter(WS, overlap_size=2)
    assert f.filter_pair("a b c", "a b d") is False   # overlap 2 -> kept
    assert f.filter_pair("a b c", "a x y") is True    # overlap 1 -> dropped
    assert f.filter_pair(None, "a") is True
    assert OverlapFilter(WS, 1, allow_missing=True).filter_pair(None, "a") is False


def test_size_filter_pair():
    f = SizeFilter(WS, "JACCARD", 0.8)
    assert f.filter_pair("a b c d e", "a b c d") is False   # 4 in [4, 6]
    assert f.filter_pair("a b c d e", "a b c") is True      # 3 < 4
    assert f.filter_pair("", "") is False                    # allow_empty default
    assert SizeFilter(WS, "JACCARD", 0.8, allow_empty=False).filter_pair("", "") is True


def test_prefix_filter_pair():
    f = PrefixFilter(WS, "JACCARD", 0.8)
    # identical strings always share a prefix token
    assert f.filter_pair("a b c d e", "a b c d e") is False
    # disjoint token sets must be dropped
    assert f.filter_pair("a b c", "x y z") is True


def test_position_filter_pair():
    f = PositionFilter(WS, "JACCARD", 0.8)
    assert f.filter_pair("a b c d e", "a b c d e") is False
    assert f.filter_pair("a b c", "x y z") is True


def test_suffix_filter_pair():
    f = SuffixFilter(WS, "JACCARD", 0.8)
    assert f.filter_pair("a b c d e", "a b c d e") is False
    assert f.filter_pair("a b c d e f g h", "a t u v w x y z") is True


# ------------------------------------------------- table-mode losslessness
@pytest.mark.parametrize("measure,threshold", [("JACCARD", 0.5), ("COSINE", 0.7), ("DICE", 0.6)])
def test_position_filter_tables_lossless(spark, tables, measure, threshold):
    a, b = tables
    f = PositionFilter(WS, measure, threshold)
    surv = _pairs(f.filter_tables(a, b, "id", "id", "name", "name"))
    assert _true_matches(measure, threshold) <= surv


@pytest.mark.parametrize("FilterCls", [PrefixFilter, SuffixFilter, SizeFilter])
def test_other_filters_tables_lossless(spark, tables, FilterCls):
    a, b = tables
    f = FilterCls(WS, "JACCARD", 0.5)
    surv = _pairs(f.filter_tables(a, b, "id", "id", "name", "name"))
    assert _true_matches("JACCARD", 0.5) <= surv


def test_overlap_filter_tables_exact(spark, tables):
    a, b = tables
    f = OverlapFilter(WS, overlap_size=1)
    surv = _pairs(f.filter_tables(a, b, "id", "id", "name", "name"))
    expected = _true_matches("OVERLAP", 1)
    assert surv == expected


def test_filter_pair_agrees_with_tables(spark, tables):
    """Survivor set of filter_tables must equal the non-dropped pairs
    of filter_pair (same filter semantics both modes)."""
    a, b = tables
    for f in [
        OverlapFilter(WS, 2),
        SizeFilter(WS, "JACCARD", 0.7),
    ]:
        surv = _pairs(f.filter_tables(a, b, "id", "id", "name", "name"))
        expected = set()
        for _, lrow in A_PDF.iterrows():
            for _, rrow in B_PDF.iterrows():
                if lrow["name"] is None or rrow["name"] is None:
                    continue
                if not f.filter_pair(lrow["name"], rrow["name"]):
                    expected.add((lrow["id"], rrow["id"]))
        assert surv == expected, type(f).__name__


def test_filter_candset(spark, tables):
    a, b = tables
    gen = PrefixFilter(WS, "JACCARD", 0.3)
    candset = gen.filter_tables(a, b, "id", "id", "name", "name")
    tighter = PositionFilter(WS, "JACCARD", 0.7)
    pruned = tighter.filter_candset(candset, "l_id", "r_id", a, b, "id", "id", "name", "name")
    assert pruned.columns == candset.columns
    surv = _pairs(pruned)
    assert surv <= _pairs(candset)
    assert _true_matches("JACCARD", 0.7) <= surv


def test_overlap_filter_eq_zero(spark, tables):
    """comp_op '=' with overlap_size=0 must keep only ZERO-overlap
    pairs (matching filter_pair), not degenerate to a cross join
    (ADVICE r1)."""
    a, b = tables
    f = OverlapFilter(WS, overlap_size=0, comp_op="=")
    got = _pairs(f.filter_tables(a, b, "id", "id", "name", "name"))
    tok = WS.with_return_set(True)
    expected = set()
    for lid, ls in zip(A_PDF["id"], A_PDF["name"]):
        for rid, rs in zip(B_PDF["id"], B_PDF["name"]):
            if ls is None or rs is None:
                continue
            if not (set(tok.tokenize(ls)) & set(tok.tokenize(rs))):
                expected.add((lid, rid))
    assert got == expected
    # pair mode agrees on a known-overlapping and a disjoint pair
    assert f.filter_pair("alpha beta", "beta gamma") is True   # dropped
    assert f.filter_pair("alpha beta", "gamma delta") is False


def test_filter_candset_semi_join_plan(spark, tables):
    """Survivor computation must be restricted to candset ids
    (left-semi pushdown), with unchanged results."""
    a, b = tables
    cand = spark.createDataFrame(
        [(r1, r2) for r1 in A_PDF["id"][:10] for r2 in B_PDF["id"][:10]],
        "l_id long, r_id long",
    )
    f = OverlapFilter(WS, overlap_size=1)
    out = f.filter_candset(cand, "l_id", "r_id", a, b, "id", "id", "name", "name")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    got = {(r["l_id"], r["r_id"]) for r in out.collect()}
    expected = {
        (r1, r2)
        for r1, r2 in [(x["l_id"], x["r_id"]) for x in cand.collect()]
        if not f.filter_pair(
            A_PDF.set_index("id")["name"].get(r1), B_PDF.set_index("id")["name"].get(r2)
        )
    }
    assert got == expected


def test_series_to_str():
    import pandas as pd
    from sparksimjoin.converter import dataframe_column_to_str, series_to_str

    s = pd.Series([12.0, 12.5, None, float("nan"), 3, -4.0])
    out = series_to_str(s)
    assert list(out[[0, 1, 4, 5]]) == ["12", "12.5", "3", "-4"]
    assert out[2] is None and out[3] is None
    df = pd.DataFrame({"x": [1.0, 2.5]})
    assert dataframe_column_to_str(df, "x")["x"].tolist() == ["1", "2.5"]
    assert dataframe_column_to_str(df, "x", inplace=True) is None
    assert df["x"].tolist() == ["1", "2.5"]


# ------------------------------------------------- salted table modes
def test_filters_salted_equals_unsalted(spark, monkeypatch):
    """Every filter table mode that meets on tokens runs the joins'
    salted meeting join (a bare equi-join on one ubiquitous token
    serializes the stage at scale). Salting must not change the
    survivor set: the left row of a hot token meets each right row
    exactly once (l's salt bucket), so distinct()/the per-pair
    overlap count are unchanged. Fixture: one token in EVERY row at
    ~19x the patched cap."""
    import sparksimjoin.joins.core as core

    rows_a = [(i, f"hot uniq{i} x{i % 7}") for i in range(300)]
    rows_b = [(i, f"hot uniq{i % 50} y{i % 11}") for i in range(300)]
    a = spark.createDataFrame(rows_a, "id long, name string")
    b = spark.createDataFrame(rows_b, "id long, name string")

    def run(cls, **kw):
        f = cls(**kw)
        return _pairs(f.filter_tables(a, b, "id", "id", "name", "name"))

    for cls, kw in [
        (PrefixFilter, dict(tokenizer=WS, sim_measure_type="JACCARD", threshold=0.3)),
        (OverlapFilter, dict(tokenizer=WS, overlap_size=2)),
        (SuffixFilter, dict(tokenizer=WS, sim_measure_type="JACCARD", threshold=0.3)),
        (PositionFilter, dict(tokenizer=WS, sim_measure_type="JACCARD", threshold=0.3)),
    ]:
        monkeypatch.setattr(core, "AUTO_SALT_CAP", 10**9)  # no token is hot
        unsalted = run(cls, **kw)
        monkeypatch.setattr(core, "AUTO_SALT_CAP", 16)  # 'hot' splits ~19 ways
        salted = run(cls, **kw)
        assert salted == unsalted, cls.__name__
        assert len(salted) > 0, cls.__name__
