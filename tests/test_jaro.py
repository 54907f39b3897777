"""Jaro / Jaro-Winkler: kernel parity vs DuckDB's builtins, blocked
join parity vs the brute-force oracle, matcher measure path."""

from __future__ import annotations

import math
import random

import pytest

from sparksimjoin import jaro_join, jaro_winkler_join
from sparksimjoin.fixtures import make_person_tables
from sparksimjoin.naive import naive_jaro_join
from sparksimjoin.simfunctions import jaro_sim, jaro_winkler_sim

A_PDF, B_PDF = make_person_tables(60, 80, seed=11)


@pytest.fixture(scope="module")
def tables(spark):
    a = spark.createDataFrame(A_PDF).cache()
    b = spark.createDataFrame(B_PDF).cache()
    a.count(), b.count()
    return a, b


# ---------------------------------------------------------------- kernel
def test_kernel_bit_exact_vs_duckdb():
    """The exact contract the oracle SQL relies on: bit-identical
    doubles vs DuckDB 1.0's jaro/jaro_winkler builtins on randomized
    corpora (short + long strings, small + large alphabets), with the
    single documented divergence: empty-empty (classic 1.0, DuckDB
    0.0 — the oracle CASEs around it)."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    rng = random.Random(99)
    checked = 0
    for alphabet, max_len in (("ab", 12), ("abcde", 16), ("abcdefghijklmnop", 64)):
        for _ in range(1200):
            s1 = "".join(rng.choices(alphabet, k=rng.randint(0, max_len)))
            s2 = "".join(rng.choices(alphabet, k=rng.randint(0, max_len)))
            dj, djw = con.execute(
                "select jaro_similarity(?, ?), jaro_winkler_similarity(?, ?)",
                [s1, s2, s1, s2],
            ).fetchone()
            pj, pjw = jaro_sim(s1, s2), jaro_winkler_sim(s1, s2)
            if s1 == "" and s2 == "":
                assert (pj, pjw) == (1.0, 1.0) and (dj, djw) == (0.0, 0.0)
            else:
                assert pj == dj, (s1, s2, pj, dj)
                assert pjw == djw, (s1, s2, pjw, djw)
            checked += 1
    assert checked == 3600


def test_kernel_edge_cases():
    assert jaro_sim("", "") == 1.0
    assert jaro_sim("", "abc") == 0.0
    assert jaro_sim("abc", "") == 0.0
    assert jaro_sim("a", "a") == 1.0
    assert jaro_sim("martha", "marhta") == pytest.approx(0.9444444444444445)
    assert jaro_winkler_sim("martha", "marhta") == pytest.approx(0.9611111111111111)
    # boost applies only STRICTLY above 0.7
    assert jaro_winkler_sim("abcdef", "abcdef") == 1.0
    # no common prefix -> winkler == jaro
    assert jaro_winkler_sim("xmartha", "marhta") == jaro_sim("xmartha", "marhta")


# ---------------------------------------------------------------- joins
def _collect(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        key = (d["l_id"], d["r_id"])
        assert key not in out, f"duplicate pair {key}"
        out[key] = d["_sim_score"]
    return out


def _expected(triples):
    return {(l, r): s for l, r, s in triples}


def _assert_match(got, expected, ctx):
    assert set(got) == set(expected), (
        f"{ctx}: missing={sorted(set(expected) - set(got))[:10]} "
        f"extra={sorted(set(got) - set(expected))[:10]}"
    )
    for k, v in expected.items():
        g = got[k]
        if v is None:
            assert g is None, (ctx, k, g)
        else:
            assert g is not None and math.isclose(g, v, rel_tol=0, abs_tol=1e-12), (ctx, k, g, v)


@pytest.mark.parametrize(
    "winkler,threshold,dedup",
    [(True, 0.85, "auto"), (True, 0.9, "auto"), (False, 0.7, "auto"), (False, 0.8, "auto"),
     (False, 0.7, True)],
    ids=["True-0.85", "True-0.9", "False-0.7", "False-0.8", "False-0.7-dedup"],
)
def test_join_parity_two_table(tables, winkler, threshold, dedup):
    a, b = tables
    fn = jaro_winkler_join if winkler else jaro_join
    got = _collect(
        fn(a, b, "id", "id", "name", "name", threshold, allow_missing=True,
           dedup_strings=dedup)
    )
    exp = _expected(
        naive_jaro_join(A_PDF, B_PDF, "id", "id", "name", "name", threshold,
                        winkler=winkler, allow_missing=True)
    )
    _assert_match(got, exp, f"jaro(winkler={winkler}, t={threshold}, dedup={dedup})")


@pytest.mark.parametrize("dedup", [True, False])
def test_join_parity_self_join(tables, dedup):
    a, _ = tables
    got = _collect(
        jaro_winkler_join(a, a, "id", "id", "name", "name", 0.9,
                          self_join=True, dedup_strings=dedup)
    )
    exp = _expected(
        naive_jaro_join(A_PDF, A_PDF, "id", "id", "name", "name", 0.9,
                        winkler=True, self_join=True)
    )
    _assert_match(got, exp, f"jw self-join dedup={dedup}")
    # the duplicated-name fixture rows must appear (identical -> 1.0)
    assert any(abs(v - 1.0) < 1e-15 for v in exp.values() if v is not None)


def test_join_allow_empty_toggle(tables):
    a, _ = tables
    with_empty = _collect(
        jaro_winkler_join(a, a, "id", "id", "name", "name", 0.9, self_join=True)
    )
    without = _collect(
        jaro_winkler_join(a, a, "id", "id", "name", "name", 0.9,
                          self_join=True, allow_empty=False)
    )
    empty_ids = set(A_PDF[A_PDF["name"] == ""]["id"])
    dropped = set(with_empty) - set(without)
    # every dropped pair is an empty-empty pair (fixture has one empty
    # name per table side, so the self-join drop set can be empty only
    # if there are <2 empty names)
    for l, r in dropped:
        assert l in empty_ids and r in empty_ids


def test_threshold_floor_raises(tables):
    a, b = tables
    with pytest.raises(ValueError, match="threshold > 0.8"):
        jaro_winkler_join(a, b, "id", "id", "name", "name", 0.8)
    with pytest.raises(ValueError, match="threshold > 2/3"):
        jaro_join(a, b, "id", "id", "name", "name", 0.6)
    with pytest.raises(ValueError, match="comp_op"):
        jaro_winkler_join(a, b, "id", "id", "name", "name", 0.9, comp_op="<=")


def test_apply_matcher_measure_path(tables, spark):
    """apply_matcher(sim_function='JARO_WINKLER') reproduces the
    blocked join's scores on the join's own candset."""
    from sparksimjoin.matcher import apply_matcher

    a, b = tables
    joined = jaro_winkler_join(a, b, "id", "id", "name", "name", 0.86)
    cand = joined.select("l_id", "r_id")
    rescored = apply_matcher(
        cand, "l_id", "r_id", a, b, "id", "id", "name", "name",
        tokenizer=None, sim_function="JARO_WINKLER", threshold=0.86,
    )
    got = {(r["l_id"], r["r_id"]): r["_sim_score"] for r in rescored.collect()}
    exp = {(r["l_id"], r["r_id"]): r["_sim_score"] for r in joined.collect()}
    assert got == exp


def test_plan_is_equi_join_not_cartesian(spark):
    """The jaro candidate stage must be the salted char equi-join —
    never a cartesian enumeration. (allow_empty=False keeps the
    statically-planned empty-empty cross join out of the plan.)"""
    import pandas as pd

    pdf = pd.DataFrame({"id": range(40), "s": [f"name{i % 7}x{i % 3}" for i in range(40)]})
    d = spark.createDataFrame(pdf)
    out = jaro_winkler_join(d, d, "id", "id", "s", "s", 0.9,
                            self_join=True, allow_empty=False, dedup_strings=False)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_join_unicode_parity(spark):
    """Non-ASCII strings: Spark length/substr and the Python kernel
    must agree on CODE POINTS (not bytes) end-to-end."""
    import pandas as pd

    vals = ["héllo wörld", "héllo wörld!", "ｈｅｌｌｏ", "ｈｅｌｌｏｗ",
            "καλημέρα", "καλημερα", "日本語テキスト", "日本語テキスト行",
            "naïve", "naive"]
    pdf = pd.DataFrame({"id": range(len(vals)), "s": vals})
    df = spark.createDataFrame(pdf)
    got = _collect(jaro_winkler_join(df, df, "id", "id", "s", "s", 0.85,
                                     self_join=True, dedup_strings=False))
    exp = _expected(naive_jaro_join(pdf, pdf, "id", "id", "s", "s", 0.85,
                                    winkler=True, self_join=True))
    _assert_match(got, exp, "unicode jw")
    assert exp, "fixture must produce at least one qualifying pair"


# ------------------------------------------------------------ monge-elkan
def test_monge_elkan_kernel():
    import math

    from sparksimjoin.simfunctions import monge_elkan_sim

    assert monge_elkan_sim([], []) == 1.0
    assert monge_elkan_sim(["a"], []) == 0.0
    assert monge_elkan_sim([], ["a"]) == 0.0
    assert monge_elkan_sim(["ab"], ["ab"]) == 1.0
    # asymmetric: every left token perfectly matched vs not
    assert monge_elkan_sim(["ab"], ["ab", "zz"]) == 1.0
    assert monge_elkan_sim(["ab", "zz"], ["ab"]) < 1.0
    # mean-of-max definition, exact summation
    exp = math.fsum([jaro_winkler_sim("aa", "aa"), jaro_winkler_sim("bc", "aa")]) / 2
    assert monge_elkan_sim(["aa", "bc"], ["aa"]) == exp


def test_monge_elkan_matcher_vs_duckdb(spark):
    """apply_matcher(MONGE_ELKAN) is bit-identical to the DuckDB
    fsum-replication on a random candset — the exact-summation
    contract the oracle relies on."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    from sparksimjoin.matcher import apply_matcher
    from sparksimjoin.tokenizers import WhitespaceTokenizer

    rng = random.Random(7)
    words = ["rod", "rad", "blue", "blues", "widget", "wedge", "small", "smell"]
    pdf = pd.DataFrame({
        "id": range(30),
        "s": [" ".join(rng.choices(words, k=rng.randint(1, 5))) for _ in range(30)],
    })
    cand_pdf = pd.DataFrame(
        [(i, j) for i in range(30) for j in range(i + 1, 30) if rng.random() < 0.3],
        columns=["l_id", "r_id"],
    )
    df = spark.createDataFrame(pdf)
    cand = spark.createDataFrame(cand_pdf)
    out = apply_matcher(cand, "l_id", "r_id", df, df, "id", "id", "s", "s",
                        tokenizer=WhitespaceTokenizer(return_set=True),
                        sim_function="MONGE_ELKAN", threshold=0.0)
    got = {(r["l_id"], r["r_id"]): r["_sim_score"] for r in out.collect()}
    con = duckdb.connect()
    con.register("recs", pdf)
    con.register("cand", cand_pdf)
    sql = """
WITH tok AS (SELECT id, list_distinct(string_split(s, ' ')) AS toks FROM recs),
lt AS (SELECT id, unnest(toks) AS a FROM tok),
rt AS (SELECT id, unnest(toks) AS b FROM tok),
mx AS (
  SELECT c.l_id, c.r_id, lt.a, max(jaro_winkler_similarity(lt.a, rt.b)) AS m
  FROM cand c JOIN lt ON lt.id = c.l_id JOIN rt ON rt.id = c.r_id
  GROUP BY 1, 2, 3
)
SELECT l_id, r_id, fsum(m) / count(*) AS s FROM mx GROUP BY 1, 2
"""
    exp = {(l, r): s for l, r, s in con.execute(sql).fetchall()}
    # DuckDB's fsum is Kahan-compensated, math.fsum exactly rounded:
    # agreement is to within ~1 ulp, which 6-decimal rounding absorbs
    # (the registered oracle rounds before thresholding for exactly
    # this reason)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert abs(got[k] - v) < 5e-15, (k, got[k], v)
        assert round(got[k], 6) == round(v, 6), (k, got[k], v)


@pytest.mark.parametrize("winkler,threshold", [(True, 0.82), (False, 0.7)])
def test_adversarial_duplicate_char_fuzz(spark, winkler, threshold):
    """Losslessness of the char-BAG blocking under heavy duplicate
    characters (tiny 'aab' alphabet, lengths 0-9, repeated strings) —
    the regime where a multiset-overlap bound or the occurrence
    position filter would first go wrong if unsound."""
    import pandas as pd

    rng = random.Random(123)
    vals = ["".join(rng.choices("aab", k=rng.randint(0, 9))) for _ in range(120)]
    pdf = pd.DataFrame({"id": range(len(vals)), "s": vals})
    df = spark.createDataFrame(pdf)
    fn = jaro_winkler_join if winkler else jaro_join
    got = _collect(fn(df, df, "id", "id", "s", "s", threshold, self_join=True))
    exp = _expected(naive_jaro_join(pdf, pdf, "id", "id", "s", "s", threshold,
                                    winkler=winkler, self_join=True))
    _assert_match(got, exp, f"fuzz winkler={winkler} t={threshold}")
    assert len(exp) > 100  # the corpus must actually exercise the funnel
