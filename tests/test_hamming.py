"""hamming_join: brute-force parity, pigeonhole losslessness at the
chunk boundaries, equal-length semantics, dedup/self-join branches."""

from __future__ import annotations

import math

import pytest

from sparksimjoin import hamming_join
from sparksimjoin.fixtures import make_person_tables
from sparksimjoin.naive import naive_hamming_join

A_PDF, B_PDF = make_person_tables(60, 80, seed=13)


@pytest.fixture(scope="module")
def tables(spark):
    a = spark.createDataFrame(A_PDF).cache()
    b = spark.createDataFrame(B_PDF).cache()
    a.count(), b.count()
    return a, b


def _collect(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        key = (d["l_id"], d["r_id"])
        assert key not in out, f"duplicate pair {key}"
        out[key] = d["_sim_score"]
    return out


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
            assert g is not None and math.isclose(g, v, abs_tol=1e-12), (ctx, k, g, v)


@pytest.mark.parametrize(
    "k,dedup", [(0, "auto"), (1, "auto"), (3, "auto"), (1, True)], ids=["0", "1", "3", "1-dedup"]
)
def test_parity_two_table(tables, k, dedup):
    a, b = tables
    got = _collect(
        hamming_join(a, b, "id", "id", "name", "name", k, allow_missing=True,
                     dedup_strings=dedup)
    )
    exp = {(l, r): s for l, r, s in naive_hamming_join(
        A_PDF, B_PDF, "id", "id", "name", "name", k, allow_missing=True
    )}
    _assert_match(got, exp, f"hamming k={k} dedup={dedup}")


@pytest.mark.parametrize("dedup", [True, False])
def test_parity_self_join(tables, dedup):
    a, _ = tables
    got = _collect(
        hamming_join(a, a, "id", "id", "name", "name", 2,
                     self_join=True, dedup_strings=dedup)
    )
    exp = {(l, r): s for l, r, s in naive_hamming_join(
        A_PDF, A_PDF, "id", "id", "name", "name", 2, self_join=True
    )}
    _assert_match(got, exp, f"hamming self dedup={dedup}")
    # the duplicated-name fixture rows appear at distance 0
    assert 0.0 in exp.values()


def test_short_strings_and_empty(spark):
    """Strings shorter than k+1 (empty chunks) and empty strings:
    pigeonhole must stay lossless; empty-empty qualifies at 0."""
    import pandas as pd

    pdf = pd.DataFrame({
        "id": list(range(8)),
        "s": ["", "", "a", "b", "ab", "ba", "xy", "xz"],
    })
    df = spark.createDataFrame(pdf)
    got = _collect(hamming_join(df, df, "id", "id", "s", "s", 2,
                                self_join=True, dedup_strings=False))
    exp = {(l, r): s for l, r, s in naive_hamming_join(
        pdf, pdf, "id", "id", "s", "s", 2, self_join=True
    )}
    _assert_match(got, exp, "short/empty")
    assert got[(0, 1)] == 0.0  # empty-empty


def test_comp_op_strict(tables):
    a, _ = tables
    lt = _collect(hamming_join(a, a, "id", "id", "name", "name", 2,
                               comp_op="<", self_join=True))
    exp = {(l, r): s for l, r, s in naive_hamming_join(
        A_PDF, A_PDF, "id", "id", "name", "name", 2, comp_op="<", self_join=True
    )}
    _assert_match(lt, exp, "comp_op <")


def test_plan_is_equi_join_not_cartesian(spark):
    """The hamming candidate stage is the (length, idx, chunk)
    equi-join — never a cartesian enumeration."""
    import pandas as pd

    pdf = pd.DataFrame({"id": range(40), "s": [f"name{i % 7}x{i % 3}" for i in range(40)]})
    d = spark.createDataFrame(pdf)
    out = hamming_join(d, d, "id", "id", "s", "s", 2,
                       self_join=True, dedup_strings=False)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_unicode_parity(spark):
    """Code-point semantics: Spark split('')/length vs Python len/zip
    must agree on multibyte strings."""
    import pandas as pd

    vals = ["héllo", "hèllo", "hello", "日本語", "日本誤", "日本語々",
            "καλημέρα", "καλημερα"]
    pdf = pd.DataFrame({"id": range(len(vals)), "s": vals})
    df = spark.createDataFrame(pdf)
    got = _collect(hamming_join(df, df, "id", "id", "s", "s", 2,
                                self_join=True, dedup_strings=False))
    exp = {(l, r): s for l, r, s in naive_hamming_join(
        pdf, pdf, "id", "id", "s", "s", 2, self_join=True
    )}
    _assert_match(got, exp, "unicode hamming")
    assert exp, "fixture must produce at least one qualifying pair"


def test_adversarial_tiny_alphabet_fuzz(spark):
    """Pigeonhole losslessness under a 2-char alphabet with heavy
    equal-length collisions and duplicate strings."""
    import random

    import pandas as pd

    rng = random.Random(31)
    vals = ["".join(rng.choices("ab", k=rng.choice([0, 1, 2, 5, 6]))) for _ in range(150)]
    pdf = pd.DataFrame({"id": range(len(vals)), "s": vals})
    df = spark.createDataFrame(pdf)
    got = _collect(hamming_join(df, df, "id", "id", "s", "s", 2, self_join=True))
    exp = {(l, r): s for l, r, s in naive_hamming_join(
        pdf, pdf, "id", "id", "s", "s", 2, self_join=True
    )}
    _assert_match(got, exp, "hamming fuzz")
    assert len(exp) > 500
