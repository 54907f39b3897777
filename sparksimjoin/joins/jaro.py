"""Blocked Jaro / Jaro-Winkler similarity joins.

Beyond the reference's public surface (upstream reaches Jaro only via
``apply_matcher(sim_function=<py_stringmatching callable>)`` over a
pre-built candset — ``[R] py_stringsimjoin/matcher/apply_matcher.py``);
here it is a first-class filter-verify join on the same core
machinery, with a SOUND character-level blocking derived from the
measure's definition:

Derivation (simfunctions.py carries the exact Jaro definition). Let
``j`` be the Jaro similarity, ``m`` the match count, ``l1, l2`` the
string lengths. Each of the three Jaro terms is <= 1, so

    j >= j_min  =>  m/l1 >= 3*j_min - 2  and  m/l2 >= 3*j_min - 2
                =>  m >= c * max(l1, l2),   c = 3*j_min - 2.

For plain Jaro, ``j_min = t``. For Jaro-Winkler, ``jw <= 0.6*j + 0.4``
(prefix boost maximal at L=4, p=0.1), so ``jw >= t => j >= j_min =
(t - 0.4) / 0.6`` — which also covers the no-boost branch (there
``jw = j >= t >= j_min``). Every Jaro match pairs two equal
characters, distinct occurrences on each side, so ``m`` is bounded by
the character-MULTISET overlap — exactly the bag-overlap predicate the
prefix/size/position machinery filters on (filter_math JARO_CHAR,
threshold = c). Soundness requires ``c > 0``: t > 2/3 for Jaro,
t > 0.8 for Jaro-Winkler — the thresholds these measures are used at
in record linkage. Below that no sound record-local character bound
exists (the join raises; block explicitly and use
``apply_matcher(sim_function='JARO_WINKLER')`` instead).

Plan: 1-gram *bag* tokenization (unpadded) -> global rarity ordering
-> prefix explode with prefix length ``l - ceil(c*l) + 1`` -> salted
equi-join on char with size-band (``l2 in [c*l1, l1/c]``) and
occurrence position-bound residuals -> exact Jaro/Jaro-Winkler
verification in an Arrow-batched pandas UDF over the original strings.

SCALE WARNING: the blocking alphabet is single characters, so every
posting list is hot (vocabulary ~tens of tokens) — the mandatory salt
splits them for parallelism, but candidate volume on a one-alphabet
corpus approaches the size-band cross product scaled by the
char-frequency prefix filter. This is inherent to Jaro (no q-gram
bound exists: transpositions are position-free within the match
window, so shared bigrams are not implied). At 100 TB prefer a
domain blocking key + ``apply_matcher``; the exact join is the right
tool at the record-count scales Jaro thresholds are calibrated on
(names, titles, addresses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..filter_math import COMP_OP_MAP, JARO_CHAR
from ..simfunctions import jaro_expr, jaro_winkler_expr
from ..tokenizers import QgramTokenizer
from ..validation import validate_join_inputs
from .core import (
    build_salt_map,
    candidate_pairs,
    dedup_view,
    prefix_explode,
    prepare_sides,
    resolve_salt_cap,
    result_tail,
    verify_strings,
)

# 1-gram bag: the blocking unit is the character multiset
_CHAR_TOK = QgramTokenizer(qval=1, padding=False, return_set=False)


def _char_bound(threshold: float, winkler: bool, comp_op: str) -> float:
    """The sound char-overlap fraction ``c`` (module docstring), or
    raise when no positive bound exists at this threshold."""
    if comp_op not in (">=", ">"):
        raise ValueError(f"comp_op must be '>=' or '>' for jaro joins, got {comp_op!r}")
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    j_min = (threshold - 0.4) / 0.6 if winkler else threshold
    c = 3.0 * j_min - 2.0
    if c <= 0.0:
        name = "jaro_winkler_join" if winkler else "jaro_join"
        floor = "0.8" if winkler else "2/3"
        raise ValueError(
            f"{name} requires threshold > {floor} (got {threshold}): below it "
            "no sound record-local character bound exists — block explicitly "
            "and use apply_matcher(sim_function=" +
            ("'JARO_WINKLER'" if winkler else "'JARO'") + ") instead"
        )
    return c


def _jaro_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    threshold: float,
    winkler: bool,
    comp_op: str = ">=",
    allow_empty: bool = True,
    allow_missing: bool = False,
    l_out_attrs: list[str] | None = None,
    r_out_attrs: list[str] | None = None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    n_jobs: int = 1,
    show_progress: bool = False,
    *,
    self_join: bool = False,
    salt_cap: int | None = None,
    dense_id: bool = False,
    dedup_strings: bool | str = "auto",
    metrics_out: dict | None = None,
) -> DataFrame:
    del n_jobs, show_progress  # reference-compat; subsumed by Spark partitioning
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
                         l_out_attrs, r_out_attrs)
    c = _char_bound(threshold, winkler, comp_op)

    # dedup key = the raw string (character ORDER matters for Jaro,
    # unlike the set measures' canonical-token-set key)
    view = dedup_view(dedup_strings, l_df, r_df, l_key_attr, r_key_attr,
                      l_join_attr, r_join_attr, None)
    prep_l, prep_r, ranks = prepare_sides(*view.tables, _CHAR_TOK)
    ex_l = prefix_explode(prep_l, "l", JARO_CHAR, c)
    ex_r = prefix_explode(prep_r, "r", JARO_CHAR, c)
    salt_map = build_salt_map(ranks, resolve_salt_cap(salt_cap))
    # occurrence position mode (bag semantics — one join row per
    # matched char OCCURRENCE; the accumulated PPJoin bound assumes
    # set semantics, exactly as for edit distance)
    cand = candidate_pairs(
        ex_l, ex_r, JARO_CHAR, c,
        self_join=self_join, salt_map=salt_map,
    )

    # verify on the ORIGINAL strings (joins/core.verify_strings, the
    # stage edit_distance_join's levenshtein also runs through) with
    # the Arrow-batched Jaro kernel
    pairs = verify_strings(
        cand, prep_l, prep_r, view,
        (jaro_winkler_expr if winkler else jaro_expr)(F.col("_ls"), F.col("_rs")),
        COMP_OP_MAP[comp_op](F.col("_sim_score"), F.lit(float(threshold))),
        self_join,
    )
    # empty strings never enter the funnel (size 0 -> empty prefix);
    # the classic convention scores empty-empty at 1.0, and identical
    # strings (the dedup diagonal) score 1.0 under JARO_CHAR
    return result_tail(
        pairs, view, prep_l, prep_r, l_df, r_df, l_key_attr, r_key_attr,
        l_join_attr, r_join_attr, l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix,
        out_sim_score, dense_id, measure=JARO_CHAR, threshold=threshold,
        comp_op=comp_op, allow_empty=allow_empty, allow_missing=allow_missing,
        self_join=self_join, metrics_out=metrics_out,
    )


def _make(winkler: bool):
    def join_fn(
        l_df: DataFrame,
        r_df: DataFrame,
        l_key_attr: str,
        r_key_attr: str,
        l_join_attr: str,
        r_join_attr: str,
        threshold: float,
        comp_op: str = ">=",
        allow_empty: bool = True,
        allow_missing: bool = False,
        l_out_attrs: list[str] | None = None,
        r_out_attrs: list[str] | None = None,
        l_out_prefix: str = "l_",
        r_out_prefix: str = "r_",
        out_sim_score: bool = True,
        n_jobs: int = 1,
        show_progress: bool = False,
        **spark_opts,
    ) -> DataFrame:
        return _jaro_join(
            l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
            threshold, winkler, comp_op, allow_empty, allow_missing,
            l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix,
            out_sim_score, n_jobs, show_progress, **spark_opts,
        )

    join_fn.__name__ = "jaro_winkler_join" if winkler else "jaro_join"
    join_fn.__doc__ = (
        "Blocked exact Jaro-Winkler join (module docstring); requires "
        "``threshold > 0.8``."
        if winkler
        else "Blocked exact Jaro join (module docstring). Signature matches "
        "the set-sim joins minus tokenizer (the blocking unit is fixed: "
        "character bags); requires ``threshold > 2/3``."
    )
    return join_fn


jaro_join = _make(winkler=False)
jaro_winkler_join = _make(winkler=True)
