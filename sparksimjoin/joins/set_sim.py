"""Public set-similarity joins: jaccard / cosine / dice / overlap /
overlap-coefficient (``[R] py_stringsimjoin/join/{jaccard,cosine,dice,
overlap,overlap_coefficient}_join.py``; SURVEY.md §2.1 #1-5).

One generic filter-verify plan (joins/core.py); per-measure bounds and
verify formulas from filter_math. All signatures mirror the reference,
with Spark-specific extras keyword-only:

- ``self_join``: dedupe symmetric pairs (emit l_id < r_id only) when
  joining a table with itself — the canonical dedup/ER mode.
- ``salt_cap``: threshold for splitting hot blocking tokens (see
  joins/core.build_salt_map); None -> AUTO_SALT_CAP. Salting is
  always on: the candidate join pins its exchange parallelism
  (REPARTITION_BY_NUM), which opts out of AQE's runtime skew
  splitting, so the engine's own deterministic salt is the skew
  defense.
- ``dense_id``: reference emits dense 0..n-1 ``_id``; we default to
  ``monotonically_increasing_id`` (documented deviation; dense only in
  small-scale parity tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import filter_math as fm
from ..tokenizers import Tokenizer
from ..validation import (
    validate_comp_op_for_sim_measure,
    validate_join_inputs,
    validate_threshold,
)
from .core import (
    build_salt_map,
    candidate_pairs,
    canonical_set_key,
    check_stop_token_cap,
    dedup_view,
    dense_band_pair_stats,
    dense_candidates,
    exclude_stop_tokens,
    plan_candidates,
    prefix_explode,
    prepare_sides,
    resolve_salt_cap,
    result_tail,
    verify_pairs,
)


def set_sim_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    measure: str,
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
    stop_token_cap: int | None = None,
    candidate_budget: int | None = None,
    tokens_join: str = "auto",
    metrics_out: dict | None = None,
    _verify_score_fn=None,
    _verify_threshold: float | None = None,
    _verify_orient: bool = False,
) -> DataFrame:
    """``stop_token_cap``: tokens whose document frequency exceeds the
    cap are excluded from the BLOCKING keys (never from verification).
    LOSSY: a pair whose only shared prefix token is a stop token is
    missed, so the cap must sit far above correctness-relevant
    frequencies — off by default; the dropped-token count is reported
    through ``metrics_out`` (no silent caps). Most relevant for
    OVERLAP_COEFFICIENT, whose prefix is the FULL token set (no sound
    record-local prefix exists for that measure), so one hot token in
    every record makes candidate volume quadratic; a cap restores
    sub-quadratic blocking at a bounded, observable recall cost.

    ``candidate_budget``: pre-flight guard — when set, the EXACT
    candidate meeting volume is computed with a vocabulary-sized probe
    before any pairwise work, and a breach raises ValueError carrying
    the projected volume plus the cap-advisor workflow
    (estimate_join_cost's stop_token_cap pricing) instead of
    launching a runaway join. None (default) = off. The volume is the
    one ``estimate_join_cost`` reports as ``est_candidates`` (once per
    unordered pair under ``self_join``). The dense-path gate reuses
    the same probe, so a budget adds a job only when the gate would
    not have probed.

    ``metrics_out["candidate_plan"]`` records the candidate-path
    decision (joins/core.plan_candidates): path, n_l, n_r, est, bp,
    lbar and cap, None where not computed.

    ``_verify_score_fn`` / ``_verify_threshold`` (internal, used by
    joins/tversky.py): when set, ``measure``/``threshold`` drive ONLY
    the blocking-side bounds (prefix/size/position/suffix — which must
    be SOUND for the real predicate, the caller's responsibility) while
    verification scores with ``_verify_score_fn(l_tokens, r_tokens)``
    against ``_verify_threshold``; the empty-pair and identical-string
    diagonal branches also test against ``_verify_threshold`` (their
    scores, 1.0, are measure-independent for normalized set sims)."""
    # n_jobs / show_progress are accepted for drop-in compatibility
    # with the reference signature and ignored: Spark's partitioning
    # subsumes the joblib split (SURVEY.md §2.2 #29) and progress is
    # the Spark UI / checkpoint manifests
    del n_jobs, show_progress
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
                         l_out_attrs, r_out_attrs)
    validate_threshold(threshold, measure)
    validate_comp_op_for_sim_measure(comp_op, measure)
    check_stop_token_cap(stop_token_cap)

    # set-sims operate on token *sets* (tokenizer coerced, as the
    # reference does at the head of every join function)
    tok = tokenizer.with_return_set(True)
    # set sims depend only on the token SET, so the dedup key is the
    # canonical token set — strictly more collapsing than raw strings
    key_fn = lambda c: canonical_set_key(tok, c)  # noqa: E731
    # exact-duplicate collapse (joins/core.dedup_view): filter-verify
    # runs on one representative per distinct token set; the result
    # tail expands back to record ids (duplication-factor^2 less work)
    view = dedup_view(dedup_strings, l_df, r_df, l_key_attr, r_key_attr,
                      l_join_attr, r_join_attr, key_fn)
    prep_l, prep_r, ranks = prepare_sides(*view.tables, tok)
    ex_l = prefix_explode(prep_l, "l", measure, threshold)
    ex_r = prefix_explode(prep_r, "r", measure, threshold)
    if stop_token_cap is not None:
        # the dropped-token count rides the join's own action
        # (joins/core.exclude_stop_tokens) — no eager count job
        (ex_l, ex_r), dropped = exclude_stop_tokens(ranks, stop_token_cap, ex_l, ex_r)
        if metrics_out is not None:
            metrics_out["stop_token_cap"] = stop_token_cap
            metrics_out["dropped_stop_tokens"] = dropped
    # validate salt_cap up front, whichever candidate path runs: the
    # dense path never salts, but a nonsensical cap must still fail
    # loudly (the falsy-coercion contract test)
    resolved_salt_cap = resolve_salt_cap(salt_cap)
    # dense all-pairs vs blocked (joins/core.plan_candidates). Dense is
    # off under the LOSSY stop_token_cap and for non-monotone comp_ops;
    # only the set-sims have the record-length size band whose pair
    # volume prices the marginal window
    same = prep_r is prep_l
    use_dense, plan = plan_candidates(
        prep_l, prep_r, ex_l, ex_r, same=same, self_join=self_join,
        allow_dense=stop_token_cap is None and comp_op in (">=", ">"),
        band_stats=lambda: dense_band_pair_stats(
            prep_l, prep_r, measure, threshold, same=same),
        budget=candidate_budget,
    )
    if metrics_out is not None:
        metrics_out["candidate_plan"] = plan
    if use_dense:
        cand = dense_candidates(prep_l, prep_r, measure, threshold,
                                self_join=self_join)
    else:
        # salting is always on (AUTO_SALT_CAP default): the pinned-
        # parallelism candidate join opts out of AQE skew splitting, so
        # hot blocking tokens must be split here (lossless,
        # property-tested); salt_cap overrides the threshold
        salt_map = build_salt_map(ranks, resolved_salt_cap)
        cand = candidate_pairs(
            ex_l, ex_r, measure, threshold,
            self_join=self_join, salt_map=salt_map,
        )
    # the candidate funnel above ran on dense-long iids (with_iid);
    # verify decodes back to original ids through its prep joins and
    # restores the canonical self-join pair orientation
    v_threshold = threshold if _verify_threshold is None else _verify_threshold
    pairs = verify_pairs(cand, prep_l, prep_r, measure, v_threshold, comp_op,
                         self_join=self_join, score_fn=_verify_score_fn,
                         orient_score=_verify_orient, tokens_join=tokens_join,
                         spread=not use_dense)

    return result_tail(
        pairs, view, prep_l, prep_r, l_df, r_df, l_key_attr, r_key_attr,
        l_join_attr, r_join_attr, l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix,
        out_sim_score, dense_id, measure=measure, threshold=v_threshold, comp_op=comp_op,
        allow_empty=allow_empty and measure != fm.OVERLAP, allow_missing=allow_missing,
        self_join=self_join, metrics_out=metrics_out,
    )


def _make(measure: str, default_allow_empty: bool = True):
    def join_fn(
        l_df: DataFrame,
        r_df: DataFrame,
        l_key_attr: str,
        r_key_attr: str,
        l_join_attr: str,
        r_join_attr: str,
        tokenizer: Tokenizer,
        threshold: float,
        comp_op: str = ">=",
        allow_empty: bool = default_allow_empty,
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
        return set_sim_join(
            l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
            tokenizer, threshold, measure, comp_op, allow_empty, allow_missing,
            l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix, out_sim_score,
            n_jobs, show_progress,
            **spark_opts,
        )

    join_fn.__name__ = f"{measure.lower()}_join"
    return join_fn


jaccard_join = _make(fm.JACCARD)
cosine_join = _make(fm.COSINE)
dice_join = _make(fm.DICE)
overlap_coefficient_join = _make(fm.OVERLAP_COEFFICIENT)
overlap_coefficient_join.__doc__ = """Overlap-coefficient join.

SCALE WARNING: overlap(x,y)/min(|x|,|y|) admits no sound record-local
prefix (a tiny record can reach the threshold through any of a huge
record's tokens), so blocking must use the FULL token set
(filter_math.py prefix-length note) — candidate volume approaches the
full inverted-index join and one ubiquitous token makes it quadratic.
At scale pass ``stop_token_cap`` (lossy, documented on set_sim_join;
dropped-token count via ``metrics_out``) or pre-filter boilerplate
tokens upstream; set ``candidate_budget`` to make the join REFUSE to
launch past a projected meeting volume (the ValueError carries the
number and the cap-advisor workflow)."""


def overlap_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    comp_op: str = ">=",
    allow_missing: bool = False,
    l_out_attrs: list[str] | None = None,
    r_out_attrs: list[str] | None = None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    **spark_opts,
) -> DataFrame:
    """Overlap join (``[R] py_stringsimjoin/join/overlap_join.py``):
    score is the absolute token-set intersection size; no
    ``allow_empty`` (empty sets have overlap 0)."""
    return set_sim_join(
        l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
        tokenizer, threshold, fm.OVERLAP, comp_op, False, allow_missing,
        l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix, out_sim_score,
        **spark_opts,
    )
