"""Edit-distance join (``[R] py_stringsimjoin/join/edit_distance_join.py``
-> ``edit_distance_join_py.py``; SURVEY.md §2.1 #6, §3.2).

Plan: padded-qgram *bag* tokenization -> global rarity ordering ->
prefix explode with prefix length ``q*k + 1`` -> equi-join on gram
with a string-length band residual (``|len_l - len_r| <= k``) ->
exact verification with the built-in banded ``F.levenshtein(l, r, k)``
(JVM-side; no UDF anywhere in this join).

Lossless-ness note (pigeonhole): the q*k+1-prefix scheme requires a
record to have > q*k grams. Padded strings of length
``< q*(k-1) + 2`` can have <= q*k grams, so such *short* records are
routed through a separate branch that pairs them with every record in
their length band (tiny set; broadcast). The reference's single-node
probe loop does not need this split because it probes records
one-by-one; the distributed join does.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..filter_math import COMP_OP_MAP, EDIT_DISTANCE
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


def edit_distance_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    threshold: float,
    comp_op: str = "<=",
    allow_missing: bool = False,
    l_out_attrs: list[str] | None = None,
    r_out_attrs: list[str] | None = None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    tokenizer: QgramTokenizer | None = None,
    n_jobs: int = 1,
    show_progress: bool = False,
    *,
    self_join: bool = False,
    salt_cap: int | None = None,
    dense_id: bool = False,
    dedup_strings: bool | str = "auto",
) -> DataFrame:
    del n_jobs, show_progress  # reference-compat; subsumed by Spark partitioning
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
                         l_out_attrs, r_out_attrs)
    assert comp_op in ("<=", "<", "="), f"invalid comp_op for edit distance: {comp_op}"
    assert threshold >= 0, "edit-distance threshold must be >= 0"
    tokenizer = tokenizer or QgramTokenizer(qval=2, padding=True)
    assert isinstance(tokenizer, QgramTokenizer), "edit distance requires a qgram tokenizer"
    # bag mode: the reference coerces return_set=False for edit distance
    tok = tokenizer.with_return_set(False)
    q = tokenizer.qval
    # effective band: lev(l, r) must satisfy comp_op threshold; the
    # largest admissible distance is `band`
    band = int(math.floor(threshold)) if comp_op in ("<=", "=") else max(int(math.ceil(threshold)) - 1, 0)

    # exact-duplicate collapse (joins/core.dedup_view): candidates +
    # levenshtein run once per distinct string pair; the result tail
    # expands back to record ids
    view = dedup_view(dedup_strings, l_df, r_df, l_key_attr, r_key_attr,
                      l_join_attr, r_join_attr, None)
    prep_l, prep_r, ranks = prepare_sides(*view.tables, tok)
    ex_l = prefix_explode(prep_l, "l", EDIT_DISTANCE, band, q)
    ex_r = prefix_explode(prep_r, "r", EDIT_DISTANCE, band, q)
    salt_map = build_salt_map(ranks, resolve_salt_cap(salt_cap))
    # size residual (qgram-count band == string-length band for padded
    # grams) via size_bounds_expr, plus the PPJoin position bound:
    # 1 + min(s1-p1, s2-p2) >= max(s1,s2) - q*k at some matching
    # occurrence. Lossless: all overlap instances of a qualifying pair
    # sit at positions >= the earliest matching occurrence, which must
    # itself lie within both q*k+1 prefixes (else overlap < required),
    # so the join sees an occurrence where the bound holds.
    cand = candidate_pairs(
        ex_l, ex_r, EDIT_DISTANCE, band, qval=q,
        self_join=self_join, salt_map=salt_map,
    )

    # short-record branch: records with <= q*band grams can defeat the
    # prefix pigeonhole -> pair them with everything in the length
    # band. Joined on an exploded size-bucket key (the SizeFilter
    # pattern): each short row is replicated across its <= 2*band+1
    # admissible sizes and equi-joined on the exact size — a plain
    # shuffle hash join. A crossJoin+filter here would broadcast the
    # short side and go quasi-cartesian on short-string corpora (e.g.
    # names with q=2, k=3, where most records are "short").
    min_grams = q * band + 1
    # short branch runs in the same iid space as the main candidate
    # funnel (prefix_explode defaults to the with_iid surrogate longs)
    shorts_l = prep_l.where(F.col("size") < min_grams).select(
        F.col("iid").alias("l_id"), F.col("size").alias("l_size")
    )
    shorts_r = prep_r.where(F.col("size") < min_grams).select(
        F.col("iid").alias("r_id"), F.col("size").alias("r_size")
    )
    all_l = prep_l.select(F.col("iid").alias("l_id"), F.col("size").alias("l_size"))
    all_r = prep_r.select(F.col("iid").alias("r_id"), F.col("size").alias("r_size"))

    def _band_sizes(size_col):
        return F.explode(
            F.sequence(F.greatest(size_col - band, F.lit(0)), size_col + band)
        )

    short_cand = (
        shorts_l.withColumn("__bsz", _band_sizes(F.col("l_size")))
        .join(all_r.withColumn("__bsz", F.col("r_size")), "__bsz")
        .select("l_id", "r_id")
        .unionAll(
            all_l.withColumn("__bsz", F.col("l_size"))
            .join(shorts_r.withColumn("__bsz", _band_sizes(F.col("r_size"))), "__bsz")
            .select("l_id", "r_id")
        )
    )
    if self_join:
        short_cand = short_cand.where(F.col("l_id") < F.col("r_id"))
    cand = cand.unionAll(short_cand).distinct()

    # verify with the banded built-in levenshtein (returns -1 above
    # band) on the original strings (joins/core.verify_strings)
    pairs = verify_strings(
        cand, prep_l, prep_r, view,
        F.levenshtein(F.col("_ls"), F.col("_rs"), band).cast("double"),
        (F.col("_sim_score") >= 0)
        & COMP_OP_MAP[comp_op](F.col("_sim_score"), F.lit(float(threshold))),
        self_join,
    )
    return result_tail(
        pairs, view, prep_l, prep_r, l_df, r_df, l_key_attr, r_key_attr,
        l_join_attr, r_join_attr, l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix,
        out_sim_score, dense_id, measure=EDIT_DISTANCE, threshold=threshold,
        comp_op=comp_op, allow_empty=False, allow_missing=allow_missing,
        self_join=self_join, metrics_out=None,
    )
