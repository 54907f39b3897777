"""Hamming-distance join (pigeonhole-chunk blocking, fully JVM-side).

Beyond the reference's join inventory (upstream exposes Hamming only
as a py_stringmatching scorer through ``apply_matcher`` —
``[R] py_stringsimjoin/matcher/apply_matcher.py``). Semantics: a pair
qualifies iff the two strings have EQUAL length and their Hamming
distance satisfies ``comp_op threshold`` (unequal-length pairs simply
never qualify — the join-predicate reading of py_stringmatching's
equal-length precondition).

Blocking is the pigeonhole scheme (the same idea simhash_dedup uses on
bit chunks — dedup.py): split each string into ``k+1`` contiguous
chunks at boundaries ``floor(i*L/(k+1))``; two equal-length strings
within distance ``k`` must agree on at least one whole chunk, so the
blocking key is ``(length, chunk_idx, chunk_text)`` — an equi-join.
Chunk boundaries depend only on the string's own length, and
candidates must share that length, so the boundaries agree pairwise.
Strings shorter than ``k+1`` produce empty chunks that match every
same-length record — harmless: a length-``L <= k`` pair is within
distance ``k`` by definition, so those candidates all verify.

Verification is a pure Column expression (``zip_with`` char compare +
``aggregate`` sum — whole-stage codegen, no UDF), empty strings
included (split('','') yields [''] on both sides -> distance 0, so
empty-empty pairs qualify at distance 0 with no special branch).

Scale notes: the blocking key carries the length, so the join never
crosses length groups; hot chunks (boilerplate prefixes/suffixes) are
split by the same mandatory salt map as the token joins; the verify
stage is repartitioned on the pair key (AQE byte-coalescing defense,
as everywhere in joins/). Candidates here run in ORIGINAL-id space —
the funnel is a single equi-join + distinct (no multi-stage prefix
pipeline), so the dense-long iid detour would cost the decode join it
saves elsewhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..filter_math import COMP_OP_MAP, EDIT_DISTANCE
from ..validation import validate_join_inputs
from .core import (
    blocked_pairs,
    build_salt_map,
    dedup_view,
    resolve_salt_cap,
    result_tail,
)


def _chunk_explode(df: DataFrame, key: str, attr: str, side: str, k: int) -> DataFrame:
    """-> (token, {side}_id): one row per pigeonhole chunk, token =
    'length:idx:chunk_text' (length and idx are numeric, so the first
    two ':' delimit unambiguously even if the chunk contains ':')."""
    n = k + 1
    s = F.col("__s")
    L = F.length(s)
    chunks = []
    for i in range(n):
        b_lo = F.floor(L * i / n).cast("int")
        b_hi = F.floor(L * (i + 1) / n).cast("int")
        chunks.append(
            F.concat_ws(
                ":", L.cast("string"), F.lit(str(i)), s.substr(b_lo + 1, b_hi - b_lo)
            )
        )
    return (
        df.where(F.col(attr).isNotNull())
        .select(F.col(key).alias(f"{side}_id"), F.col(attr).alias("__s"))
        .select(f"{side}_id", F.explode(F.array(*chunks)).alias("token"))
    )


def hamming_join(
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
    n_jobs: int = 1,
    show_progress: bool = False,
    *,
    self_join: bool = False,
    salt_cap: int | None = None,
    dense_id: bool = False,
    dedup_strings: bool | str = "auto",
) -> DataFrame:
    """Equal-length pairs within Hamming distance ``comp_op
    threshold`` (module docstring)."""
    del n_jobs, show_progress  # reference-compat; subsumed by Spark partitioning
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
                         l_out_attrs, r_out_attrs)
    assert comp_op in ("<=", "<", "="), f"invalid comp_op for hamming: {comp_op}"
    assert threshold >= 0, "hamming threshold must be >= 0"
    k = int(math.floor(threshold)) if comp_op in ("<=", "=") else max(int(math.ceil(threshold)) - 1, 0)

    view = dedup_view(dedup_strings, l_df, r_df, l_key_attr, r_key_attr,
                      l_join_attr, r_join_attr, None)
    vl, vr, vlk, vrk, vla, vra = view.tables
    ex_l = _chunk_explode(vl, vlk, vla, "l", k)
    same = vlk == vrk and vla == vra and (vl is vr or vl.sameSemantics(vr))
    ex_r = (
        ex_l.withColumnRenamed("l_id", "r_id")
        if same
        else _chunk_explode(vr, vrk, vra, "r", k)
    )
    # mandatory hot-chunk salt (same machinery/threshold as the token
    # joins: boilerplate same-length prefixes make one chunk key hot)
    counts = ex_l.select("token") if same else ex_l.select("token").unionAll(ex_r.select("token"))
    freq = counts.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    salt_map = build_salt_map(freq, resolve_salt_cap(salt_cap), key_col="token")
    cond = F.col("l_id") < F.col("r_id") if self_join else F.lit(True)
    cand = blocked_pairs(ex_l, ex_r, salt_map, cond)

    # verify: JVM char compare (no UDF); length equality is implied by
    # the blocking key but asserted again here for clarity/cheapness
    l_str = vl.where(F.col(vla).isNotNull()).select(
        F.col(vlk).alias("l_id"), F.col(vla).alias("_ls")
    )
    r_str = vr.where(F.col(vra).isNotNull()).select(
        F.col(vrk).alias("r_id"), F.col(vra).alias("_rs")
    )
    ham = F.aggregate(
        F.zip_with(
            F.split(F.col("_ls"), ""), F.split(F.col("_rs"), ""),
            lambda x, y: F.when(x == y, F.lit(0)).otherwise(F.lit(1)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_part = int(l_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    scored = (
        cand.repartition(n_part, "l_id", "r_id")
        .join(l_str, "l_id").join(r_str, "r_id")
        .where(F.length("_ls") == F.length("_rs"))
        .withColumn("_sim_score", ham.cast("double"))
        .where(COMP_OP_MAP[comp_op](F.col("_sim_score"), F.lit(float(threshold))))
    )
    pairs = scored.select("l_id", "r_id", "_sim_score")
    # identical strings (the dedup diagonal): distance 0, so
    # EDIT_DISTANCE's diagonal semantics apply verbatim; the tail only
    # needs an (id, size)-shaped frame for its membership join
    sized = vl.select(F.col(vlk).alias("id"), F.length(vla).alias("size"))
    return result_tail(
        pairs, view, sized, sized, l_df, r_df, l_key_attr, r_key_attr,
        l_join_attr, r_join_attr, l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix,
        out_sim_score, dense_id, measure=EDIT_DISTANCE, threshold=threshold,
        comp_op=comp_op, allow_empty=False, allow_missing=allow_missing,
        self_join=self_join, metrics_out=None,
    )
