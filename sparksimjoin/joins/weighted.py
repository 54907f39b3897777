"""Weighted (inverse-document-frequency) similarity joins: weighted
jaccard and weighted cosine.

Extras beyond the reference surface (SURVEY.md §2 extras): the
upstream package treats every token equally, but real entity
resolution wants rare tokens to count for more than ubiquitous ones
("llc" shared by two company names means little; "zylker" means a
lot). Over token weights w_t and W(S) = Σ_{t∈S} w_t:

    jaccard(x, y) = W(x ∩ y) / (W(x) + W(y) - W(x ∩ y))
    cosine(x, y)  = W(x ∩ y) / sqrt(W(x) · W(y))

**Exact-integer weights.** The default weight is
``w_t = (N * scale) DIV df_t`` (N = corpus record count, df_t =
token document frequency, integer division) — a 1/df inverse
document frequency kept in pure BIGINT arithmetic, so every
intermediate (per-record total weight, pairwise overlap weight) is
exact, and the ONLY floats in the plan are the final division (and,
for cosine, one IEEE-exact sqrt of a double product — the bigint
product W(x)·W(y) could overflow int64, so both this engine and the
SQL oracle multiply as doubles, which is deterministic). That makes
results bit-reproducible across engines (the DuckDB oracle
replicates the integers and lands on the identical doubles); a
log-idf variant would hinge on ln() being bit-identical between
java.lang.Math and libm, which is not guaranteed.

Filter-verify plan, on the weighted-vector envelope shared with
joins/tfidf.py (joins/core ``token_side``, ``idf_weights``,
``weighted_records`` with mass = W(x), ``weighted_pairs``); this module
keeps the ``frac`` table, the W-band predicate and the three
similarity formulas:

1. token ranks (joins/core.build_token_ranks): exact global df + the
   dense int tid in (df asc, token asc) order. Because w_t is
   monotone non-increasing in df, ascending tid IS descending-weight
   order with a deterministic tie-break — the sorted tid array doubles
   as the weighted prefix order.
2. weighted prefix (sound): a pair can only reach the threshold with
   overlap weight O ≥ f·W(x), where f = t for jaccard (W(y) ≥ O ⇒
   sim ≤ O/W(x)) and f = t² for cosine (sim ≤ sqrt(O/W(x))). With
   tokens in global order, if the pair shares no token in positions
   1..p of x then O ≤ W(x) − cum_p, so the prefix keeps positions
   with cum_{i-1} ≤ (1−f)·W(x) (+ a small float-guard epsilon —
   widening the prefix only adds candidates, never loses pairs).
   Computed as a pure array aggregate — no per-record window.
3. candidates: exploded prefix equi-join on int tid, hot tokens split
   by the shared mandatory salt (joins/core.blocked_pairs — the same
   100 TB skew defense as the unweighted joins), plus the weight band
   W(y) ∈ [f·W(x), W(x)/f] (jaccard: sim ≤ min(W)/max(W); cosine:
   sim ≤ sqrt(min(W)/max(W))), epsilon-widened. When
   joins/core.plan_candidates finds that the blocked join's meeting
   volume reaches n_l*n_r, the same W-band runs instead as a dense
   all-pairs nested loop over the record frames (joins/core.dense_pairs).
4. verify: JVM `array_intersect` on the int tid arrays (primitive
   fast path) with weights looked up from a per-record map — exact
   BIGINT overlap weight, one float step, threshold compare.

No Python UDFs, no driver collect: N rides a broadcast one-row
frame (joins/core.idf_weights), so the weight table stays lazy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import track
from ..tokenizers import Tokenizer
from ..validation import validate_join_inputs, validate_threshold
from .core import (
    idf_weights,
    resolve_salt_cap,
    side_cols,
    token_side,
    weighted_pairs,
    weighted_records,
)

#: weight quantization: w = (N * WEIGHT_SCALE) DIV df
WEIGHT_SCALE = 1_000_000


def _rec_frame(tok_df: DataFrame, wtab: DataFrame, prefix_frac: float) -> DataFrame:
    """(id, tids sorted asc = weight desc, mass = W(x), vmap tid→w,
    prefix) — the shared joins/core.weighted_records frame over the
    record's token weights, without its ``tvs`` structs (verify reads
    the map). ``prefix_frac`` is f from the module docstring: the
    minimum overlap-weight fraction of this record's total weight a
    qualifying pair must reach."""
    rows = tok_df.select("id", F.explode("toks").alias("token")).join(
        wtab, "token"
    ).select("id", "tid", F.col("w").alias("v"))
    return weighted_records(rows, prefix_frac, "CAST(0 AS BIGINT)", "{a} + x").drop("tvs")


def _weighted_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    measure: str,
    self_join: bool,
    salt_cap: int | None,
) -> DataFrame:
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr,
                         r_join_attr, None, None)
    validate_threshold(threshold, "JACCARD")
    cap = resolve_salt_cap(salt_cap)
    # f: minimum overlap-weight fraction (module docstring step 2).
    # DICE: 2O/(W1+W2) >= t with W2 >= O gives O >= t*W1/(2-t), and
    # 2*min/(min+max) >= t bounds the band at [f*W1, W1/f] with the
    # same f — identical structure to jaccard/cosine.
    frac = {"JACCARD": threshold,
            "COSINE": threshold * threshold,
            "DICE": threshold / (2.0 - threshold)}[measure]
    tok = tokenizer.with_return_set(True)

    l_tok = token_side(l_df, l_key_attr, l_join_attr, tok)
    r_tok = l_tok if self_join else token_side(r_df, r_key_attr, r_join_attr, tok)
    ranks, wtab = idf_weights(
        [l_tok] if self_join else [l_tok, r_tok],
        F.expr(f"CAST((_n * {WEIGHT_SCALE}) DIV cnt AS BIGINT)"),
    )

    rec_l = track(_rec_frame(l_tok, wtab, frac))
    rec_r = rec_l if self_join else track(_rec_frame(r_tok, wtab, frac))

    # the W-band (module docstring step 3), epsilon-widened; the dense
    # path evaluates it inside the nested loop, the blocked path as
    # the candidate join's residual
    eps = 1e-9
    band = (
        (F.col("r_mass").cast("double")
         >= F.lit(frac) * F.col("l_mass") * (1.0 - eps))
        & (F.col("r_mass").cast("double")
           <= F.col("l_mass") / F.lit(frac) * (1.0 + eps))
    )
    cand = weighted_pairs(rec_l, rec_r, ranks, cap, self_join, band)

    lv = rec_l.select(*side_cols("l", "tids", "vmap", "mass"))
    rv = rec_r.select(*side_cols("r", "tids", "mass"))
    if measure == "JACCARD":
        sim = F.col("_ow").cast("double") / (
            F.col("l_mass") + F.col("r_mass") - F.col("_ow")
        )
    elif measure == "DICE":
        sim = (F.lit(2) * F.col("_ow")).cast("double") / (
            F.col("l_mass") + F.col("r_mass")
        )
    else:  # COSINE: double product — bigint l_mass*r_mass can overflow
        sim = F.col("_ow").cast("double") / F.sqrt(
            F.col("l_mass").cast("double") * F.col("r_mass").cast("double")
        )
    verified = (
        cand.join(lv, "l_id")
        .join(rv, "r_id")
        .withColumn(
            "_ow",
            F.expr(
                "aggregate(array_intersect(l_tids, r_tids), "
                "CAST(0 AS BIGINT), (a, t) -> a + l_vmap[t])"
            ),
        )
        .withColumn("_sim_score", sim)
        .where(F.col("_sim_score") >= threshold)
    )
    return verified.select("l_id", "r_id", "_sim_score")


def weighted_jaccard_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    *,
    self_join: bool = False,
    salt_cap: int | None = None,
) -> DataFrame:
    """-> (l_id, r_id, _sim_score) pairs with weighted jaccard >=
    ``threshold``. Records with no tokens are skipped (weighted
    similarity is undefined on empty weight sets — unlike the
    unweighted joins' ``allow_empty``, there is no reference contract
    to honor here). ``self_join`` emits ``l_id < r_id`` only.
    Document frequencies are computed over BOTH inputs for a
    two-table join (one shared weight space) and once for a
    self-join."""
    return _weighted_join(l_df, r_df, l_key_attr, r_key_attr, l_join_attr,
                          r_join_attr, tokenizer, threshold, "JACCARD",
                          self_join, salt_cap)


def weighted_cosine_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    *,
    self_join: bool = False,
    salt_cap: int | None = None,
) -> DataFrame:
    """Weighted cosine twin of :func:`weighted_jaccard_join`
    (set-cosine over token weights: W(x∩y)/sqrt(W(x)·W(y)); the
    prefix/band bounds use f = threshold² — module docstring)."""
    return _weighted_join(l_df, r_df, l_key_attr, r_key_attr, l_join_attr,
                          r_join_attr, tokenizer, threshold, "COSINE",
                          self_join, salt_cap)


def weighted_dice_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    *,
    self_join: bool = False,
    salt_cap: int | None = None,
) -> DataFrame:
    """Weighted Dice twin of :func:`weighted_jaccard_join`
    (2·W(x∩y)/(W(x)+W(y)); the prefix/band bounds use
    f = t/(2−t) — derivation at the frac table in _weighted_join)."""
    return _weighted_join(l_df, r_df, l_key_attr, r_key_attr, l_join_attr,
                          r_join_attr, tokenizer, threshold, "DICE",
                          self_join, salt_cap)
