"""Plain TF-IDF cosine join, made a first-class blocked join.

Upstream users reach TF-IDF only through py_stringmatching's
``TfIdf`` callable over a pre-built candset (``[R]
py_stringsimjoin/matcher/apply_matcher.py`` — the library's extension
point), and that callable needs a caller-assembled corpus list. Here
the corpus statistics, sound blocking, and exact scoring are one
DataFrame plan — completing the weighted family (joins/weighted.py
covers the SET-weighted measures; this is the BAG/term-frequency
one).

Definition (this module's precise contract — the undampened TF-IDF
cosine; the dampened log-variant stays on the callable path, see
NOTE below):

- tokens in BAG mode: ``tf_x(t)`` = multiplicity of ``t`` in x;
- document frequency ``df_t`` = number of RECORDS containing ``t``
  (set semantics), over the UNION corpus of both tables (shared
  weight space — joins/weighted.py's convention);
- integer IDF weights ``w_t = (N * TFIDF_SCALE) DIV df_t`` — the
  bit-reproducibility scheme shared with weighted.py/soft_tfidf.py:
  every intermediate below is exact integer arithmetic, so both this
  engine and the SQL oracle land on identical doubles;
- term vector ``v_x(t) = tf_x(t) · w_t`` (BIGINT-exact);
- ``sim(x, y) = dot(v_x, v_y) / (‖v_x‖ · ‖v_y‖)`` with
  ``dot = Σ_t v_x(t)·v_y(t)`` and ``‖v‖² = Σ_t v(t)²`` accumulated in
  DECIMAL(38,0) (a single ``v²`` term wraps BIGINT once ``v`` passes
  ~3·10⁹, and this session runs ANSI-off where the wrap is SILENT),
  then exactly three float steps: decimal→double casts (correctly
  rounded in both engines), one IEEE sqrt per norm, one divide.

NOTE dampened variant: py_stringmatching's default ``dampen=True``
scores with ``v = ln(N/df)·ln(tf+1)`` — cross-engine bit-identity
would hinge on ``ln()`` parity between java.lang.Math and libm,
which is not guaranteed (same reason weighted.py rejects log-idf).
``tfidf_join(..., dampen=True)`` therefore computes every sum in a
DETERMINISTIC order (ascending-tid aggregates over sorted arrays —
stable across reruns and partitionings) and its oracle goes through
round-before-filter with a measured boundary margin (the
monge_elkan/soft_tfidf convention) instead of bit-equality; the
undampened default remains the bit-reproducible form. The drop-in
:class:`sparksimjoin.simfunctions.TfIdf` callable covers
``apply_matcher`` over pre-built candsets (it needs a driver-side
corpus list — the join computes corpus statistics distributed).

Blocking is the L2 prefix filter (Bayardo et al., WWW 2007 "Scaling
Up All Pairs Similarity Search", adapted to the rarest-first global
order): order each record's distinct tokens by the global tid
(df asc, token asc — joins/core.build_token_ranks); let ``c`` be the
FIRST common token of a pair (x, y) in that order. Every common term
sits at or after ``c`` in both vectors, so by Cauchy-Schwarz

    dot(x, y) ≤ ‖x_{≥c}‖ · ‖y‖   and   dot(x, y) ≤ ‖x‖ · ‖y_{≥c}‖.

If ``c`` lay outside x's prefix — positions where the cumulative
norm² BEFORE the position is ≤ (1−t²)·‖x‖², i.e. the suffix from the
position still carries ≥ t·‖x‖ of norm — then sim < t; symmetrically
for y. Hence every qualifying pair shares a token in BOTH prefixes
and the exploded prefix-to-prefix equi-join is LOSSLESS (the float
comparison is epsilon-widened — widening only adds candidates).
Cosine is scale-invariant, so no norm band exists (unlike the
set-weighted joins' W-band); the prefix is the whole filter.

The weighted-vector envelope is shared with joins/weighted.py
(joins/core): ``token_side``, ``idf_weights``, ``weighted_records``
(mass = ‖v‖², prefix fraction t²) and ``weighted_pairs``, whose
candidates come from the salted int-tid prefix equi-join
(joins/core.blocked_pairs, with the same mandatory hot-token salt as
every join here) or, when joins/core.plan_candidates finds that the
blocked join's meeting volume reaches n_l*n_r, from the dense
all-pairs l<r product (joins/core.dense_pairs). This module keeps
the bag term frequencies, the plain/dampened value and weight
expressions, the dampened zero-vector filter and the adaptive
BIGINT/DECIMAL dot.

100 TB notes: verify is a JVM map-lookup aggregate on int tids (no
Python anywhere in this join); headroom:
with TFIDF_SCALE=10³, a df=1 token in an N=10¹²-record corpus has
w = 10¹⁵, v² = tf²·10³⁰, and ~10³ distinct terms with tf ~10² keep
Σv² ≤ 10³⁷ < 10³⁸ — inside DECIMAL(38,0) at full target scale (the
oracle mirrors with HUGEINT).
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

#: weight quantization: w = (N * TFIDF_SCALE) DIV df. 10³ (not
#: weighted.py's 10⁶) so Σv² keeps DECIMAL(38,0) headroom at 10¹²
#: records — the module docstring carries the arithmetic.
TFIDF_SCALE = 1_000

_DEC = "DECIMAL(38,0)"

#: the adaptive exact-integer dot runs in primitive BIGINT while
#: max(mass) over both record frames stays below this bound, else in
#: DECIMAL(38,0). Every partial sum and every product is bounded by
#: dot <= sqrt(mass_x * mass_y) <= max(mass) (Cauchy-Schwarz; all
#: terms non-negative, so partial sums are monotone below the final
#: dot), so under 2^62 the BIGINT aggregate cannot wrap — measured far
#: cheaper per pair than the Decimal fallback (object arithmetic +
#: per-op scale checks), and bit-identical: both forms are exact
#: integers and the final CAST(x AS DOUBLE) is correctly rounded from
#: either type. Corpora whose weights outgrow the bound (the
#: 10^12-record headroom case in the module docstring) keep DECIMAL.
BIGINT_DOT_BOUND = 1 << 62


def _rec_frame(bag_df: DataFrame, wtab: DataFrame, threshold: float,
               dampen: bool) -> DataFrame:
    """(id, tvs, tids, mass = ‖v‖², vmap tid→v, prefix) — the shared
    joins/core.weighted_records frame over this measure's term
    vectors, prefix fraction t² (module docstring). Undampened:
    ``v = tf·w`` BIGINT, norms exact in DECIMAL. Dampened:
    ``v = ln(tf+1)·w`` double, norms accumulated in ASCENDING-tid
    order over the sorted array — a DETERMINISTIC double summation
    (no groupBy-order wobble), which is what lets the oracle's
    round-before-filter margin be meaningful. Dampened records whose
    every token is corpus-ubiquitous (all ``ln(idf) = 0``) have a
    zero vector — no direction — and are dropped here."""
    v = (F.log(F.col("tf") + F.lit(1.0)) * F.col("w") if dampen
         else F.col("tf") * F.col("w"))
    rows = (
        bag_df.select("id", F.explode("toks").alias("token"))
        .groupBy("id", "token")
        .agg(F.count("*").alias("tf"))
        .join(wtab, "token")
        .select("id", "tid", v.alias("v"))
    )
    frac = threshold * threshold
    if dampen:
        rec = weighted_records(rows, frac, "CAST(0.0 AS DOUBLE)", "{a} + x * x")
        return rec.where(F.col("mass") > 0)
    return weighted_records(rows, frac, f"CAST(0 AS {_DEC})",
                            f"CAST({{a}} + CAST(x AS {_DEC}) * x AS {_DEC})")


def tfidf_join(
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
    dampen: bool = False,
) -> DataFrame:
    """-> (l_id, r_id, _sim_score) pairs with TF-IDF cosine >=
    ``threshold`` (module docstring carries the exact semantics).

    ``dampen=False`` (default): the exactly-reproducible integer-
    weight form (``v = tf · ((N·SCALE) DIV df)``, DECIMAL-exact
    sums). ``dampen=True``: py_stringmatching's default log form
    ``v = ln(tf+1) · ln(N/df)`` in doubles — every sum runs in the
    DETERMINISTIC ascending-tid order over sorted arrays (no
    aggregation-order wobble), but cross-engine ln() parity is not
    guaranteed, so oracle comparisons for the dampened form go
    through round-before-filter (the monge_elkan convention) rather
    than bit-equality. Dampened records whose every token is corpus-
    ubiquitous (``ln(idf) = 0`` throughout) have a zero vector and
    are skipped, as are token-less records (no direction — the
    weighted-join contract). On ``self_join`` only ``l_id < r_id``
    is emitted; document frequencies are computed over BOTH inputs
    for a two-table join (one shared weight space) and once for a
    self-join."""
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr,
                         r_join_attr, None, None)
    validate_threshold(threshold, "COSINE")
    cap = resolve_salt_cap(salt_cap)
    bag_tok = tokenizer.with_return_set(False)

    l_bag = token_side(l_df, l_key_attr, l_join_attr, bag_tok)
    r_bag = l_bag if self_join else token_side(r_df, r_key_attr, r_join_attr, bag_tok)

    # df over DISTINCT tokens per record (document frequency), shared
    # across both sides
    l_set = l_bag.select("id", F.array_distinct("toks").alias("toks"))
    corpus = [l_set] if self_join else [
        l_set, r_bag.select("id", F.array_distinct("toks").alias("toks"))]
    w = (
        # ln(N/df): double division FIRST, then one ln — the oracle
        # mirrors the op order (its ln may still differ by an ulp,
        # absorbed by round-before-filter)
        F.log(F.col("_n").cast("double") / F.col("cnt"))
        if dampen
        else F.expr(f"CAST((_n * {TFIDF_SCALE}) DIV cnt AS BIGINT)")
    )
    ranks, wtab = idf_weights(corpus, w)

    rec_l = track(_rec_frame(l_bag, wtab, threshold, dampen))
    rec_r = rec_l if self_join else track(
        _rec_frame(r_bag, wtab, threshold, dampen))

    # cosine is scale-invariant: no band, so the dense candidate set
    # is the plain (l<r) product
    cand = weighted_pairs(rec_l, rec_r, ranks, cap, self_join)

    lv = rec_l.select(*side_cols("l", "tids", "tvs", "vmap", "mass"))
    rv = rec_r.select(*side_cols("r", "tids", "vmap", "mass"))
    if dampen:
        # deterministic summation: array_intersect preserves l_tids'
        # ascending order, so the double adds run in a fixed order
        dot = F.expr(
            "aggregate(array_intersect(l_tids, r_tids), "
            "CAST(0.0 AS DOUBLE), "
            "(a, t) -> a + l_vmap[t] * r_vmap[t])"
        )
    else:
        # adaptive exact-integer dot (BIGINT_DOT_BOUND carries the
        # rationale)
        max_mass = rec_l.agg(F.max("mass")).first()[0]
        if not self_join:
            max_r = rec_r.agg(F.max("mass")).first()[0]
            max_mass = max(max_mass or 0, max_r or 0)
        if max_mass is not None and int(max_mass) < BIGINT_DOT_BOUND:
            # iterate the LEFT record's pre-zipped (tid, v) structs
            # with ONE r-side map lookup per token, instead of
            # array_intersect (hash-set build over both arrays) plus
            # TWO linear map lookups per common token — measured ~2x
            # cheaper per pair. Absent tids make the product NULL ->
            # coalesce 0. Identical result: integer addition commutes,
            # so the changed iteration order cannot move the exact sum.
            dot = F.expr(
                "CAST(aggregate(l_tvs, CAST(0 AS BIGINT), "
                "(a, x) -> a + coalesce(x.v * r_vmap[x.tid], CAST(0 AS BIGINT))"
                ") AS DOUBLE)"
            )
        else:
            dot = F.expr(
                "CAST(aggregate(array_intersect(l_tids, r_tids), "
                f"CAST(0 AS {_DEC}), "
                f"(a, t) -> CAST(a + CAST(l_vmap[t] AS {_DEC}) * r_vmap[t] AS {_DEC})"
                ") AS DOUBLE)"
            )
    # op order mirrored EXACTLY in the SQL oracle: double(dot) /
    # (sqrt(double(l_mass)) * sqrt(double(r_mass)))
    sim = dot / (
        F.sqrt(F.col("l_mass").cast("double")) * F.sqrt(F.col("r_mass").cast("double"))
    )
    verified = (
        cand.join(lv, "l_id")
        .join(rv, "r_id")
        .withColumn("_sim_score", sim)
        .where(F.col("_sim_score") >= threshold)
    )
    return verified.select("l_id", "r_id", "_sim_score")
