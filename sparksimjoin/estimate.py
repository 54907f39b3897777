"""Pre-flight candidate-cost estimation for prefix-filtered joins.

At 100 TB the question a user must answer BEFORE launching a
1000-executor join is "how many candidate pairs will the blocking
stage emit, and is there a token hot enough to serialize it?". Both
are exactly computable at LINEAR cost (two scans + one token-level
aggregation — the same work as building the join's frequency table)
because the occurrence-mode candidate stream is, by construction,

    sum over tokens t of  pdf_l(t) * pdf_r(t)        (R x S)
    sum over tokens t of  C(pdf(t), 2)               (self-join)

where pdf(t) = number of records whose PREFIX contains t. The
quadratic blow-up is therefore predictable without paying it — run
the estimator, read ``est_candidates`` and ``max_token_candidates``,
and size (or re-threshold) the real job accordingly.

The reference package has no analogue ([R] upstream exposes only
``profile_table_for_join``, which reports uniqueness/missing stats);
this is the scale-side complement: the same numbers the join's OWN
planner acts on (AUTO_SALT_CAP hot-token splitting), surfaced to the
user as a one-row frame.

Definitions shared with the join (joins/core.py):
- prefix membership: first ``prefix_length(sz)`` tokens in global
  (doc-frequency asc, token asc) order — identical to
  ``prefix_explode`` over ``prepare_sides`` output, and to every
  hash-green prefix oracle's ``rn <= plen`` CTE.
- ``est_candidates`` counts occurrence-mode MEETINGS before the
  dedup pre-pass, position bound, and verification — i.e. the upper
  bound of the candidate shuffle, which is what capacity planning
  needs. The accumulated-bound / dedup passes only shrink it.
- ``hot_tokens``: prefix tokens whose per-side prefix posting list
  (pdf, the larger side's for R x S) exceeds ``salt_cap`` (default
  AUTO_SALT_CAP) — the tokens whose meetings concentrate in one join
  cell. It is not the join's salt list: the join salts tokens by
  GLOBAL document frequency over both inputs (``build_salt_map`` on
  the rank table's ``cnt``), which counts every record holding the
  token, not only those holding it in their prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .filter_math import EDIT_DISTANCE
from .joins.core import (
    AUTO_SALT_CAP,
    check_stop_token_cap,
    prefix_explode,
    prepare_sides,
)
from .tokenizers import Tokenizer
from .validation import validate_join_inputs, validate_threshold


def estimate_join_cost(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    measure: str,
    threshold: float,
    qval: int = 2,
    self_join: bool = False,
    salt_cap: int = AUTO_SALT_CAP,
    stop_token_cap: int | None = None,
) -> DataFrame:
    """One-row frame of exact blocking-cost predictors for a
    prefix-filtered set-similarity join (JACCARD / COSINE / DICE /
    OVERLAP / OVERLAP_COEFFICIENT) at ``threshold``:

    - ``n_left`` / ``n_right``: joinable (non-null attr) records,
    - ``distinct_tokens``: global vocabulary size,
    - ``prefix_postings``: rows the candidate stage will explode
      (its shuffle volume; left+right, counted once for self-join),
    - ``est_candidates``: exact occurrence-mode candidate meetings
      the blocking stage emits (pre-dedup/bound upper bound),
    - ``max_token_candidates``: the largest single token's meetings
      — the stage's serialization risk if unsalted,
    - ``hot_tokens``: prefix tokens with pdf > ``salt_cap`` (per-side
      prefix posting lists; the join itself salts by global document
      frequency, module docstring).

    Linear cost: no pair is ever materialized. EDIT_DISTANCE is
    rejected (its blocking is band-structured, not df-structured).

    ``stop_token_cap`` (the cap-vs-recall pre-flight, most relevant
    for OVERLAP_COEFFICIENT's full-token blocking): when set, five
    advisory columns are APPENDED — the base seven keep their exact
    meaning and order, so cap-free callers/oracles are untouched:

    - ``stop_token_cap``: the proposed cap, echoed,
    - ``capped_tokens``: tokens the join would exclude from blocking
      keys (document frequency > cap — the join's own stop-list
      definition, joins/core.exclude_stop_tokens),
    - ``est_candidates_capped``: exact candidate meetings AFTER the
      cap — ``est_candidates - est_candidates_capped`` is the exact
      volume reduction the cap buys,
    - ``lost_pairs_ub``: sound upper bound on RESULT pairs the cap
      can lose, the LEAST of two bounds that both hold: (a) the
      volume reduction itself — every lost pair's shared prefix
      tokens are all capped, so it contributes >= 1 meeting to the
      capped tokens' total; (b) pairs among records carrying at
      least one capped prefix token — a lost pair needs a capped
      token on BOTH endpoints. (b) is dramatically tighter when the
      cap hits a few ubiquitous boilerplate tokens spread across
      few records; (a) is tighter when capped tokens concentrate in
      many records,
    - ``blind_records``: records whose EVERY prefix token is capped —
      these can never appear in any candidate and lose ALL their
      pairs; nonzero here means the cap is not merely trimming a hot
      head but silencing whole records (left + right for R x S,
      counted once for self-join).

    Workflow (README "sizing an overlap-coefficient join"): run once
    with the proposed cap, accept it only if ``blind_records`` == 0
    and ``lost_pairs_ub`` is an acceptable fraction of
    ``est_candidates``; otherwise raise the cap and re-run — still
    linear each time.
    """
    if measure == EDIT_DISTANCE:
        raise ValueError(
            "estimate_join_cost covers set-similarity prefix blocking; "
            "EDIT_DISTANCE candidates are size-band-structured"
        )
    # the joins and the linkage drivers reject the same caps, so the
    # advisory never prices a configuration no join can run
    check_stop_token_cap(stop_token_cap)
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr)
    validate_threshold(threshold, measure)
    tokenizer = tokenizer.with_return_set(True)
    prep_l, prep_r, ranks = prepare_sides(
        l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
        tokenizer, persist=False,
    )
    pl = prefix_explode(prep_l, "l", measure, threshold, qval)
    pdf_l = pl.groupBy("token").agg(F.count("*").alias("c_l"))
    if self_join:
        # exact integer math (DIV): c*(c-1)/2 through doubles loses
        # exactness past 2^53 meetings, well inside 100 TB territory
        per_tok = pdf_l.select(
            "token",
            F.expr("CAST(c_l AS BIGINT) * (c_l - 1) DIV 2").alias("meet"),
            F.col("c_l").alias("pdf_max"),
        )
        postings = pl.select(F.count("*").alias("prefix_postings"))
    else:
        pr = prefix_explode(prep_r, "r", measure, threshold, qval)
        pdf_r = pr.groupBy("token").agg(F.count("*").alias("c_r"))
        per_tok = pdf_l.join(pdf_r, "token").select(
            "token",
            (F.col("c_l").cast("long") * F.col("c_r")).alias("meet"),
            F.greatest("c_l", "c_r").alias("pdf_max"),
        )
        postings = (
            pl.select("token").unionAll(pr.select("token"))
            .select(F.count("*").alias("prefix_postings"))
        )
    agg = per_tok.agg(
        F.coalesce(F.sum("meet"), F.lit(0)).alias("est_candidates"),
        F.coalesce(F.max("meet"), F.lit(0)).alias("max_token_candidates"),
        F.coalesce(
            F.sum((F.col("pdf_max") > salt_cap).cast("long")), F.lit(0)
        ).alias("hot_tokens"),
    )
    n_l = prep_l.select(F.count("*").alias("n_left"))
    n_r = (
        n_l.select(F.col("n_left").alias("n_right"))
        if prep_r is prep_l
        else prep_r.select(F.count("*").alias("n_right"))
    )
    vocab = ranks.select(F.count("*").alias("distinct_tokens"))
    base_cols = [
        "n_left", "n_right", "distinct_tokens", "prefix_postings",
        "est_candidates", "max_token_candidates", "hot_tokens",
    ]
    out = (
        n_l.crossJoin(n_r)
        .crossJoin(vocab)
        .crossJoin(postings)
        .crossJoin(agg)
    )
    if stop_token_cap is None:
        return out.select(*base_cols)

    # ---- cap advisory (docstring): all still token-level linear ----
    # the join's own stop-list definition (joins/core.exclude_stop_tokens):
    # GLOBAL document frequency (ranks.cnt) above the cap
    stop = ranks.where(F.col("cnt") > stop_token_cap).select(
        F.col("tid").alias("token")
    )
    n_stop = stop.select(F.count("*").alias("capped_tokens"))
    surv_agg = per_tok.join(stop, "token", "left_anti").agg(
        F.coalesce(F.sum("meet"), F.lit(0)).alias("est_candidates_capped")
    )
    flagged = stop.withColumn("__stop", F.lit(True))

    def _rec_stats(px: DataFrame, side: str, w_col: str, b_col: str):
        # per record: does ANY / does EVERY prefix token hit the cap
        return (
            px.join(flagged, "token", "left")
            .groupBy(f"{side}_id")
            .agg(
                F.count(F.lit(1)).alias("__tot"),
                F.coalesce(
                    F.sum(F.col("__stop").cast("long")), F.lit(0)
                ).alias("__cap"),
            )
            .agg(
                F.coalesce(
                    F.sum((F.col("__cap") > 0).cast("long")), F.lit(0)
                ).alias(w_col),
                F.coalesce(
                    F.sum((F.col("__cap") == F.col("__tot")).cast("long")),
                    F.lit(0),
                ).alias(b_col),
            )
        )

    if self_join:
        rec = _rec_stats(pl, "l", "w_l", "blind_l")
        pair_bound = F.expr("CAST(w_l AS BIGINT) * (w_l - 1) DIV 2")
        blind = F.col("blind_l")
    else:
        rec = _rec_stats(pl, "l", "w_l", "blind_l").crossJoin(
            _rec_stats(pr, "r", "w_r", "blind_r")
        )
        pair_bound = F.col("w_l").cast("long") * F.col("w_r")
        blind = (F.col("blind_l") + F.col("blind_r")).cast("long")
    return (
        out.crossJoin(n_stop).crossJoin(surv_agg).crossJoin(rec)
        .select(
            *base_cols,
            F.lit(int(stop_token_cap)).cast("long").alias("stop_token_cap"),
            "capped_tokens",
            "est_candidates_capped",
            F.least(
                F.col("est_candidates") - F.col("est_candidates_capped"),
                pair_bound,
            ).cast("long").alias("lost_pairs_ub"),
            blind.alias("blind_records"),
        )
    )


def estimate_hybrid_join_cost(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    inner: str = "JARO_WINKLER",
    self_join: bool = False,
) -> DataFrame:
    """Pre-flight predictors for the hybrid joins (monge_elkan_join /
    generalized_jaccard_join / soft_tfidf_join — ``inner`` =
    'JARO_WINKLER' for ME/soft-TF-IDF at their threshold/theta,
    'JARO' for GJ): one row of

    - ``n_left`` / ``n_right``: joinable (non-null attr) records,
    - ``vocab_left`` / ``vocab_right``: distinct-token vocabulary
      sizes (what the inner-measure join actually scales with),
    - ``token_pairs``: inner-measure survivor token pairs — the
      vocabulary join's output (ordered pairs, diagonal included:
      exactly the frame the expansion joins consume),
    - ``est_candidates``: exact candidate MEETINGS the expansion
      emits, Σ over surviving (a, b) of df(a)·df(b) — the shuffle
      volume BEFORE the distinct/canonical-orientation filter (what
      capacity planning needs; dedup only shrinks it),
    - ``max_pair_candidates``: the largest single token pair's
      meetings — the expansion's serialization risk (AQE skew-split
      territory).

    Cost: the vocabulary join (corpus-sublinear) plus linear token
    aggregation — no record pair is ever materialized. The same
    soundness floors as the joins apply (raised by the inner join)."""
    from .joins.jaro import jaro_join, jaro_winkler_join
    from .joins.monge_elkan import token_pair_candidates

    inner = inner.upper()
    if inner not in ("JARO", "JARO_WINKLER"):
        raise ValueError(f"inner must be 'JARO' or 'JARO_WINKLER', got {inner!r}")
    vocab_join = jaro_winkler_join if inner == "JARO_WINKLER" else jaro_join
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr,
                         l_join_attr, r_join_attr)
    tok = tokenizer.with_return_set(True)

    def side(df, key, attr):
        return (df.where(F.col(attr).isNotNull())
                  .select(F.col(key).alias("__k"),
                          tok.spark_expr(F.col(attr)).alias("__toks")))

    l_side = side(l_df, l_key_attr, l_join_attr)
    l_ex = l_side.select("__k", F.explode("__toks").alias("__tok"))
    if self_join:
        r_side, r_ex = l_side, l_ex
    else:
        r_side = side(r_df, r_key_attr, r_join_attr)
        r_ex = r_side.select("__k", F.explode("__toks").alias("__tok"))

    df_l = l_ex.groupBy("__tok").agg(F.count("*").alias("c_l"))
    df_r = (df_l.select("__tok", F.col("c_l").alias("c_r")) if self_join
            else r_ex.groupBy("__tok").agg(F.count("*").alias("c_r")))
    tp = token_pair_candidates(l_ex, r_ex, vocab_join, threshold)
    per_pair = (tp.join(df_l.withColumnRenamed("__tok", "__lt"), "__lt")
                  .join(df_r.withColumnRenamed("__tok", "__rt"), "__rt")
                  .select((F.col("c_l").cast("bigint") * F.col("c_r"))
                          .alias("meet")))
    agg = per_pair.agg(
        F.count("*").alias("token_pairs"),
        F.coalesce(F.sum("meet"), F.lit(0)).alias("est_candidates"),
        F.coalesce(F.max("meet"), F.lit(0)).alias("max_pair_candidates"),
    )
    n_l = l_side.select(F.count("*").alias("n_left"))
    n_r = (n_l.select(F.col("n_left").alias("n_right")) if self_join
           else r_side.select(F.count("*").alias("n_right")))
    v_l = df_l.select(F.count("*").alias("vocab_left"))
    v_r = (v_l.select(F.col("vocab_left").alias("vocab_right")) if self_join
           else df_r.select(F.count("*").alias("vocab_right")))
    return (n_l.crossJoin(n_r).crossJoin(v_l).crossJoin(v_r).crossJoin(agg)
            .select("n_left", "n_right", "vocab_left", "vocab_right",
                    "token_pairs", "est_candidates", "max_pair_candidates"))
