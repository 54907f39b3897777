"""Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995).

The third classic blocking family next to token blocking (joins/core)
and hash/LSH buckets (dedup.py): sort all records by a domain sort key
and emit every pair within a sliding window of ``w`` consecutive
records — candidate volume is EXACTLY ``n*(w-1) - C(w,2)`` -ish
(linear in n), independent of key-frequency skew, which makes SNM the
standard fallback for attributes whose token distributions defeat
prefix filtering. Recall depends on the sort key design; run several
passes with different keys and union (multi-pass SNM) for robustness.

Distributed design — the textbook algorithm is a GLOBAL SORT plus a
sequential window scan, both hostile at 10^12 rows. Here:

- the global rank is computed with the same order-consistent
  prefix-bucket + histogram-offset scheme as the token rank
  (joins/core.dense_rank_tids and its determinism/skew rationale):
  rows are bucketed by a character prefix of the sort key (any prefix
  is order-consistent), ranked within (bucket) by (key, id) via a
  bounded window, and offset by the cumulated bucket histogram — the
  only global step is a cumulative sum over the tiny histogram, and
  the rank is a DETERMINISTIC function of the data;
- the sequential window scan becomes an equi-join: with
  ``b = w - 1``, a row at rank r lives in block ``g = r div b``; any
  pair within rank distance <= b spans at most adjacent blocks, so the
  left side exploded to blocks {g, g+1} equi-joined against the right
  side's block, with the exact ``1 <= r_r - r_l <= b`` residual,
  reproduces the window pairs with no global scan. Each qualifying
  pair meets exactly once (the left row's two exploded blocks are
  distinct, the right row has one block).

Pairs are oriented by rank (l = lower rank); callers score them with
``apply_matcher``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# prefix length for the order-consistent rank buckets (see
# joins/core.RANK_PREFIX_LEN for the identical trade-off)
SNM_PREFIX_LEN = 3


def global_rank(df: DataFrame, sort_attr: str, id_attr: str) -> DataFrame:
    """Attach ``_rank``: the deterministic 0-based global dense rank in
    (sort_attr, id_attr) order. ``sort_attr`` must be a STRING column —
    the bucketing uses a character prefix, which is order-consistent
    for strings but NOT for stringified numbers ('10' < '9'); cast
    numeric keys to fixed-width (lpad) upstream. Null sort keys rank
    first (Spark and the SQL oracle both sort nulls first ascending).
    """
    if not isinstance(df.schema[sort_attr].dataType, T.StringType):
        raise ValueError(
            f"sort_attr {sort_attr!r} must be string-typed (prefix bucketing is "
            "only order-consistent for strings; lpad numeric keys upstream)"
        )
    from pyspark.sql import Window

    # null-safe bucket: a bare null prefix would fall out of the
    # histogram equi-join (null != null); the struct's leading 0/1
    # flag keeps the null bucket joinable AND sorted first
    pb = F.struct(
        F.when(F.col(sort_attr).isNull(), F.lit(0)).otherwise(F.lit(1)).alias("nn"),
        F.coalesce(
            F.substring(F.col(sort_attr), 1, SNM_PREFIX_LEN), F.lit("")
        ).alias("p"),
    )
    src = df.withColumn("_pb", pb)
    hist = src.groupBy("_pb").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_pb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = hist.select(
        "_pb", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w_rn = Window.partitionBy("_pb").orderBy(sort_attr, id_attr)
    return (
        src.join(offsets, "_pb")
        .withColumn("_rank", F.col("_off") + F.row_number().over(w_rn) - 1)
        .drop("_pb", "_off")
    )


def sorted_neighborhood_candidates(
    df: DataFrame,
    key_attr: str,
    sort_attr: str,
    window: int,
) -> DataFrame:
    """Single-pass SNM candidates -> (l_id, r_id, l_rank, r_rank), one
    row per pair of records within ``window`` consecutive positions of
    the sort order (rank distance <= window - 1), oriented by rank.
    Null sort keys participate (they sort together at the front) —
    pre-filter if that is not wanted."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    b = window - 1
    ranked = global_rank(
        df.select(F.col(key_attr).alias("__id"), F.col(sort_attr).alias("__sk")),
        "__sk", "__id",
    ).select("__id", "_rank")
    left = ranked.select(
        F.col("__id").alias("l_id"),
        F.col("_rank").alias("l_rank"),
        F.explode(
            F.array(
                (F.col("_rank") / b).cast("long"),
                (F.col("_rank") / b).cast("long") + 1,
            )
        ).alias("__g"),
    )
    right = ranked.select(
        F.col("__id").alias("r_id"),
        F.col("_rank").alias("r_rank"),
        (F.col("_rank") / b).cast("long").alias("__g"),
    )
    return (
        left.join(right, "__g")
        .where(
            (F.col("r_rank") - F.col("l_rank") >= 1)
            & (F.col("r_rank") - F.col("l_rank") <= b)
        )
        .select("l_id", "r_id", "l_rank", "r_rank")
    )


# American Soundex (NARA variant, incl. the H/W rule), spelled ONLY in
# portable primitives (translate / per-digit regexp runs / substring)
# so the DuckDB oracle replicates the identical steps — DuckDB's RE2
# has no backreferences, hence per-digit run collapsing instead of
# ([0-6])\1+. H and W sit at the END of the translate source with no
# replacement, which DELETES them (Postgres translate semantics, same
# in Spark and DuckDB) BEFORE collapsing — that is exactly the H/W
# rule: same-digit consonants separated by h/w code once, separated by
# vowels (-> '0', removed only AFTER collapsing) code twice.
SOUNDEX_TR_FROM = "BFPVCGJKQSXZDTLMNRAEIOUYHW"
SOUNDEX_TR_TO = "111122222222334556000000"


def soundex_expr(col: Column) -> Column:
    """American Soundex code (4 chars, e.g. 'R163'; '' for inputs with
    no letters, null for null). Verified against the NARA reference
    values (Robert/Rupert R163, Ashcraft A261, Tymczak T522, Pfister
    P236, Honeyman H555) and a randomized Python twin
    (tests/test_blocking.py)."""
    u = F.upper(F.regexp_replace(col, "[^A-Za-z]", ""))
    first = F.substring(u, 1, 1)
    d = F.translate(u, SOUNDEX_TR_FROM, SOUNDEX_TR_TO)
    for dgt in "123456":
        d = F.regexp_replace(d, f"{dgt}+", dgt)
    body = F.when(first.isin("H", "W"), d).otherwise(d.substr(F.lit(2), F.length(d)))
    body = F.translate(body, "0", "")
    return F.when(u == "", F.lit("")).otherwise(
        F.substring(F.concat(first, body, F.lit("000")), 1, 4)
    )


def soundex_py(s: str) -> str:
    """Python twin of :func:`soundex_expr` (identical NARA-variant
    steps) — backs the :class:`sparksimjoin.simfunctions.Soundex`
    measure callable."""
    u = "".join(ch for ch in s.upper() if "A" <= ch <= "Z")
    if not u:
        return ""
    tr = {c: d for c, d in zip(SOUNDEX_TR_FROM, SOUNDEX_TR_TO)}
    d = "".join(tr.get(ch, "") for ch in u)  # H/W have no mapping: deleted
    collapsed = []
    for ch in d:
        if collapsed and ch == collapsed[-1] and ch != "0":
            continue
        collapsed.append(ch)
    body = "".join(collapsed)
    if u[0] not in "HW":
        body = body[1:]
    body = body.replace("0", "")
    return (u[0] + body + "000")[:4]


#: NYSIIS scan vowels (position >= 2 vowels all map to 'A')
_NYSIIS_VOWELS = "AEIOU"


def nysiis_py(s: str, max_len: int | None = None) -> str:
    """Classic NYSIIS phonetic code (Taft 1970, the New York State
    Identification and Intelligence System), as a plain-Python kernel
    — the second ``phonetic_candidates`` encoding. Rule set
    implemented (checked against the commonly cited values MACINTOSH
    -> MCANT, KNIGHT -> NAGT, BESSEY -> BASY, MACDONALD -> MCDANALD,
    AARON -> ARAN):

    1. keep letters only, uppercase; empty -> ''.
    2. prefix transcodes: MAC->MCC, KN->NN, K->C, PH->FF, PF->FF,
       SCH->SSS; suffix transcodes: EE->Y, IE->Y, and
       DT/RT/RD/NT/ND->D.
    3. key starts with the (transcoded) first char; scan positions
       2..n with: EV->AF else vowels->A; Q->G, Z->S, M->N; KN->N else
       K->C; SCH->SSS, PH->FF; H is DROPPED when the previous or next
       original char is a non-vowel (kept between vowels); W after a
       vowel is DROPPED. Append each produced char only if it differs
       from the key's last char (run collapsing).
    4. trailing S dropped (len>1), trailing AY -> Y, trailing A
       dropped (len>1).
    5. ``max_len`` truncates the key (the original system stored the
       full key; pass 6 for the truncated variant some deployments
       use). Default: no truncation.
    """
    u = "".join(ch for ch in s.upper() if "A" <= ch <= "Z")
    if not u:
        return ""
    for pre, rep in (("MAC", "MCC"), ("KN", "NN"), ("K", "C"),
                     ("PH", "FF"), ("PF", "FF"), ("SCH", "SSS")):
        if u.startswith(pre):
            u = rep + u[len(pre):]
            break
    for suf, rep in (("EE", "Y"), ("IE", "Y"), ("DT", "D"), ("RT", "D"),
                     ("RD", "D"), ("NT", "D"), ("ND", "D")):
        if u.endswith(suf):
            u = u[: -len(suf)] + rep
            break
    key = [u[0]]
    i = 1
    n = len(u)
    while i < n:
        two, three = u[i:i + 2], u[i:i + 3]
        step = 1
        if two == "EV":
            repl = "AF"
            step = 2
        elif u[i] in _NYSIIS_VOWELS:
            repl = "A"
        elif u[i] == "Q":
            repl = "G"
        elif u[i] == "Z":
            repl = "S"
        elif u[i] == "M":
            repl = "N"
        elif two == "KN":
            repl = "N"
            step = 2
        elif u[i] == "K":
            repl = "C"
        elif three == "SCH":
            repl = "SSS"
            step = 3
        elif two == "PH":
            repl = "FF"
            step = 2
        elif u[i] == "H" and (
            u[i - 1] not in _NYSIIS_VOWELS
            or (i + 1 < n and u[i + 1] not in _NYSIIS_VOWELS)
        ):
            repl = ""  # silent H: dropped
        elif u[i] == "W" and u[i - 1] in _NYSIIS_VOWELS:
            repl = ""  # W after vowel: dropped
        else:
            repl = u[i]
        for ch in repl:
            if ch != key[-1]:
                key.append(ch)
        i += step
    if len(key) > 1 and key[-1] == "S":
        key.pop()
    if len(key) >= 2 and key[-2] == "A" and key[-1] == "Y":
        key[-2:] = ["Y"]
    if len(key) > 1 and key[-1] == "A":
        key.pop()
    out = "".join(key)
    return out[:max_len] if max_len else out


def _nysiis_udf():
    @F.pandas_udf(T.StringType())
    def udf(ss: pd.Series) -> pd.Series:
        return pd.Series(
            [None if s is None else nysiis_py(s) for s in ss], dtype="object"
        )

    return udf


def phonetic_candidates(
    df: DataFrame,
    key_attr: str,
    attr: str,
    salt_cap: int | None = None,
    encoding: str = "soundex",
) -> DataFrame:
    """Phonetic blocking: candidates = all pairs sharing the phonetic
    code of ``attr`` -> (l_id, r_id, <encoding>), l_id < r_id.
    Null/letterless values never block (their code is null/'').
    ``encoding``: ``'soundex'`` (pure Column expression, SQL-oracle
    replicable) or ``'nysiis'`` (Arrow-batched Python kernel — finer
    buckets, better suited to full surnames; pytest-verified, no SQL
    twin exists for its iterative rewriting).

    Phonetic buckets are COARSE by construction, so per-bucket pair
    volume is quadratic in bucket size — that is the scheme's
    semantics (the bucket pairs ARE the candidates); the mandatory
    hot-code salt splits big buckets across tasks for parallelism.
    Score the output with ``apply_matcher``."""
    from .joins.core import build_salt_map, meeting_join, resolve_salt_cap

    if encoding == "soundex":
        code = soundex_expr(F.col(attr))
    elif encoding == "nysiis":
        code = _nysiis_udf()(F.col(attr))
    else:
        raise ValueError(
            f"encoding must be 'soundex' or 'nysiis', got {encoding!r}")
    coded = df.where(F.col(attr).isNotNull()).select(
        F.col(key_attr).alias("__id"), code.alias("token")
    ).where(F.col("token") != "")
    freq = coded.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    salt_map = build_salt_map(freq, resolve_salt_cap(salt_cap), key_col="token")
    ex_l = coded.select(F.col("__id").alias("l_id"), "token")
    ex_r = coded.select(F.col("__id").alias("r_id"), "token")
    return (
        meeting_join(ex_l, ex_r, salt_map)
        .where(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id", F.col("token").alias(encoding))
    )


def multi_pass_snm(
    df: DataFrame,
    key_attr: str,
    sort_attrs: list[str],
    window: int,
) -> DataFrame:
    """Multi-pass SNM: union of single-pass candidates over several
    sort keys, deduplicated on the CANONICAL pair (classic recall
    booster — each pass covers the misses of the others). ->
    (l_id, r_id), least/greatest-oriented (per-pass ranks are
    incomparable across passes, so they are dropped)."""
    from functools import reduce

    if not sort_attrs:
        raise ValueError("sort_attrs must be non-empty")
    passes = [
        sorted_neighborhood_candidates(df, key_attr, sk, window).select(
            F.least("l_id", "r_id").alias("l_id"),
            F.greatest("l_id", "r_id").alias("r_id"),
        )
        for sk in sort_attrs
    ]
    return reduce(DataFrame.unionAll, passes).distinct()
