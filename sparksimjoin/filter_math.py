"""Prefix/size/overlap filter mathematics (SURVEY.md §2.3).

Formulas follow the published prefix-filtering literature the
reference implements (Gravano VLDB'01 count/position filters; SSJoin
ICDE'06 prefix filter; PPJoin WWW'08 position filter), matching
``[R] py_stringsimjoin/filter/filter_utils.py::get_prefix_length /
get_size_lower_bound / get_size_upper_bound / get_overlap_threshold``.

Every function has a plain-Python form (naive oracle, filter_pair)
and a Spark ``Column`` form (pure expressions -> whole-stage codegen).
All bound ceilings/floors are GUARDED (see GUARD_EPS below) so float
rounding can never tighten a bound past its mathematical value, and
the Python, Column, and DuckDB-oracle forms share the exact guard —
boundary behavior stays bit-identical across all three.

OVERLAP_COEFFICIENT admits no record-local prefix/size bound without
knowing the partner's size (a tiny set contained in a huge one has
coefficient 1.0), so its joins use full-token blocking; its pairwise
required-overlap bound ceil(t*min(s1,s2)) is still provided.
"""

from __future__ import annotations

import math
from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

JACCARD = "JACCARD"
COSINE = "COSINE"
DICE = "DICE"
OVERLAP = "OVERLAP"
OVERLAP_COEFFICIENT = "OVERLAP_COEFFICIENT"
EDIT_DISTANCE = "EDIT_DISTANCE"
# JARO_CHAR is the blocking-side reduction of a Jaro/Jaro-Winkler
# predicate to character-multiset overlap (joins/jaro.py derives it):
# jw >= t implies char-bag overlap m >= c * max(l1, l2) with
# c = 3*j_min - 2; the *filter* threshold passed through these
# formulas is c, NOT the user's similarity threshold. Verification is
# the exact string kernel (simfunctions.py), never sim_expr.
JARO_CHAR = "JARO_CHAR"

SET_SIM_MEASURES = (JACCARD, COSINE, DICE, OVERLAP, OVERLAP_COEFFICIENT)

_BIG = 2**62  # stand-in for "no upper bound"

# Filter bounds use float products whose rounding error can cross an
# integer boundary UPWARD — e.g. (0.4/1.4)*7 floats to 2.0000000000000004,
# whose bare ceil (3) demands more overlap than J>=0.4 mathematically
# requires and silently drops true boundary pairs (found by the
# randomized dedup-equivalence property test). Every ceiling on a
# LOWER bound therefore subtracts, and every floor on an UPPER bound
# adds, a relative guard of 1e-12*max(|x|,1): ~4 orders of magnitude
# above the worst accumulated ulp error of these 2-4-op expressions
# and ~9 below any legitimate spacing of the inputs, so the guarded
# form computes the exact mathematical bound. Guards only LOOSEN the
# filters; exact verification absorbs the (rare) extra candidate. The
# DuckDB oracles replicating bounds apply the identical guard.
GUARD_EPS = 1e-12


def guarded_ceil_py(x: float) -> int:
    return int(math.ceil(x - GUARD_EPS * max(abs(x), 1.0)))


def guarded_floor_py(x: float) -> int:
    return int(math.floor(x + GUARD_EPS * max(abs(x), 1.0)))


def guarded_ceil_expr(x: Column) -> Column:
    return F.ceil(x - F.greatest(F.abs(x), F.lit(1.0)) * F.lit(GUARD_EPS))


def guarded_floor_expr(x: Column) -> Column:
    return F.floor(x + F.greatest(F.abs(x), F.lit(1.0)) * F.lit(GUARD_EPS))


# ---------------------------------------------------------------- python
def prefix_length_py(num_tokens: int, measure: str, threshold: float, qval: int = 2) -> int:
    if num_tokens == 0:
        return 0
    if measure == JACCARD:
        p = num_tokens - guarded_ceil_py(threshold * num_tokens) + 1
    elif measure == COSINE:
        p = num_tokens - guarded_ceil_py(threshold * threshold * num_tokens) + 1
    elif measure == DICE:
        p = num_tokens - guarded_ceil_py((threshold / (2 - threshold)) * num_tokens) + 1
    elif measure == OVERLAP:
        p = num_tokens - int(threshold) + 1
    elif measure == OVERLAP_COEFFICIENT:
        p = num_tokens  # no record-local bound; block on all tokens
    elif measure == EDIT_DISTANCE:
        p = qval * int(threshold) + 1
    elif measure == JARO_CHAR:
        p = num_tokens - guarded_ceil_py(threshold * num_tokens) + 1
    else:
        raise ValueError(measure)
    return max(min(int(p), num_tokens), 0)


def size_lower_bound_py(num_tokens: int, measure: str, threshold: float) -> int:
    if measure == JACCARD:
        return guarded_ceil_py(threshold * num_tokens)
    if measure == COSINE:
        return guarded_ceil_py(threshold * threshold * num_tokens)
    if measure == DICE:
        return guarded_ceil_py((threshold / (2 - threshold)) * num_tokens)
    if measure == OVERLAP:
        return int(threshold)
    if measure == OVERLAP_COEFFICIENT:
        return 0
    if measure == EDIT_DISTANCE:
        return max(num_tokens - int(threshold), 0)
    if measure == JARO_CHAR:
        return guarded_ceil_py(threshold * num_tokens)
    raise ValueError(measure)


def size_upper_bound_py(num_tokens: int, measure: str, threshold: float) -> int:
    if measure == JACCARD:
        return guarded_floor_py(num_tokens / threshold) if threshold > 0 else _BIG
    if measure == COSINE:
        return guarded_floor_py(num_tokens / (threshold * threshold)) if threshold > 0 else _BIG
    if measure == DICE:
        return guarded_floor_py(((2 - threshold) / threshold) * num_tokens) if threshold > 0 else _BIG
    if measure in (OVERLAP, OVERLAP_COEFFICIENT):
        return _BIG
    if measure == EDIT_DISTANCE:
        return num_tokens + int(threshold)
    if measure == JARO_CHAR:
        return guarded_floor_py(num_tokens / threshold) if threshold > 0 else _BIG
    raise ValueError(measure)


def overlap_threshold_py(s1: int, s2: int, measure: str, threshold: float, qval: int = 2) -> float:
    """Minimum token overlap a qualifying pair must have."""
    if measure == JACCARD:
        return guarded_ceil_py((threshold / (1 + threshold)) * (s1 + s2))
    if measure == COSINE:
        return guarded_ceil_py(threshold * math.sqrt(s1 * s2))
    if measure == DICE:
        return guarded_ceil_py((threshold / 2) * (s1 + s2))
    if measure == OVERLAP:
        return threshold
    if measure == OVERLAP_COEFFICIENT:
        return guarded_ceil_py(threshold * min(s1, s2))
    if measure == EDIT_DISTANCE:
        return max(s1, s2) - qval * threshold
    if measure == JARO_CHAR:
        return guarded_ceil_py(threshold * max(s1, s2))
    raise ValueError(measure)


def sim_py(tokens1: list[str], tokens2: list[str], measure: str) -> float:
    """Exact set-similarity on token *sets* (python oracle path)."""
    a, b = set(tokens1), set(tokens2)
    o = len(a & b)
    s1, s2 = len(a), len(b)
    if measure == OVERLAP:
        return float(o)
    if s1 == 0 and s2 == 0:
        return 1.0
    if s1 == 0 or s2 == 0:
        return 0.0
    if measure == JACCARD:
        return o / (s1 + s2 - o)
    if measure == COSINE:
        return o / math.sqrt(s1 * s2)
    if measure == DICE:
        return 2 * o / (s1 + s2)
    if measure == OVERLAP_COEFFICIENT:
        return o / min(s1, s2)
    raise ValueError(measure)


# ---------------------------------------------------------------- spark
NumOrCol = Union[int, float, Column]


def prefix_length_expr(num_tokens: Column, measure: str, threshold: float, qval: int = 2) -> Column:
    n = num_tokens.cast("double")
    if measure == JACCARD:
        p = num_tokens - guarded_ceil_expr(F.lit(threshold) * n) + 1
    elif measure == COSINE:
        p = num_tokens - guarded_ceil_expr(F.lit(threshold * threshold) * n) + 1
    elif measure == DICE:
        p = num_tokens - guarded_ceil_expr(F.lit(threshold / (2 - threshold)) * n) + 1
    elif measure == OVERLAP:
        p = num_tokens - F.lit(int(threshold)) + 1
    elif measure == OVERLAP_COEFFICIENT:
        p = num_tokens
    elif measure == EDIT_DISTANCE:
        p = F.lit(qval * int(threshold) + 1)
    elif measure == JARO_CHAR:
        p = num_tokens - guarded_ceil_expr(F.lit(threshold) * n) + 1
    else:
        raise ValueError(measure)
    return F.greatest(F.least(p.cast("int"), num_tokens), F.lit(0))


def size_bounds_expr(num_tokens: Column, measure: str, threshold: float) -> tuple[Column, Column]:
    n = num_tokens.cast("double")
    if measure == JACCARD:
        lo = guarded_ceil_expr(F.lit(threshold) * n)
        hi = guarded_floor_expr(n / F.lit(threshold)) if threshold > 0 else F.lit(_BIG)
    elif measure == COSINE:
        lo = guarded_ceil_expr(F.lit(threshold * threshold) * n)
        hi = guarded_floor_expr(n / F.lit(threshold * threshold)) if threshold > 0 else F.lit(_BIG)
    elif measure == DICE:
        lo = guarded_ceil_expr(F.lit(threshold / (2 - threshold)) * n)
        hi = guarded_floor_expr(F.lit((2 - threshold) / threshold) * n) if threshold > 0 else F.lit(_BIG)
    elif measure == OVERLAP:
        lo, hi = F.lit(int(threshold)), F.lit(_BIG)
    elif measure == OVERLAP_COEFFICIENT:
        lo, hi = F.lit(0), F.lit(_BIG)
    elif measure == EDIT_DISTANCE:
        lo = F.greatest(num_tokens - F.lit(int(threshold)), F.lit(0))
        hi = num_tokens + F.lit(int(threshold))
    elif measure == JARO_CHAR:
        lo = guarded_ceil_expr(F.lit(threshold) * n)
        hi = guarded_floor_expr(n / F.lit(threshold)) if threshold > 0 else F.lit(_BIG)
    else:
        raise ValueError(measure)
    return lo.cast("long"), hi.cast("long")


def overlap_threshold_expr(s1: Column, s2: Column, measure: str, threshold: float, qval: int = 2) -> Column:
    d1, d2 = s1.cast("double"), s2.cast("double")
    if measure == JACCARD:
        return guarded_ceil_expr(F.lit(threshold / (1 + threshold)) * (d1 + d2)).cast("double")
    if measure == COSINE:
        return guarded_ceil_expr(F.lit(threshold) * F.sqrt(d1 * d2)).cast("double")
    if measure == DICE:
        return guarded_ceil_expr(F.lit(threshold / 2) * (d1 + d2)).cast("double")
    if measure == OVERLAP:
        return F.lit(float(threshold))
    if measure == OVERLAP_COEFFICIENT:
        return guarded_ceil_expr(F.lit(threshold) * F.least(d1, d2)).cast("double")
    if measure == EDIT_DISTANCE:
        return (F.greatest(d1, d2) - F.lit(float(qval) * threshold)).cast("double")
    if measure == JARO_CHAR:
        return guarded_ceil_expr(F.lit(threshold) * F.greatest(d1, d2)).cast("double")
    raise ValueError(measure)


def sim_expr(l_tokens: Column, r_tokens: Column, measure: str) -> Column:
    """Exact set similarity as a pure Column expression over two token
    arrays (any orderable element type; arrays must be duplicate-free).
    JVM-side — no Python in the verify hot path."""
    o = F.size(F.array_intersect(l_tokens, r_tokens)).cast("double")
    s1 = F.size(l_tokens).cast("double")
    s2 = F.size(r_tokens).cast("double")
    if measure == OVERLAP:
        return o
    both_empty = (s1 == 0) & (s2 == 0)
    either_empty = (s1 == 0) | (s2 == 0)
    if measure == JACCARD:
        core = o / (s1 + s2 - o)
    elif measure == COSINE:
        core = o / F.sqrt(s1 * s2)
    elif measure == DICE:
        core = F.lit(2.0) * o / (s1 + s2)
    elif measure == OVERLAP_COEFFICIENT:
        core = o / F.least(s1, s2)
    else:
        raise ValueError(measure)
    return F.when(both_empty, F.lit(1.0)).when(either_empty, F.lit(0.0)).otherwise(core)


def tversky_py(tokens1: list[str], tokens2: list[str], alpha: float, beta: float) -> float:
    """Tversky index on token *sets* (python oracle path):
    ``o / (o + alpha*(s1-o) + beta*(s2-o))``. alpha=beta=0.5 is Dice,
    alpha=beta=1 is Jaccard (py_stringmatching's TverskyIndex
    parameterization). Both empty -> 1.0; one empty -> 0.0."""
    a, b = set(tokens1), set(tokens2)
    o = len(a & b)
    s1, s2 = len(a), len(b)
    if s1 == 0 and s2 == 0:
        return 1.0
    if s1 == 0 or s2 == 0:
        return 0.0
    return o / (o + alpha * (s1 - o) + beta * (s2 - o))


def tversky_expr(l_tokens: Column, r_tokens: Column, alpha: float, beta: float) -> Column:
    """Tversky index as a pure Column expression over two
    duplicate-free token arrays (tversky_py's Spark twin — identical
    operation order so doubles reproduce bit-exactly)."""
    o = F.size(F.array_intersect(l_tokens, r_tokens)).cast("double")
    s1 = F.size(l_tokens).cast("double")
    s2 = F.size(r_tokens).cast("double")
    both_empty = (s1 == 0) & (s2 == 0)
    either_empty = (s1 == 0) | (s2 == 0)
    core = o / (o + F.lit(float(alpha)) * (s1 - o) + F.lit(float(beta)) * (s2 - o))
    return F.when(both_empty, F.lit(1.0)).when(either_empty, F.lit(0.0)).otherwise(core)


def tversky_dice_block_threshold(threshold: float, alpha: float, beta: float) -> float:
    """The DICE blocking threshold t' that is SOUND for a Tversky
    join at ``threshold``: with c = min(alpha, beta),

        tversky_{a,b}(x,y) <= o / (o + c*(s1+s2-2o))   (residuals
        weighted by the smaller coefficient can only raise the score)

    and the right side >= t iff dice(x,y) >= t' with

        t' = 2tc / (1 - t + 2tc),

    so every pair with tversky >= t also has dice >= t' and the whole
    DICE prefix/size/position filter stack applies unchanged. TIGHT
    when alpha == beta (alpha=beta=1 reproduces the classic
    jaccard->dice threshold map 2t/(1+t)). The float rounding of t'
    itself (<= 1 ulp) is absorbed by filter_math's GUARD_EPS=1e-12
    relative guards on every derived bound."""
    assert alpha > 0 and beta > 0, (
        f"tversky blocking requires alpha > 0 and beta > 0 (got {alpha}, {beta}): "
        "with a zero coefficient one side's residual is free and no "
        "record-local prefix bound exists (use apply_matcher over a "
        "custom candset instead)"
    )
    c = min(alpha, beta)
    return (2.0 * threshold * c) / (1.0 - threshold + 2.0 * threshold * c)


COMP_OP_MAP = {
    ">=": lambda c, t: c >= t,
    ">": lambda c, t: c > t,
    "<=": lambda c, t: c <= t,
    "<": lambda c, t: c < t,
    "=": lambda c, t: c == t,
    "!=": lambda c, t: c != t,
}

COMP_OP_PY = {
    ">=": lambda a, b: a >= b,
    ">": lambda a, b: a > b,
    "<=": lambda a, b: a <= b,
    "<": lambda a, b: a < b,
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
}
