"""SuffixFilter (``[R] py_stringsimjoin/filter/suffix_filter.py``;
SURVEY.md §2.1 #11) — PPJoin+-style suffix Hamming-bound pruning
(Xiao et al., WWW 2008).

The Hamming lower bound is the exact recursive decomposition
``H(x,y) = H(x<w, y<w) + H(x>w, y>w) + [w not in x]`` for the pivot
``w = median(y)`` (arrays share one global order), truncated at
``max_depth`` with the length-difference bound — always a true lower
bound, so the filter is lossless. The drop threshold uses the sound
budget ``hmax = s1 + s2 - 2*ceil(req_overlap) + p1 + p2`` (qualifying
pairs can lose at most p1+p2 overlap elements to the removed
prefixes); this prunes slightly less than the reference's
probe-context bound but can never drop a qualifying pair
(property-tested in tests/test_filters.py).

Table mode takes its candidates from the salted, pinned prefix join
every blocked funnel runs (``joins/core.blocked_pairs``, as
PrefixFilter does) and scores them through an Arrow-batched pandas
UDF over the pair's ordered token arrays — the only filter whose pair
predicate is not a Column expression.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..filter_math import overlap_threshold_py, prefix_length_py
from ..joins.core import blocked_pairs
from .base import SetSimFilter

MAX_DEPTH = 2


def _hamming_lower_bound(x: list, y: list, depth: int = 0) -> int:
    if depth >= MAX_DEPTH or not x or not y:
        return abs(len(x) - len(y))
    mid = len(y) // 2
    w = y[mid]
    yl, yr = y[:mid], y[mid + 1 :]
    xl = [t for t in x if t < w]
    xr = [t for t in x if t > w]
    found = len(xl) + len(xr) < len(x)
    return (
        _hamming_lower_bound(xl, yl, depth + 1)
        + _hamming_lower_bound(xr, yr, depth + 1)
        + (0 if found else 1)
    )


def _suffix_drop(
    l_ordered: list, r_ordered: list, measure: str, threshold: float
) -> bool:
    """True if the pair is provably below threshold."""
    s1, s2 = len(l_ordered), len(r_ordered)
    if s1 == 0 or s2 == 0:
        return True
    p1 = prefix_length_py(s1, measure, threshold)
    p2 = prefix_length_py(s2, measure, threshold)
    req = math.ceil(overlap_threshold_py(s1, s2, measure, threshold))
    hmax = s1 + s2 - 2 * req + p1 + p2
    if hmax < 0:
        return True
    # suffix slices follow the global rarity order; re-sort them
    # lexicographically before the bound — Hamming distance of two
    # sets is the symmetric-difference size, invariant under any
    # consistent ordering, and the recursion needs sorted arrays
    h = _hamming_lower_bound(sorted(l_ordered[p1:]), sorted(r_ordered[p2:]))
    return h > hmax


class SuffixFilter(SetSimFilter):
    def _drop_ordered(self, lo, ro) -> bool:
        return _suffix_drop(lo, ro, self.sim_measure_type, self.threshold)

    def _nonempty_pairs(self, prep_l, prep_r, ranks) -> DataFrame:
        # the candidate hop runs on iid surrogate longs; the prep joins
        # below (needed anyway for the token arrays) decode back to
        # original ids for free
        cand = blocked_pairs(
            *self._prefix_postings(prep_l, prep_r, ranks, id_col="iid"), F.lit(True)
        )
        joined = (
            cand.join(
                prep_l.select(F.col("iid").alias("l_id"),
                              F.col("id").alias("_lo"),
                              F.col("tokens").alias("_lt")),
                "l_id",
            )
            .join(
                prep_r.select(F.col("iid").alias("r_id"),
                              F.col("id").alias("_ro"),
                              F.col("tokens").alias("_rt")),
                "r_id",
            )
        )
        measure, threshold = self.sim_measure_type, self.threshold

        @F.pandas_udf(T.BooleanType())
        def keep(lt: pd.Series, rt: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    not _suffix_drop(list(a), list(b), measure, threshold)
                    for a, b in zip(lt, rt)
                ]
            )

        return joined.where(keep(F.col("_lt"), F.col("_rt"))).select(
            F.col("_lo").alias("l_id"), F.col("_ro").alias("r_id")
        )
