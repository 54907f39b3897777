"""PrefixFilter (``[R] py_stringsimjoin/filter/prefix_filter.py``;
SURVEY.md §2.1 #9): candidate generation by equi-join on exploded
prefix tokens only (no size/position residuals)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..joins.core import blocked_pairs
from .base import SetSimFilter


class PrefixFilter(SetSimFilter):
    def _drop_ordered(self, lo, ro) -> bool:
        return not set(self._prefix(lo)) & set(self._prefix(ro))

    def _nonempty_pairs(self, prep_l, prep_r, ranks) -> DataFrame:
        # the salted, pinned blocked join with no residual. Each
        # surviving (l,r) still meets at least once (l's salt bucket),
        # and the distinct collapses multiplicity — survivor set
        # identical to the unsalted join (test_filters_salted).
        return blocked_pairs(*self._prefix_postings(prep_l, prep_r, ranks), F.lit(True))
