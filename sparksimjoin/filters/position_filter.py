"""PositionFilter (``[R] py_stringsimjoin/filter/position_filter.py``;
SURVEY.md §2.1 #10): prefix join + size bounds + PPJoin position
upper bound ``1 + min(s1-p1, s2-p2) >= required_overlap`` as residual
predicates (positions ride along in the explode)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..filter_math import overlap_threshold_py
from ..joins.core import candidate_pairs
from .base import SetSimFilter


class PositionFilter(SetSimFilter):
    def _drop_ordered(self, lo, ro) -> bool:
        s1, s2 = len(lo), len(ro)
        if self._size_out(s1, s2):
            return True
        lp, rp = self._prefix(lo), self._prefix(ro)
        req = overlap_threshold_py(s1, s2, self.sim_measure_type, self.threshold)
        for p1, t in enumerate(lp, 1):
            if t in rp:
                p2 = rp.index(t) + 1
                if 1 + min(s1 - p1, s2 - p2) >= req:
                    return False
        return True

    def _nonempty_pairs(self, prep_l, prep_r, ranks) -> DataFrame:
        ex_l, ex_r, salt_map = self._prefix_postings(prep_l, prep_r, ranks)
        return candidate_pairs(ex_l, ex_r, self.sim_measure_type, self.threshold,
                               salt_map=salt_map)
