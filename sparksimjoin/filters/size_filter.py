"""SizeFilter (``[R] py_stringsimjoin/filter/size_filter.py``;
SURVEY.md §2.1 #8). Table mode is a band join on token-set sizes,
implemented scalably as: distinct-size × distinct-size admissible
small join (sizes are tiny-domain ints) -> equi-joins back to the
records. No theta-join / BNLJ."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..filter_math import size_bounds_expr
from .base import SetSimFilter


class SizeFilter(SetSimFilter):
    def _drop_ordered(self, lo, ro) -> bool:
        return self._size_out(len(lo), len(ro))

    def _nonempty_pairs(self, prep_l, prep_r, ranks) -> DataFrame:
        sl = prep_l.select(F.col("size").alias("l_size")).distinct()
        sr = prep_r.select(F.col("size").alias("r_size")).distinct()
        lo, hi = size_bounds_expr(F.col("l_size"), self.sim_measure_type, self.threshold)
        admissible = sl.crossJoin(sr).where(
            (F.col("l_size") > 0) & (F.col("r_size") > 0) & F.col("r_size").between(lo, hi)
        )
        l_ids = prep_l.select(F.col("id").alias("l_id"), F.col("size").alias("l_size"))
        r_ids = prep_r.select(F.col("id").alias("r_id"), F.col("size").alias("r_size"))
        return (
            l_ids.join(F.broadcast(admissible), "l_size")
            .join(r_ids, "r_size")
            .select("l_id", "r_id")
        )
