"""Write ``explain("formatted")`` of two-table Hamming and Jaro joins on
``part`` with the dedup pre-pass forced and ``allow_missing`` set, so
the plans cover the gid expansion and missing-pair branches that the
auto-dedup bench queries may skip.

Usage (from the checkout whose plans are wanted):

    SPARK_GRAFT_CPUS=4 PYTHONPATH=. python plans/r08/dedup_tail_plans.py \
        <sf0.01 dir> <out dir> <before|after>

Writes ``<out>/{hamming,jaro}_part_{same,half}_<side>.txt``: ``same``
passes one frame as both sides, ``half`` joins ``part`` with its
even-key half.
"""

import os
import sys
from pathlib import Path

from pyspark.sql import functions as F

from sparksimjoin import hamming_join, jaro_join
from sparksimjoin.cache import release_all
from sparksimjoin.session import get_spark


def main():
    sf_dir, out_dir, side = sys.argv[1:4]
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(app_name="dedup-tail-plans", cores=cores,
                      shuffle_partitions=cores)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rights = {"same": part, "half": part.where(F.col("p_partkey") % 2 == 0)}
    joins = {
        "hamming": lambda r: hamming_join(
            part, r, "p_partkey", "p_partkey", "p_name", "p_name", 2,
            allow_missing=True, dedup_strings=True),
        "jaro": lambda r: jaro_join(
            part, r, "p_partkey", "p_partkey", "p_name", "p_name", 0.9,
            allow_missing=True, dedup_strings=True),
    }
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    for jname, join in joins.items():
        for rname, r in rights.items():
            df = join(r)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            Path(out_dir, f"{jname}_part_{rname}_{side}.txt").write_text(plan)
            release_all()
    spark.stop()


if __name__ == "__main__":
    main()
