"""Write ``explain("formatted")`` of the TF-IDF and IDF-weighted join
cases the bench queries do not reach, so two checkouts can be compared
case by case.

Every case runs on two generated corpora of 400 seven-token records:
``sparse`` (a 20,000-word vocabulary, which the candidate planner sends
blocked) and ``dense`` (a 12-word vocabulary, which it sends dense).
Two-table cases join the corpus with its even-id half. Cases:

- ``tfidf_self``, ``tfidf_damp_self`` (``dampen=True``) and
  ``tfidf_two``: ``tfidf_join`` at 0.5;
- ``wjaccard_self``, ``wjaccard_two``, ``wcosine_self`` and
  ``wdice_self``: the weighted joins at 0.5.

Usage (from the checkout whose plans are wanted):

    SPARK_GRAFT_CPUS=4 PYTHONPATH=. python plans/r10/weighted_family_plans.py \\
        <out dir> <before|after>

Writes ``<out>/<case>_<corpus>_<side>.txt``.
"""

import os
import sys
from pathlib import Path

from pyspark.sql import functions as F

from sparksimjoin import tfidf_join, weighted_jaccard_join
from sparksimjoin.cache import release_all
from sparksimjoin.joins.weighted import weighted_cosine_join, weighted_dice_join
from sparksimjoin.session import get_spark
from sparksimjoin.tokenizers import WhitespaceTokenizer

WS = WhitespaceTokenizer()


def corpus(spark, vocab: int):
    toks = [F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id"), F.lit(k)),
                                         F.lit(vocab)).cast("string"))
            for k in range(7)]
    return spark.range(400).select("id", F.concat_ws(" ", *toks).alias("text"))


CASES = {
    "tfidf_self": lambda d, h: tfidf_join(d, d, "id", "id", "text", "text", WS,
                                          0.5, self_join=True),
    "tfidf_damp_self": lambda d, h: tfidf_join(d, d, "id", "id", "text", "text",
                                               WS, 0.5, self_join=True, dampen=True),
    "tfidf_two": lambda d, h: tfidf_join(d, h, "id", "id", "text", "text", WS, 0.5),
    "wjaccard_self": lambda d, h: weighted_jaccard_join(
        d, d, "id", "id", "text", "text", WS, 0.5, self_join=True),
    "wjaccard_two": lambda d, h: weighted_jaccard_join(
        d, h, "id", "id", "text", "text", WS, 0.5),
    "wcosine_self": lambda d, h: weighted_cosine_join(
        d, d, "id", "id", "text", "text", WS, 0.5, self_join=True),
    "wdice_self": lambda d, h: weighted_dice_join(
        d, d, "id", "id", "text", "text", WS, 0.5, self_join=True),
}


def main():
    out_dir, side = Path(sys.argv[1]), sys.argv[2]
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(app_name="weighted-family-plans", cores=cores,
                      shuffle_partitions=cores)
    out_dir.mkdir(parents=True, exist_ok=True)
    for cname, vocab in (("sparse", 20000), ("dense", 12)):
        d = corpus(spark, vocab)
        h = d.where(F.col("id") % 2 == 0)
        for case, fn in CASES.items():
            df = fn(d, h)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            (out_dir / f"{case}_{cname}_{side}.txt").write_text(plan)
            release_all()


if __name__ == "__main__":
    main()
