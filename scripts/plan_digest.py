"""Plan identity: digest the masked ``explain("formatted")`` of one fixed
list of cases, so two checkouts can be compared plan by plan.

Usage (the library and ``bench.py`` are imported from PYTHONPATH, so one
copy of this script digests any checkout):

    PYTHONPATH=<checkout> python scripts/plan_digest.py <sf0.01 dir> \\
        [--out plans/digests.json] [--against <digests.json>]

Cases:

- every ``bench.bench_queries()`` entry, on the ``<sf0.01 dir>`` tables;
- ``{hamming,jaro}_part_{same,half}``: two-table Hamming (k=2) and Jaro
  (0.9) joins on ``part.p_name`` with ``dedup_strings=True`` and
  ``allow_missing=True``; ``same`` passes one frame as both sides,
  ``half`` joins ``part`` with its even-key half;
- ``{overlap,size,prefix,position,suffix}_filter_part_half``: each
  filter's two-table ``filter_tables`` on ``part.p_name`` against its
  even-key half, built as in the oracle queries (overlap size 2;
  JACCARD 0.8 size and position, 0.7 prefix and suffix; size and
  prefix with ``allow_empty=False``), and ``position_candset_part_half``:
  the position filter's ``filter_candset`` over the overlap filter's
  candset of the same two tables;
- ``<linkage case>/<stage>``: the frame of every ``CheckpointManager.write``
  (wrapped here; the library is not instrumented) of ``run_pipeline``
  over ``make_transcripts(60, seed=5)`` at threshold 0.6 (``default``,
  ``cap`` = ``stop_token_cap=50``, ``window`` = ``time_window_seconds=86400``)
  and of a ``run_incremental`` batch of the last 15 conversations against
  a base of the first 45 (``default`` and ``cap``, base and batch alike;
  only the batch's stages are kept), plus ``overlap_coeff_cap``: a capped
  self ``overlap_coefficient_join`` at 0.8 over the pipeline's records;
- ``<join>_{sparse,dense}``: TF-IDF and IDF-weighted joins at 0.5 on 400
  seven-token records drawn from a 20,000-word vocabulary (planned
  blocked) and a 12-word one (planned dense); two-table joins pair the
  corpus with its even-id half.

The session is pinned to local[4] with 4 shuffle partitions, because
plans depend on the partition count. ``--out`` (default
``plans/digests.json``) gets, per case, the sha256 of the masked plan
and its operators: each ``(N) Operator`` header line with a short hash
of its detail section. ``--against`` prints the first differing
operator of every case whose digest differs from the given file, or
that only one side has, and exits 1 if there is any.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import tempfile
from pathlib import Path

# run-dependent counters: expression ids, exchange ids, codegen stage
# ids and AQE query-stage ids (both depend on the order in which cached
# sub-plans materialize), session-wide lambda-variable and RDD counters,
# and the fresh UUID of every Observation's CollectMetrics node
MASKS = [
    (re.compile(r"#\d+"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"^Arguments: \d+$", re.M), "Arguments: N"),
    (re.compile(r"lambda x_\d+"), "lambda x_N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "UUID"),
    (re.compile(r"MapPartitionsRDD\[\d+\]"), "MapPartitionsRDD[N]"),
]
OPERATOR = re.compile(r"^\(\d+\) ", re.M)


def mask(plan: str, paths: dict[str, str]) -> str:
    """``plan`` with each ``paths`` key replaced by its value, then
    every run-dependent counter masked."""
    for path, name in paths.items():
        plan = plan.replace(path, name)
    for pat, rep in MASKS:
        plan = pat.sub(rep, plan)
    return plan


def digest(masked: str) -> dict:
    """-> {"sha256", "operators"}: one operator entry per ``(N) ...``
    header line, suffixed with a hash of that operator's section."""
    starts = [m.start() for m in OPERATOR.finditer(masked)] + [len(masked)]
    ops = []
    for a, b in zip(starts, starts[1:]):
        section = masked[a:b]
        head = section.split("\n", 1)[0].rstrip()
        ops.append(f"{head} @{hashlib.sha256(section.encode()).hexdigest()[:8]}")
    return {"sha256": hashlib.sha256(masked.encode()).hexdigest(), "operators": ops}


def compare(old: dict, new: dict) -> list[str]:
    """Report lines for every case whose digest differs between ``old``
    and ``new`` or that only one of them has."""
    out = []
    for case in list(old) + [c for c in new if c not in old]:
        if case not in new or case not in old:
            out.append(f"{case}: only in {'old' if case in old else 'new'}")
            continue
        if old[case]["sha256"] == new[case]["sha256"]:
            continue
        a, b = old[case]["operators"], new[case]["operators"]
        i = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
        if i == len(a) == len(b):
            out.append(f"{case}: same operators, plan text differs")
            continue
        out.append(f"{case}: first difference at operator {i + 1}")
        out.append(f"  - {a[i] if i < len(a) else '(none)'}")
        out.append(f"  + {b[i] if i < len(b) else '(none)'}")
    return out


def digest_cases(sf: str, tmp: str) -> dict[str, dict]:
    """Build every case on a pinned local[4] session and digest its
    plan; ``sf`` and ``tmp`` are masked as ``<sf>`` and ``<workdir>``."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from bench import bench_queries
    from sparksimjoin import (
        hamming_join,
        jaro_join,
        overlap_coefficient_join,
        tfidf_join,
        weighted_jaccard_join,
    )
    from sparksimjoin.cache import release_all
    from sparksimjoin.checkpoint import CheckpointManager
    from sparksimjoin.filters import (
        OverlapFilter,
        PositionFilter,
        PrefixFilter,
        SizeFilter,
        SuffixFilter,
    )
    from sparksimjoin.fixtures import make_transcripts
    from sparksimjoin.incremental import run_incremental
    from sparksimjoin.joins.weighted import weighted_cosine_join, weighted_dice_join
    from sparksimjoin.pipeline import PipelineConfig, prepare_records, run_pipeline
    from sparksimjoin.session import get_spark
    from sparksimjoin.tokenizers import WhitespaceTokenizer

    spark = get_spark(app_name="plan-digest", cores=4, shuffle_partitions=4)
    paths = {tmp: "<workdir>", sf: "<sf>"}
    digests: dict[str, dict] = {}

    def record(case: str, df) -> None:
        assert case not in digests, case
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        digests[case] = digest(mask(plan, paths))

    for name, query in bench_queries().items():
        record(name, query(spark, sf))
        release_all()

    part = spark.read.parquet(f"{sf}/part.parquet")
    half = part.where(F.col("p_partkey") % 2 == 0)
    for rname, r in (("same", part), ("half", half)):
        for jname, join, k in (("hamming", hamming_join, 2), ("jaro", jaro_join, 0.9)):
            record(f"{jname}_part_{rname}", join(
                part, r, "p_partkey", "p_partkey", "p_name", "p_name", k,
                allow_missing=True, dedup_strings=True))
            release_all()

    ws = WhitespaceTokenizer()
    part_attrs = ("p_partkey", "p_partkey", "p_name", "p_name")
    filters = {
        "overlap": OverlapFilter(ws, overlap_size=2),
        "size": SizeFilter(ws, "JACCARD", 0.8, allow_empty=False),
        "prefix": PrefixFilter(ws, "JACCARD", 0.7, allow_empty=False),
        "position": PositionFilter(ws, "JACCARD", 0.8),
        "suffix": SuffixFilter(ws, "JACCARD", 0.7),
    }
    for fname, f in filters.items():
        record(f"{fname}_filter_part_half", f.filter_tables(part, half, *part_attrs))
        release_all()
    cand = filters["overlap"].filter_tables(part, half, *part_attrs)
    record("position_candset_part_half", filters["position"].filter_candset(
        cand, "l_p_partkey", "r_p_partkey", part, half, *part_attrs))
    release_all()

    t_pdf, _ = make_transcripts(60, seed=5)
    convs = sorted(t_pdf["conv_id"].unique())
    full = spark.createDataFrame(t_pdf)
    base = spark.createDataFrame(t_pdf[t_pdf.conv_id.isin(convs[:45])])
    new = spark.createDataFrame(t_pdf[t_pdf.conv_id.isin(convs[45:])])
    cfg = PipelineConfig(threshold=0.6)
    cap = replace(cfg, stop_token_cap=50)
    stage_case = None  # None: stage writes are not recorded
    write = CheckpointManager.write

    def traced_write(mgr, df, name, *a, **kw):
        if stage_case is not None:
            record(f"{stage_case}/{name}", df)
        return write(mgr, df, name, *a, **kw)

    CheckpointManager.write = traced_write
    try:
        for stage_case, c in (
                ("pipeline_default", cfg), ("pipeline_cap", cap),
                ("pipeline_window", replace(cfg, time_window_seconds=86400))):
            run_pipeline(spark, full, f"{tmp}/{stage_case}", c)
            release_all()
        for case, c in (("incremental_default", cfg), ("incremental_cap", cap)):
            stage_case = None
            run_pipeline(spark, base, f"{tmp}/{case}_base", c)
            stage_case = case
            run_incremental(spark, new, f"{tmp}/{case}_base", f"{tmp}/{case}", c)
            release_all()
    finally:
        CheckpointManager.write = write
    recs = prepare_records(full)
    record("overlap_coeff_cap", overlap_coefficient_join(
        recs, recs, "conv_id", "conv_id", "doc", "doc", WhitespaceTokenizer(), 0.8,
        stop_token_cap=50, metrics_out={}))
    release_all()

    joins = {
        "tfidf_self": lambda d, h: tfidf_join(d, d, "id", "id", "text", "text", ws,
                                              0.5, self_join=True),
        "tfidf_damp_self": lambda d, h: tfidf_join(
            d, d, "id", "id", "text", "text", ws, 0.5, self_join=True, dampen=True),
        "tfidf_two": lambda d, h: tfidf_join(d, h, "id", "id", "text", "text", ws, 0.5),
        "wjaccard_self": lambda d, h: weighted_jaccard_join(
            d, d, "id", "id", "text", "text", ws, 0.5, self_join=True),
        "wjaccard_two": lambda d, h: weighted_jaccard_join(
            d, h, "id", "id", "text", "text", ws, 0.5),
        "wcosine_self": lambda d, h: weighted_cosine_join(
            d, d, "id", "id", "text", "text", ws, 0.5, self_join=True),
        "wdice_self": lambda d, h: weighted_dice_join(
            d, d, "id", "id", "text", "text", ws, 0.5, self_join=True),
    }
    for corpus, vocab in (("sparse", 20000), ("dense", 12)):
        toks = [F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id"), F.lit(k)),
                                             F.lit(vocab)).cast("string"))
                for k in range(7)]
        d = spark.range(400).select("id", F.concat_ws(" ", *toks).alias("text"))
        h = d.where(F.col("id") % 2 == 0)
        for jname, join in joins.items():
            record(f"{jname}_{corpus}", join(d, h))
            release_all()
    spark.stop()
    return digests


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--out", default=str(Path(__file__).resolve().parent.parent
                                         / "plans" / "digests.json"))
    ap.add_argument("--against")
    args = ap.parse_args(argv)
    with tempfile.TemporaryDirectory(prefix="plan-digest-") as tmp:
        digests = digest_cases(os.path.realpath(args.sf_dir), os.path.realpath(tmp))
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(digests, indent=1) + "\n")
    print(f"{len(digests)} cases digested to {args.out}")
    if args.against:
        report = compare(json.loads(Path(args.against).read_text()), digests)
        print("\n".join(report) or f"no case differs from {args.against}")
        return 1 if report else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
