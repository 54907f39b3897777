"""Write ``explain("formatted")`` of every linkage stage frame, so two
checkouts can be compared stage by stage.

The script wraps ``CheckpointManager.write`` (here, not in the library)
and dumps the plan of each frame just before it is written. Cases:

- ``pipeline_default``, ``pipeline_cap`` (``stop_token_cap=50``) and
  ``pipeline_window`` (``time_window_seconds=86400``): ``run_pipeline``
  over ``make_transcripts(60, seed=5)``;
- ``incremental_default`` and ``incremental_cap``: ``run_incremental``
  of the last 15 conversations against a ``run_pipeline`` base of the
  first 45, uncapped and capped (base and batch both at
  ``stop_token_cap=50``);
- ``overlap_coeff_cap``: a self ``overlap_coefficient_join`` over the
  pipeline's records at 0.8 with ``stop_token_cap=50``.

Usage (from the checkout whose plans are wanted):

    SPARK_GRAFT_CPUS=4 PYTHONPATH=. python plans/r09/linkage_stage_plans.py \\
        <out dir> <before|after> [<manifest dir>]

Writes ``<out>/<case>_<side>.txt``, one ``== <stage> ==`` section per
stage write in write order. With a manifest dir, it also writes
``<manifest dir>/<case>_<side>.json``: every stage manifest of the
case without ``wall_time_sec``, with the per-file row counts as a
sorted list (part-file names are random). Workdirs live under a fresh
temporary directory, written as ``<workdir>``.
"""

import json
import os
import re
import sys
import tempfile
from dataclasses import replace
from pathlib import Path

from sparksimjoin import overlap_coefficient_join
from sparksimjoin.cache import release_all
from sparksimjoin.checkpoint import CheckpointManager
from sparksimjoin.fixtures import make_transcripts
from sparksimjoin.incremental import run_incremental
from sparksimjoin.pipeline import PipelineConfig, prepare_records, run_pipeline
from sparksimjoin.session import get_spark
from sparksimjoin.tokenizers import WhitespaceTokenizer

CFG = PipelineConfig(threshold=0.6)
CAP = replace(CFG, stop_token_cap=50)


def explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def manifests(spark, root: str) -> list[dict]:
    out = []
    for m in CheckpointManager(spark, root).all_manifests():
        m = dict(m)
        m.pop("wall_time_sec", None)
        m["partitions"] = sorted(m["partitions"].values())
        out.append(m)
    return out


def main():
    out_dir, side = sys.argv[1:3]
    man_dir = sys.argv[3] if len(sys.argv) > 3 else None
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(app_name="linkage-stage-plans", cores=cores,
                      shuffle_partitions=cores)
    t_pdf, _ = make_transcripts(60, seed=5)
    convs = sorted(t_pdf["conv_id"].unique())
    full = spark.createDataFrame(t_pdf)
    base = spark.createDataFrame(t_pdf[t_pdf.conv_id.isin(convs[:45])])
    new = spark.createDataFrame(t_pdf[t_pdf.conv_id.isin(convs[45:])])
    tmp = tempfile.mkdtemp(prefix="linkage-plans-")

    sections: list[str] = []
    orig_write = CheckpointManager.write

    def write(mgr, df, name, *a, **kw):
        sections.append(f"== {name} ==\n{explain(df)}")
        return orig_write(mgr, df, name, *a, **kw)

    CheckpointManager.write = write

    def pipeline(cfg):
        def run(wd):
            run_pipeline(spark, full, wd, cfg)
            return [wd]
        return run

    def incremental(cfg):
        def run(wd):
            run_pipeline(spark, base, wd + "_base", cfg)
            sections.clear()  # the base plans are the pipeline cases'
            run_incremental(spark, new, wd + "_base", wd, cfg)
            return [wd + "_base", wd]
        return run

    def overlap(wd):
        recs = prepare_records(full)
        metrics = {}
        df = overlap_coefficient_join(
            recs, recs, "conv_id", "conv_id", "doc", "doc",
            WhitespaceTokenizer(), 0.8, stop_token_cap=50, metrics_out=metrics)
        sections.append(f"== overlap_coefficient_join ==\n{explain(df)}")
        df.count()
        return []

    cases = {
        "pipeline_default": pipeline(CFG),
        "pipeline_cap": pipeline(CAP),
        "pipeline_window": pipeline(replace(CFG, time_window_seconds=86400)),
        "incremental_default": incremental(CFG),
        "incremental_cap": incremental(CAP),
        "overlap_coeff_cap": overlap,
    }
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    for case, run in cases.items():
        sections.clear()
        roots = run(os.path.join(tmp, case))
        text = "\n".join(sections).replace(tmp, "<workdir>")
        Path(out_dir, f"{case}_{side}.txt").write_text(text)
        if man_dir and roots:
            Path(man_dir).mkdir(parents=True, exist_ok=True)
            dump = {os.path.basename(r): manifests(spark, r) for r in roots}
            text = re.sub(re.escape(tmp), "<workdir>", json.dumps(dump, indent=1))
            Path(man_dir, f"{case}_{side}.json").write_text(text)
        release_all()
    spark.stop()


if __name__ == "__main__":
    main()
