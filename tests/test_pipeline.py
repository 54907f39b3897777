from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparksimjoin.fixtures import make_transcripts
from sparksimjoin.naive import naive_connected_components, naive_set_sim_join
from sparksimjoin.pipeline import (
    PipelineConfig,
    pairwise_f1,
    prepare_records,
    run_pipeline,
)
from sparksimjoin.tokenizers import WhitespaceTokenizer

T_PDF, E_PDF = make_transcripts(n_conv=300, seed=42)
# fixture calibration (seed 42, 210-word vocab): intra-entity pair
# sims ≥ 0.615, cross-entity ≤ 0.333 — 0.6 cleanly separates with the
# whitespace-jaccard measure
CFG = PipelineConfig(threshold=0.6)


@pytest.fixture(scope="module")
def transcripts(spark):
    df = spark.createDataFrame(T_PDF).cache()
    df.count()
    return df


def _reference_clusters():
    """Oracle: naive join over record docs + union-find (SURVEY.md
    §5.2 item 3) — this stands in for the reference implementation's
    clusters in the F1 gate."""
    records = (
        T_PDF.sort_values(["conv_id", "turn_idx"])
        .groupby("conv_id")["text"]
        .apply(lambda s: " ".join(s))
        .reset_index()
        .rename(columns={"text": "doc"})
    )
    pairs = naive_set_sim_join(
        records, records, "conv_id", "conv_id", "doc", "doc",
        WhitespaceTokenizer(), CFG.threshold, "JACCARD", self_join=True,
    )
    edges = [(l, r) for l, r, _ in pairs]
    comp = naive_connected_components(edges, nodes=list(records["conv_id"]))
    return comp


def test_prepare_records_stable_ordering(spark, transcripts):
    """Per-turn text equality under stable (conv_id, turn_idx)
    ordering (input_hint invariant): docs must equal the pandas
    groupby-sorted concatenation regardless of input partitioning."""
    recs = {r["conv_id"]: r["doc"] for r in prepare_records(transcripts).collect()}
    shuffled = transcripts.repartition(7).sortWithinPartitions("text")
    recs2 = {r["conv_id"]: r["doc"] for r in prepare_records(shuffled).collect()}
    expected = (
        T_PDF.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["text"].apply(" ".join)
    )
    for cid, doc in expected.items():
        assert recs[cid] == doc
        assert recs2[cid] == doc


def test_pipeline_end_to_end_f1(spark, transcripts, tmp_path):
    clusters = run_pipeline(spark, transcripts, str(tmp_path / "wd"), CFG)
    gold = spark.createDataFrame(E_PDF)
    m = pairwise_f1(clusters, gold)
    # our clusters must match the reference(-oracle) clusters exactly
    ref = _reference_clusters()
    got = {r["conv_id"]: r["component"] for r in clusters.collect()}
    # compare as partitions (component labels may differ)
    def as_partition(d):
        inv = {}
        for k, v in d.items():
            inv.setdefault(v, set()).add(k)
        return {frozenset(v) for v in inv.values()}

    assert as_partition(got) == as_partition(ref)
    # and the F1 gate vs injected gold entities
    assert m["f1"] >= 0.99, m


def test_pipeline_resume_byte_identical(spark, transcripts, tmp_path):
    """Kill-after-stage-k resume: delete later stages, rerun, final
    clusters identical (BASELINE.md resumability row)."""
    wd = str(tmp_path / "wd2")
    c1 = run_pipeline(spark, transcripts, wd, CFG)
    rows1 = sorted((r["conv_id"], r["component"]) for r in c1.collect())
    # simulate kill after 'candidates': remove 'scored' and beyond
    import os

    for stage in os.listdir(wd):
        if stage.startswith(("scored", "clusters", "cc_round")):
            shutil.rmtree(os.path.join(wd, stage))
    c2 = run_pipeline(spark, transcripts, wd, CFG)
    rows2 = sorted((r["conv_id"], r["component"]) for r in c2.collect())
    assert rows1 == rows2


def test_pipeline_manifests(spark, transcripts, tmp_path):
    from sparksimjoin.checkpoint import CheckpointManager

    wd = str(tmp_path / "wd3")
    run_pipeline(spark, transcripts, wd, CFG)
    ckpt = CheckpointManager(spark, wd)
    names = {m["stage"] for m in ckpt.all_manifests()}
    assert {"records", "tokens", "candidates", "scored", "clusters"} <= names
    rec = ckpt.manifest("records")
    assert rec["rows"] == 300
    assert sum(rec["partitions"].values()) == rec["rows"]
    assert rec["inputs"] == ["transcripts"]


def test_stop_token_cap_metrics(spark, transcripts, tmp_path):
    """Cap above all frequencies -> byte-identical output, zero drops;
    low cap -> drops recorded in the candidates manifest (no silent
    caps, SURVEY.md §4 item 3)."""
    from dataclasses import replace
    from sparksimjoin.checkpoint import CheckpointManager

    wd_hi = str(tmp_path / "hi")
    hi = run_pipeline(spark, transcripts, wd_hi, replace(CFG, stop_token_cap=10**9))
    rows_hi = sorted((r["conv_id"], r["component"]) for r in hi.collect())
    m_hi = CheckpointManager(spark, wd_hi).manifest("candidates")
    assert m_hi["dropped_stop_tokens"] == 0

    wd_ref = str(tmp_path / "ref")
    ref = run_pipeline(spark, transcripts, wd_ref, CFG)
    rows_ref = sorted((r["conv_id"], r["component"]) for r in ref.collect())
    assert rows_hi == rows_ref

    wd_lo = str(tmp_path / "lo")
    run_pipeline(spark, transcripts, wd_lo, replace(CFG, stop_token_cap=50))
    m_lo = CheckpointManager(spark, wd_lo).manifest("candidates")
    assert m_lo["dropped_stop_tokens"] > 0
    assert m_lo["stop_token_cap"] == 50

    # every conversation duplicated: each token has doc frequency >= 2,
    # so cap 1 excludes every prefix token and empties the funnel (AQE
    # then prunes the metric's CollectMetrics node)
    wd_all = str(tmp_path / "all")
    run_pipeline(spark, _duplicated(spark), wd_all, replace(CFG, stop_token_cap=1))
    m_all = CheckpointManager(spark, wd_all).manifest("candidates")
    assert m_all["rows"] == 0
    assert m_all["dropped_stop_tokens"] > 0


def _duplicated(spark):
    t_pdf, _ = make_transcripts(10, seed=5)
    dup = t_pdf.assign(conv_id=t_pdf["conv_id"] + "_dup")
    return spark.createDataFrame(pd.concat([t_pdf, dup], ignore_index=True))


def test_clusters_iid_space_cc_parity(spark, transcripts, tmp_path):
    """The clusters stage contracts the match graph in iid space
    (8-byte longs through every star round + cc_round checkpoint)
    and re-anchors component labels to the min ORIGINAL id — output
    must be EXACTLY the string-space contraction's, labels included."""
    from sparksimjoin.checkpoint import CheckpointManager
    from sparksimjoin.clustering import connected_components

    from dataclasses import replace

    wd = str(tmp_path / "wd_iid")
    # cc_round_artifacts=True: durable round checkpoints are opt-in
    # now (write-only cost by default), but this test reads one back
    # to prove the CC rounds actually moved 8-byte longs
    clusters = run_pipeline(spark, transcripts, wd,
                            replace(CFG, cc_round_artifacts=True))
    ckpt = CheckpointManager(spark, wd)
    scored = ckpt.read("scored")
    # the scored checkpoint carries the surrogate pair, and the CC
    # round checkpoints actually stored longs (the shuffle-byte claim)
    assert dict(scored.dtypes)["l_iid"] == "bigint"
    assert dict(ckpt.read("cc_round_0").dtypes) == {"src": "bigint", "dst": "bigint"}
    # surrogate orientation matches the emitted original orientation
    from sparksimjoin.joins.core import IID_BUCKETS  # noqa: F401 (import guards path)
    bad = scored.where(
        (F.col("l_id") > F.col("r_id"))
        | ((F.col("l_id") == F.col("r_id")) & (F.col("l_iid") != F.col("r_iid")))
    )
    assert bad.count() == 0
    # reference: string-space CC over the SAME edges (min conv_id label)
    comp = connected_components(scored, "l_id", "r_id")
    all_ids = clusters.select("conv_id")
    ref = (
        all_ids.join(comp, comp["id"] == all_ids["conv_id"], "left")
        .select("conv_id", F.coalesce("component", F.col("conv_id")).alias("component"))
    )
    got = sorted((r["conv_id"], r["component"]) for r in clusters.collect())
    want = sorted((r["conv_id"], r["component"]) for r in ref.collect())
    assert got == want
    # the relabel is doing real work: iid rarity order must disagree
    # with conv_id lexicographic order somewhere (hash-bucketed iids
    # carry no order contract), else this test proves nothing
    toks = ckpt.read("tokens")
    from sparksimjoin.joins.core import ensure_iid

    idmap = ensure_iid(toks).select("id", "iid").collect()
    order_str = [r["id"] for r in sorted(idmap, key=lambda r: r["id"])]
    order_iid = [r["id"] for r in sorted(idmap, key=lambda r: r["iid"])]
    assert order_str != order_iid


def test_iceberg_checkpoint_backend(spark, tmp_path):
    """End-to-end CheckpointManager over Iceberg tables. Skips when
    the runtime jars are absent (the in-sandbox case) — with them,
    fmt='iceberg' is a pure config switch: same protocol, manifests
    in a <root>.__manifests table. Requires a configured
    spark.sql.catalog.local (hadoop type) pointing at a warehouse."""
    import pytest as _pytest

    from sparksimjoin.checkpoint import CheckpointManager, iceberg_available

    if not iceberg_available(spark):
        _pytest.skip("iceberg-spark-runtime jars not on classpath")
    if "SparkCatalog" not in str(spark.conf.get("spark.sql.catalog.local", "")):
        _pytest.skip("no spark.sql.catalog.local catalog configured")
    ckpt = CheckpointManager(spark, "local.simjoin_test", fmt="iceberg")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(7).selectExpr("id", "id * 2 AS v")

    df1 = ckpt.get_or_compute("stage_a", compute, inputs=["src"])
    assert df1.count() == 7 and ckpt.exists("stage_a")
    df2 = ckpt.get_or_compute("stage_a", compute)  # resume path: no recompute
    assert df2.count() == 7 and len(calls) == 1
    m = ckpt.manifest("stage_a")
    assert m["rows"] == 7 and m["inputs"] == ["src"]


def test_pipeline_audit_stage(spark, transcripts, tmp_path):
    """cfg.audit=True checkpoints an `audit` stage equal to a direct
    cluster_audit over the run's own scored edges + clusters."""
    from sparksimjoin.audit import cluster_audit
    from sparksimjoin.checkpoint import CheckpointManager

    wd = str(tmp_path / "wd_audit")
    cfg = PipelineConfig(threshold=0.6, audit=True)
    clusters = run_pipeline(spark, transcripts, wd, cfg)
    ckpt = CheckpointManager(spark, wd)
    audit = ckpt.read("audit")
    man = ckpt.manifest("audit")
    assert man["inputs"] == ["scored", "clusters"]
    direct = cluster_audit(
        clusters, ckpt.read("scored"), id_col="conv_id",
        component_col="component",
    )
    key = lambda r: (str(r["component"]),)  # noqa: E731
    got = sorted((r.asDict() for r in audit.collect()), key=key)
    want = sorted((r.asDict() for r in direct.collect()), key=key)
    assert got == want
    # every record accounted for; multi-record components have support
    assert sum(r["n_records"] for r in got) == clusters.count()
    for r in got:
        if r["n_records"] > 1:
            assert r["n_edges"] >= r["n_records"] - 1  # spanning support
            assert r["min_sim"] >= cfg.threshold


def test_pipeline_refine_stage(spark, transcripts, tmp_path):
    """cfg.refine_threshold checkpoints a `clusters_refined` stage
    equal to a direct refine_clusters call over the run's own
    clusters + scored edges, and run_pipeline returns it. With a
    tighten cut above every score, suspect clusters dissolve into
    singletons while compliant clusters pass through byte-identical."""
    from sparksimjoin.checkpoint import CheckpointManager
    from sparksimjoin.clustering import refine_clusters

    wd = str(tmp_path / "wd_refine")
    cfg = PipelineConfig(threshold=0.6, refine_threshold=0.62,
                         refine_max_size=3, refine_min_density=0.9)
    refined = run_pipeline(spark, transcripts, wd, cfg)
    ckpt = CheckpointManager(spark, wd)
    man = ckpt.manifest("clusters_refined")
    assert man["inputs"] == ["scored", "clusters"]
    assert man["refine_threshold"] == 0.62
    got = {(r["conv_id"], r["component"]) for r in refined.collect()}
    stage = {(r["conv_id"], r["component"])
             for r in ckpt.read("clusters_refined").collect()}
    assert got == stage
    direct = refine_clusters(
        ckpt.read("clusters"), ckpt.read("scored"), 0.62,
        max_cluster_size=3, min_density=0.9,
        id_col="conv_id", cluster_col="component",
    )
    assert got == {(r["conv_id"], r["component"]) for r in direct.collect()}
    # same id universe as the base clusters
    base = ckpt.read("clusters")
    assert refined.count() == base.count()
    # resume: rerun reads the stage back identically
    again = run_pipeline(spark, transcripts, wd, cfg)
    assert {(r["conv_id"], r["component"]) for r in again.collect()} == got


def test_pipeline_refine_requires_criterion(spark, transcripts, tmp_path):
    cfg = PipelineConfig(threshold=0.6, refine_threshold=0.8)
    with pytest.raises(ValueError, match="at least one"):
        run_pipeline(spark, transcripts, str(tmp_path / "wd_rf_bad"), cfg)


def test_incremental_rejects_refine(spark, transcripts, tmp_path):
    from sparksimjoin.incremental import run_incremental

    cfg = PipelineConfig(threshold=0.6, refine_threshold=0.8,
                         refine_max_size=3)
    with pytest.raises(ValueError, match="incremental"):
        run_incremental(spark, transcripts, str(tmp_path / "nobase"),
                        str(tmp_path / "inc"), cfg)


def test_refine_criteria_without_threshold_rejected(spark, transcripts, tmp_path):
    """--refine-max-size/--refine-min-density without --refine-threshold
    used to be silently ignored (no refinement ran); now loud."""
    from sparksimjoin.incremental import run_incremental

    for cfg in (PipelineConfig(threshold=0.6, refine_max_size=10),
                PipelineConfig(threshold=0.6, refine_min_density=0.5)):
        with pytest.raises(ValueError, match="refine_threshold"):
            run_pipeline(spark, transcripts, str(tmp_path / "wd_noop"), cfg)
        with pytest.raises(ValueError, match="refine_threshold"):
            run_incremental(spark, transcripts, str(tmp_path / "nb"),
                            str(tmp_path / "ni"), cfg)


def test_resume_config_drift_rejected(spark, tmp_path):
    """Re-running a workdir under a different threshold/measure or a
    different refine cut must fail loudly instead of silently reading
    back stages computed under the OLD config (the natural tuning
    workflow: change a knob, rerun the same workdir)."""
    t_pdf, _ = make_transcripts(n_conv=60, seed=5)
    small = spark.createDataFrame(t_pdf)
    wd = str(tmp_path / "wd_drift")
    cfg = PipelineConfig(threshold=0.6, refine_threshold=0.62,
                         refine_max_size=3)
    run_pipeline(spark, small, wd, cfg)

    with pytest.raises(ValueError, match="resume config mismatch.*candidates"):
        run_pipeline(spark, small, wd, PipelineConfig(threshold=0.65))
    with pytest.raises(ValueError, match="resume config mismatch.*candidates"):
        run_pipeline(spark, small, wd, PipelineConfig(
            threshold=0.6, stop_token_cap=50))
    with pytest.raises(ValueError, match="resume config mismatch.*scored"):
        run_pipeline(spark, small, wd, PipelineConfig(
            threshold=0.6, comp_op=">", refine_threshold=0.62,
            refine_max_size=3))
    with pytest.raises(ValueError,
                       match="resume config mismatch.*clusters_refined"):
        run_pipeline(spark, small, wd, PipelineConfig(
            threshold=0.6, refine_threshold=0.7, refine_max_size=3))
    # unchanged config still resumes cleanly
    again = run_pipeline(spark, small, wd, cfg)
    assert again.count() == 60


def test_pipeline_time_window(spark, tmp_path):
    """time_window_seconds intersects the token-blocked candidates
    with the conversation-start band: clusters == brute-force (naive
    join AND |min_ts| band) -> union-find. A window wide enough for
    every pair reproduces the unwindowed run exactly."""
    t_pdf, _ = make_transcripts(n_conv=80, seed=9)
    df = spark.createDataFrame(t_pdf)

    def brute(window_s):
        recs = (
            t_pdf.sort_values(["conv_id", "turn_idx"])
            .groupby("conv_id")
            .agg(doc=("text", " ".join), min_ts=("ts", "min"))
            .reset_index()
        )
        pairs = naive_set_sim_join(
            recs, recs, "conv_id", "conv_id", "doc", "doc",
            WhitespaceTokenizer(), 0.6, "JACCARD", self_join=True,
        )
        ts = dict(zip(recs["conv_id"], recs["min_ts"]))
        edges = [
            (l, r) for l, r, _ in pairs
            if window_s is None
            or abs((ts[l] - ts[r]).total_seconds()) <= window_s
        ]
        comp = naive_connected_components(edges, nodes=list(recs["conv_id"]))
        groups = {}
        for n, c in comp.items():
            groups.setdefault(c, set()).add(n)
        return {frozenset(g) for g in groups.values()}

    def run(window_s, wd):
        cfg = PipelineConfig(threshold=0.6, time_window_seconds=window_s)
        out = run_pipeline(spark, df, str(tmp_path / wd), cfg)
        groups = {}
        for r in out.collect():
            groups.setdefault(r["component"], set()).add(r["conv_id"])
        return {frozenset(g) for g in groups.values()}

    # fixture ts: member m of an entity starts 60s after member m-1,
    # so 90s keeps only ADJACENT members as direct edges (chains must
    # re-merge via CC) and a tight 30s window severs all entity pairs
    assert run(90.0, "w90") == brute(90.0)
    assert run(30.0, "w30") == brute(30.0)
    wide = run(1e9, "wide")
    assert wide == brute(1e9)
    assert wide == brute(None)  # wide window == unwindowed semantics
    # 30s severs every duplicate pair -> all singletons; 90s does not
    assert all(len(g) == 1 for g in run(30.0, "w30b"))
    assert any(len(g) > 1 for g in wide)


def test_pipeline_time_window_guards(spark, tmp_path):
    t_pdf, _ = make_transcripts(n_conv=30, seed=3)
    df = spark.createDataFrame(t_pdf)
    with pytest.raises(ValueError, match="time_window_seconds must be > 0"):
        run_pipeline(spark, df, str(tmp_path / "bad"),
                     PipelineConfig(threshold=0.6, time_window_seconds=0))
    # resume drift: windowed rerun over an unwindowed workdir is loud
    wd = str(tmp_path / "wd_tw")
    run_pipeline(spark, df, wd, PipelineConfig(threshold=0.6))
    with pytest.raises(ValueError, match="resume config mismatch.*candidates"):
        run_pipeline(spark, df, wd,
                     PipelineConfig(threshold=0.6, time_window_seconds=60.0))
    # incremental rejects the window outright
    from sparksimjoin.incremental import run_incremental

    with pytest.raises(ValueError, match="incremental"):
        run_incremental(spark, df, wd, str(tmp_path / "inc_tw"),
                        PipelineConfig(threshold=0.6, time_window_seconds=60.0))


class _FakeCatalog:
    """In-memory double of checkpoint.SparkCatalogAdapter: a dict of
    frozen table snapshots plus an operation log. replace_table
    collects and re-creates the frame (true snapshot isolation: later
    mutations of the input plan can never leak into a stored
    snapshot, matching Iceberg's swap semantics); the op log lets
    tests assert the data-before-manifest completion ordering."""

    def __init__(self, spark):
        self.spark = spark
        self.tables: dict[str, object] = {}
        self.manifests: dict[str, dict[str, str]] = {}
        self.ops: list[tuple] = []

    def ensure_root(self, root):
        self.ops.append(("ensure_root", root))
        self.manifests.setdefault(root, {})

    def read_table(self, root, name):
        self.ops.append(("read_table", root, name))
        return self.tables[f"{root}.{name}"]

    def replace_table(self, root, name, df):
        self.ops.append(("replace_table", root, name))
        snap = self.spark.createDataFrame(df.collect(), df.schema)
        self.tables[f"{root}.{name}"] = snap
        return snap

    def manifest_rows(self, root):
        self.ops.append(("manifest_rows", root))
        rows = list(self.manifests.get(root, {}).items())
        return self.spark.createDataFrame(
            rows or self.spark.sparkContext.emptyRDD(),
            "stage string, manifest string",
        )

    def upsert_manifest(self, root, stage, manifest_json):
        self.ops.append(("upsert_manifest", root, stage))
        self.manifests[root][stage] = manifest_json


def test_iceberg_branch_logic_with_catalog_double(spark):
    """Every line of CheckpointManager's fmt='iceberg' branch —
    exists / read / manifest / write / get_or_compute resume /
    all_manifests — driven through an injected catalog double, so
    the branch is really tested in-sandbox and only the jar probe +
    SparkCatalogAdapter bodies stay jar-gated (round-4 item 5)."""
    from sparksimjoin.checkpoint import CheckpointManager

    cat = _FakeCatalog(spark)
    ckpt = CheckpointManager(spark, "local.simjoin_run", fmt="iceberg",
                             catalog=cat)
    assert ("ensure_root", "local.simjoin_run") in cat.ops
    assert not ckpt.exists("stage_a")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(7).selectExpr("id", "id * 2 AS v")

    df1 = ckpt.get_or_compute("stage_a", compute, inputs=["src"],
                              extra={"threshold": 0.6})
    assert df1.count() == 7 and ckpt.exists("stage_a") and calls == [1]
    # completion ordering contract: the data snapshot landed BEFORE
    # the manifest upsert (a crash between the two leaves the stage
    # incomplete, never a manifest pointing at missing data)
    t = cat.ops.index(("replace_table", "local.simjoin_run", "stage_a"))
    m = cat.ops.index(("upsert_manifest", "local.simjoin_run", "stage_a"))
    assert t < m
    # resume: second get_or_compute reads the snapshot, no recompute
    df2 = ckpt.get_or_compute("stage_a", compute)
    assert df2.count() == 7 and calls == [1]
    man = ckpt.manifest("stage_a")
    assert man["rows"] == 7 and man["inputs"] == ["src"]
    assert man["threshold"] == 0.6 and man["stage"] == "stage_a"
    assert man["schema"].startswith("struct<id:bigint")
    # snapshot replace: a re-write swaps the table AND the manifest
    ckpt.write(spark.range(3).selectExpr("id", "id AS v"), "stage_a")
    assert ckpt.manifest("stage_a")["rows"] == 3
    assert ckpt.read("stage_a").count() == 3
    # read of an uncheckpointed stage still refuses
    with pytest.raises(AssertionError, match="not checkpointed"):
        ckpt.read("missing")
    assert [mm["stage"] for mm in ckpt.all_manifests()] == ["stage_a"]


def test_iceberg_double_runs_full_pipeline(spark, transcripts, tmp_path):
    """The whole pipeline through the Iceberg code path (catalog
    double): same clusters as the parquet backend, byte for byte, and
    a full manifest chain in the __manifests 'table'."""
    from sparksimjoin.checkpoint import CheckpointManager

    cfg = PipelineConfig(threshold=0.6)
    pq_clusters = run_pipeline(
        spark, transcripts, str(tmp_path / "wd_pq"), cfg
    ).orderBy("conv_id").collect()

    cat = _FakeCatalog(spark)
    ckpt = CheckpointManager(spark, "local.simjoin_pipe", fmt="iceberg",
                             catalog=cat)
    ice_clusters = run_pipeline(
        spark, transcripts, str(tmp_path / "unused"), cfg, ckpt=ckpt
    ).orderBy("conv_id").collect()
    assert ice_clusters == pq_clusters
    stages = {m["stage"] for m in ckpt.all_manifests()}
    assert {"records", "token_ranks", "tokens", "candidates",
            "scored", "clusters"} <= stages
