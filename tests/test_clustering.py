from __future__ import annotations

import pytest

import sparksimjoin.clustering as clustering
from sparksimjoin.clustering import CCStats, connected_components
from sparksimjoin.fixtures import make_edge_fixtures
from sparksimjoin.naive import naive_connected_components

LONG = "l_id long, r_id long"
STRING = "l_id string, r_id string"

# name -> (edge schema, raw edges; null endpoints allowed)
GRAPHS = {name: (LONG, edges) for name, edges in make_edge_fixtures().items()}
GRAPHS.update({
    # "é" sorts after "e" and "z" in both Python and Spark (UTF-8 byte
    # order is code point order), so min-id labels agree
    "strings": (STRING, [("b", "a"), ("c", "b"), ("x", "y"), ("é", "e"),
                         ("z", "z"), ("Z", "a"), ("e", "z")]),
    "null_endpoints": (LONG, [(1, None), (None, 2), (None, None), (4, 3),
                              (3, 5)]),
    "self_loops_only": (LONG, [(5, 5), (9, 9), (5, 5)]),
    "duplicate_reversed": (LONG, [(3, 1), (1, 3), (1, 3), (4, 3), (3, 4),
                                  (10, 2), (2, 10), (10, 2)]),
})


def _force_distributed(monkeypatch):
    monkeypatch.setattr(clustering, "LOCAL_CC_EDGE_CAP", 0)


def _expected(edges):
    return naive_connected_components(
        [(a, b) for a, b in edges if a is not None and b is not None]
    )


def _cc(spark, schema, edges, **kw):
    stats = CCStats()
    df = spark.createDataFrame(edges, schema)
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, stats=stats, **kw).collect()
    }
    return got, stats


# the driver-side path keeps the plain graph name as its test id
@pytest.mark.parametrize("name,path", [
    pytest.param(n, p, id=n if p == "local" else f"{n}-{p}")
    for n in GRAPHS for p in ("local", "distributed")
])
def test_connected_components(spark, monkeypatch, name, path):
    if path == "distributed":
        _force_distributed(monkeypatch)
    schema, edges = GRAPHS[name]
    got, stats = _cc(spark, schema, edges)
    assert got == _expected(edges), name
    if path == "local":
        assert stats.rounds == 0, (name, stats.rounds)
    else:
        # large-star/small-star converges in O(log n) rounds
        assert 1 <= stats.rounds <= 12, (name, stats.rounds)


@pytest.mark.parametrize("extra,local", [(0, True), (1, False)])
def test_cc_local_cap_counts_raw_rows(spark, monkeypatch, extra, local):
    """The cap counts raw non-null edge rows — duplicates and
    self-loops included, null endpoints excluded. Exactly ``cap`` rows
    stay on the driver; ``cap + 1`` take the distributed rounds."""
    edges = [(1, 2), (2, 1), (1, 2), (7, 7), (8, 9), (None, 3)]
    edges += [(9, 10)] * extra
    monkeypatch.setattr(clustering, "LOCAL_CC_EDGE_CAP", 5)
    got, stats = _cc(spark, LONG, edges)
    assert got == _expected(edges)
    assert (stats.rounds == 0) == local, stats.rounds


def test_cc_non_driver_id_type_stays_distributed(spark):
    """Ids the driver cannot order exactly as Spark does (here doubles)
    keep the distributed rounds, however small the graph."""
    edges = [(1.5, 2.5), (2.5, 0.5), (7.0, 7.0)]
    got, stats = _cc(spark, "l_id double, r_id double", edges)
    assert got == _expected(edges)
    assert stats.rounds >= 1


def test_cc_local_path_one_job_no_persist(spark, tmp_path, spark_jobs):
    """At or under the cap, a single-file edge checkpoint costs one
    Spark job (the bounded probe) and persists nothing."""
    edges = [(i, i + 1) for i in range(0, 200, 2)] + [(3, 5), (5, 7)]
    spark.createDataFrame(edges, LONG).coalesce(1).write.parquet(
        str(tmp_path / "e"))
    df = spark.read.parquet(str(tmp_path / "e"))

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    stats = CCStats()
    with spark_jobs() as jobs:
        out = connected_components(df, stats=stats)
    assert len(jobs) == 1, jobs
    assert persisted() == before
    assert stats.rounds == 0
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == naive_connected_components(edges)


def test_cc_deep_chain_logarithmic_rounds(spark, monkeypatch):
    """Adversarial-depth guard for max_rounds=50 on the distributed
    path: a 10k-node path graph (diameter 9999 — naive label
    propagation would need ~10k rounds) must converge in O(log n)
    star-contraction rounds, far under the default cap, with the
    correct single component."""
    _force_distributed(monkeypatch)
    n = 10_000
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, LONG)
    stats = CCStats()
    comp = connected_components(df, stats=stats)
    distinct_components = comp.select("component").distinct().count()
    assert distinct_components == 1
    assert comp.count() == n
    assert 1 <= stats.rounds <= 20, stats.rounds


def test_cc_round_checkpoints_written(spark, tmp_path):
    """Per-round manifests land via the round_checkpoint hook — the
    mid-run resume points the north rule asks for. The hook keeps the
    distributed path even for a graph under the local cap."""
    from sparksimjoin.checkpoint import CheckpointManager

    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, LONG)
    ckpt = CheckpointManager(spark, str(tmp_path))
    stats = CCStats()

    def round_ckpt(d, rnd):
        return ckpt.write(d, f"cc_round_{rnd}", inputs=["edges"])

    comp = connected_components(df, round_checkpoint=round_ckpt, stats=stats)
    assert comp.select("component").distinct().count() == 1
    names = {m["stage"] for m in ckpt.all_manifests()}
    # one checkpoint per completed round (plus the initial round -1)
    assert stats.rounds >= 1
    assert f"cc_round_{stats.rounds - 1}" in names
    assert all(f"cc_round_{r}" in names for r in range(stats.rounds))
