"""Transitive clustering: iterative connected components over the
above-threshold pair edges (north_rule, BASELINE.json:14 — NOT in the
reference; greenfield per SURVEY.md §2.4).

Two paths, chosen by one size rule (``LOCAL_CC_EDGE_CAP``):

- *Local*: one bounded probe (``limit(cap + 1).collect()``) over the
  raw non-null edges. When at most ``LOCAL_CC_EDGE_CAP`` rows come
  back, the driver solves the graph with a union-find and returns the
  assignment as a local DataFrame. No rounds run (``CCStats.rounds ==
  0``) and nothing is persisted. On an edge set larger than the cap
  the probe stops after about cap + 1 rows.
- *Distributed*: alternating large-star / small-star (Kiveris et al.,
  SoCC 2014) expressed as plain DataFrame ops — each round is two
  groupBy-min exchanges; converges in O(log n) rounds on any graph.
  Each round truncates lineage (``localCheckpoint``, or durable
  storage through the ``round_checkpoint`` hook) and emits per-round
  convergence counters. Taken when the probe overflows the cap, when
  the ids are neither integral nor default-collation strings (the
  driver compares ids as Python values, which agrees with Spark only
  for those types), and always when a ``round_checkpoint`` hook asks
  for per-round artifacts.

Both paths label a component by its minimum member id.

No GraphX/GraphFrames (Python-native requirement); no RDDs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType, StructField, StructType

from .cache import track

# Edge-count cap of the driver-side path: at most this many raw
# (non-null, non-distinct) edges are collected and solved with a
# union-find on the driver; above it the distributed star rounds run.
#
# Calibration anchors (4-core host, local[4], 2 GB driver heap,
# first-touch ~1.2 GB/s; random graphs of n edges over n ids read from
# a 4-file parquet edge set; time to an aggregate over the assignment,
# min of 2, identical assignments on both paths):
#
#     edges      long ids: local / distributed   string ids
#     10^3         0.56 s /  4.17 s                0.37 s /  3.26 s
#     10^4         0.54 s /  4.54 s                0.46 s /  4.21 s
#     10^5         1.15 s /  7.27 s                1.29 s / 10.79 s
#     2*10^5       1.94 s / 10.55 s                3.16 s / 17.21 s
#     5*10^5       4.51 s / 18.26 s                7.31 s / 31.42 s
#     10^6         8.97 s / 29.85 s               12.45 s / 62.84 s
#
# The distributed path's floor is ~3-4 s of per-round jobs (two star
# exchanges, a localCheckpoint and a signature job per round), so on
# four cores the driver wins at every measured size. The cap is
# therefore a driver budget, not that crossover: the local path is
# serial Python (~9-16 us per edge) and holds every edge in the driver
# (+110 MB peak Python RSS at 2*10^5 string edges), while the star
# rounds scale out with the cluster. 200,000 keeps the driver path
# near 2-3 s and ~100 MB, where the distributed path still costs
# 5x more here.
LOCAL_CC_EDGE_CAP = 200_000


@dataclass
class CCStats:
    rounds: int = 0
    round_changes: list[int] = field(default_factory=list)


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor v to
    min(N(u) ∪ {u}). Returns new edge set."""
    nbrs = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    m = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.withColumn("mn", F.least(F.col("mn"), F.col("u")))
    return (
        nbrs.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect all neighbors <= u (and u) to the
    minimum among them. Operates on edges oriented high->low."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("src") != F.col("dst"))
    m = oriented.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        oriented.join(m, "u")
        .select(F.col("v").alias("src"), F.col("mn").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .unionAll(m.select(F.col("u").alias("src"), F.col("mn").alias("dst")))
        .distinct()
    )


def _union_find(pairs) -> dict:
    """{node: min member id of its component} for an iterable of
    (a, b) edges. Union links the larger root under the smaller, so
    every root is its set's minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "l_id",
    dst: str = "r_id",
    max_rounds: int = 50,
    round_checkpoint=None,
    stats: CCStats | None = None,
) -> DataFrame:
    """-> DataFrame(id, component) where component is the minimum
    member id of the node's connected component. Nodes appearing only
    in self-loops / singleton edges map to themselves.

    Edge sets of at most ``LOCAL_CC_EDGE_CAP`` raw rows are solved on
    the driver (module docstring) and report ``stats.rounds == 0``.
    Larger ones run the distributed star rounds: each round truncates
    lineage via ``localCheckpoint`` or, when ``round_checkpoint(df,
    round_idx) -> df`` is supplied (the pipeline's parquet/Iceberg
    checkpointer), through durable storage — passing the hook always
    takes this path, so the per-round artifacts exist. Convergence =
    the star-contraction reaches a fixpoint.
    """
    raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    # the node column's type: a union widens src/dst (analysis only)
    id_type = (
        raw.select(F.col("src").alias("id"))
        .unionAll(raw.select(F.col("dst").alias("id")))
        .schema["id"].dataType
    )
    # the driver orders and compares ids as Python values, which agrees
    # with Spark for integral and default-collation string ids only
    driver_ids = isinstance(id_type, IntegralType) or id_type == StringType()
    if round_checkpoint is None and driver_ids:
        rows = raw.limit(LOCAL_CC_EDGE_CAP + 1).collect()
        if len(rows) <= LOCAL_CC_EDGE_CAP:
            if stats is not None:
                stats.rounds = 0
            schema = StructType(
                [StructField("id", id_type), StructField("component", id_type)]
            )
            comp = _union_find(rows)  # Rows unpack as (src, dst)
            return edges.sparkSession.createDataFrame(
                list(comp.items()), schema, verifySchema=False
            )
    e = raw.distinct()
    nodes = track(
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    e = e.where(F.col("src") != F.col("dst"))

    def _ckpt(df: DataFrame, rnd: int) -> DataFrame:
        if round_checkpoint is not None:
            return round_checkpoint(df, rnd)
        return df.localCheckpoint(eager=True)

    def _sig(df: DataFrame) -> tuple:
        # order-insensitive multiset signature: (count, sum of row
        # hashes) — one cheap agg instead of two exceptAll shuffles
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    e = _ckpt(e, -1)
    prev_sig = _sig(e)
    # NOTE (round-6 optimization attempt, REVERTED): skipping the
    # per-round localCheckpoint for small graphs looked like ~1s of
    # saved materialization latency, but the star transforms reference
    # their input 2-3x each (unionAll of selects / join + union), so
    # an un-truncated plan grows EXPONENTIALLY (~4x per round) and
    # Catalyst analysis stalls within a few rounds. The per-round
    # truncation is load-bearing for this algorithm at every scale.
    for rnd in range(max_rounds):
        e1 = _large_star(e).localCheckpoint(eager=True)
        e2 = _ckpt(_small_star(e1), rnd)
        # convergence: the star-contracted edge set is a fixpoint
        cur_sig = _sig(e2)
        changed = 0 if cur_sig == prev_sig else 1
        prev_sig = cur_sig
        if stats is not None:
            stats.rounds = rnd + 1
            stats.round_changes.append(changed)
        e = e2
        if changed == 0:
            break
    comp = e.groupBy("src").agg(F.min("dst").alias("component")).select(
        F.col("src").alias("id"), "component"
    )
    out = (
        nodes.join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    return out


def refine_clusters(
    assign: DataFrame,
    edges: DataFrame,
    tighten_threshold: float,
    max_cluster_size: int | None = None,
    min_density: float | None = None,
    id_col: str = "id",
    cluster_col: str = "component",
    l_col: str = "l_id",
    r_col: str = "r_id",
    score_col: str = "_sim_score",
    comp_op: str = ">=",
    max_rounds: int = 50,
    validate_labels: bool = False,
) -> DataFrame:
    """Split suspect clusters by re-running connected components on
    their intra-cluster edges at a TIGHTER threshold — the standard
    repair for transitive clustering's bad-merge failure (two dense
    groups bridged by one borderline pair; ``cluster_audit``'s
    density statistic is its signature, this operator acts on it).

    A cluster is SUSPECT when ``n_records > max_cluster_size`` or
    ``density < min_density`` (density = intra-edges / C(n,2), the
    audit definition; singletons are never suspect). Suspect
    clusters' members are re-clustered over only their intra-cluster
    edges passing ``comp_op(score, tighten_threshold)``; every other
    cluster passes through UNTOUCHED — labels, membership, bytes.
    Members that lose all their edges become singletons labeled by
    their own id.

    ``assign`` must follow :func:`connected_components`' labeling
    convention (cluster label = the minimum MEMBER id, same type as
    ``id_col``): refined sub-clusters are labeled by their minimum
    member id, which can then never collide with a kept cluster's
    label because member sets are disjoint. An arbitrary foreign
    labeling could alias a kept label. The dtype check below catches
    type-level violations only — a foreign INTEGER labeling of the
    same dtype passes it, and refined labels could then silently
    alias a kept cluster's label. Pass ``validate_labels=True`` to
    additionally run an exact semantic probe (one map-side-combinable
    aggregation: every distinct label must appear as a member id of
    its own cluster) before building the plan; it is off by default
    only because it forces an eager pass over ``assign``, breaking
    this operator's otherwise fully-lazy contract.

    Scale: the suspect decision is two keyed aggregations over the
    assignment/edge rows (map-side combinable — one mega-cluster is
    one pre-combined reduce key); only suspect clusters' edges enter
    the O(log n)-round CC, so the refine pass costs proportional to
    what is actually broken, not to the corpus. No windows, no
    driver-side data.
    """
    if max_cluster_size is None and min_density is None:
        raise ValueError(
            "at least one of max_cluster_size / min_density is required"
        )
    if max_cluster_size is not None and max_cluster_size < 1:
        raise ValueError(f"max_cluster_size must be >= 1, got {max_cluster_size}")
    if min_density is not None and not (0 < min_density <= 1):
        raise ValueError(f"min_density must be in (0, 1], got {min_density}")
    from .filter_math import COMP_OP_MAP

    if comp_op not in COMP_OP_MAP:
        raise ValueError(f"unknown comp_op {comp_op!r}")
    id_type = dict(assign.dtypes)[id_col]
    lab_type = dict(assign.dtypes)[cluster_col]
    if id_type != lab_type:
        raise ValueError(
            f"cluster labels must be member ids ({id_col}: {id_type}), got "
            f"{cluster_col}: {lab_type} — refine_clusters requires the "
            "connected_components labeling convention"
        )
    if validate_labels:
        # exact semantic probe (eager, one aggregation): under the
        # min-member-id convention every distinct label appears as a
        # member id of its own cluster, so #distinct labels ==
        # #rows where id == label (ids are unique per assignment)
        probe = assign.agg(
            F.countDistinct(cluster_col).alias("__nlab"),
            F.count(
                F.when(F.col(id_col) == F.col(cluster_col), 1)
            ).alias("__nself"),
        ).collect()[0]
        if int(probe["__nlab"]) != int(probe["__nself"]):
            raise ValueError(
                f"{int(probe['__nlab']) - int(probe['__nself'])} cluster "
                "label(s) are not member ids of their own cluster — "
                "refine_clusters requires connected_components' "
                "min-member-id labeling (foreign labelings could alias "
                "a kept cluster's label)"
            )

    lab = track(assign.select(
        F.col(id_col).alias("__id"), F.col(cluster_col).alias("__c")
    ))
    # intra-cluster edges (same shape as cluster_audit): foreign /
    # cross-cluster edges are ignored
    e = (
        edges.select(
            F.col(l_col).alias("__l"),
            F.col(r_col).alias("__r"),
            F.col(score_col).cast("double").alias("__s"),
        )
        .where(F.col("__l") != F.col("__r"))
        .join(lab.withColumnRenamed("__id", "__l"), "__l")
        .withColumnRenamed("__c", "__lc")
        .join(lab.withColumnRenamed("__id", "__r"), "__r")
        .where(F.col("__lc") == F.col("__c"))
        .select("__l", "__r", "__s", F.col("__c").alias("__ec"))
    )
    # undirected edge dedup (best score) so a caller passing both
    # orientations cannot double-count density
    e = track(
        e.select(
            F.least("__l", "__r").alias("__l"),
            F.greatest("__l", "__r").alias("__r"),
            "__s", "__ec",
        )
        .groupBy("__l", "__r", "__ec")
        .agg(F.max("__s").alias("__s"))
    )

    sizes = lab.groupBy("__c").agg(F.count(F.lit(1)).alias("__n"))
    supp = e.groupBy(F.col("__ec").alias("__c")).agg(
        F.count(F.lit(1)).alias("__m")
    )
    stats = sizes.join(supp, "__c", "left").select(
        "__c", "__n", F.coalesce("__m", F.lit(0)).alias("__m")
    )
    suspect = F.lit(False)
    if max_cluster_size is not None:
        suspect = suspect | (F.col("__n") > max_cluster_size)
    if min_density is not None:
        nd = F.col("__n").cast("double")
        suspect = suspect | (
            (F.col("__n") > 1)
            & (F.col("__m").cast("double") / (nd * (nd - 1) / 2.0)
               < min_density)
        )
    bad = track(stats.where(suspect).select("__c"))

    kept = lab.join(bad, "__c", "left_anti").select(
        F.col("__id").alias(id_col), F.col("__c").alias(cluster_col)
    )
    members = lab.join(bad, "__c", "left_semi").select("__id")
    tight = (
        e.join(bad.withColumnRenamed("__c", "__ec"), "__ec", "left_semi")
        .where(COMP_OP_MAP[comp_op](F.col("__s"), F.lit(float(tighten_threshold))))
        .select(F.col("__l").alias("l_id"), F.col("__r").alias("r_id"))
    )
    sub = connected_components(tight, "l_id", "r_id", max_rounds=max_rounds)
    refined = (
        members.join(sub, members["__id"] == sub["id"], "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("component", F.col("__id")).alias(cluster_col),
        )
    )
    return kept.unionAll(refined)
