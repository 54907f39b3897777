"""Similarity search over embedding columns (beyond the reference;
task brief): brute-force cosine top-k as the exactness baseline, and
a random-hyperplane LSH-bucketed variant as the scale path.

Scoring and the LSH bucket signatures are vectorized numpy over
Arrow batches (pandas UDFs) — a Column-expression dot product via
``F.aggregate`` is an interpreted higher-order function, ~100x slower
at pair volume.

``brute_force_topk`` is fully distributed: a block nested-loop over
(query-chunk x base-chunk) cogroups, each task doing one numpy matmul
and emitting a per-chunk partial top-k, merged by a final window. No
``collect()``/driver-side broadcast anywhere — at 100 TB the driver
never sees the base table; each task holds one chunk pair. Exact
search is still O(Q*B) work by definition; ``lsh_topk`` is the
sub-quadratic path.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _partial_topk(qm, q_ids, bm, b_ids, k):
    """numpy: per query row, top-k (cosine desc, id asc) over bm,
    excluding self-matches. -> list of (qid, nid, cosine) rows.
    Zero-norm vectors (failed encoder output) score cosine 0.0, not
    NaN — NaN would sort FIRST under the callers' cosine-desc window
    and emit k garbage rows for that query."""
    qn = np.linalg.norm(qm, axis=1)
    bn = np.linalg.norm(bm, axis=1)
    qn[qn == 0] = 1.0
    bn[bn == 0] = 1.0
    sims = (qm @ bm.T) / np.outer(qn, bn)
    sims = np.round(sims, 6)
    rows = []
    for qi, qid in enumerate(q_ids):
        row = sims[qi]
        cand_idx = np.nonzero(b_ids != qid)[0]
        order = np.lexsort((b_ids[cand_idx], -row[cand_idx]))[:k]
        for j in cand_idx[order]:
            rows.append((qid, b_ids[j], float(row[j])))
    return rows


def _cogroup_topk(q_side: DataFrame, b_side: DataFrame, keys: list[str],
                  k: int, id_t: str) -> DataFrame:
    """Per-group partial top-k: ``q_side`` (query_id, _qv, *keys) and
    ``b_side`` (neighbor_id, _nv, *keys) meet in one cogroup per key
    group, where each query block scores against the group's base
    block as ONE numpy matmul (``_partial_topk``). The query block is
    sliced so the sims matrix stays <= ~16M doubles (128 MB) whatever
    the group size. -> (query_id, neighbor_id, cosine), at most k rows
    per (query, group); :func:`_merge_topk` takes the global top-k.

    Both children are pinned to the session parallelism (joins/core.
    blocked_pairs rationale): groups are few in bytes but each is a
    matmul task, and AQE's byte-based coalescing would fold them onto
    1-2 tasks. The explicit numbered repartition on the exact cogroup
    keys is reused by EnsureRequirements and exempt from coalescing."""
    cols = ["query_id", "neighbor_id", "cosine"]

    def score(_key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(columns=cols)
        bm = np.array(right["_nv"].tolist(), dtype=np.float64)
        b_ids = right["neighbor_id"].to_numpy()
        step = max(1, (1 << 24) // len(right))
        rows = []
        for s in range(0, len(left), step):
            sl = left.iloc[s:s + step]
            qm = np.array(sl["_qv"].tolist(), dtype=np.float64)
            rows.extend(
                _partial_topk(qm, sl["query_id"].to_numpy(), bm, b_ids, k)
            )
        return pd.DataFrame(rows, columns=cols)

    n_part = int(q_side.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        q_side.repartition(n_part, *keys).groupBy(*keys)
        .cogroup(b_side.repartition(n_part, *keys).groupBy(*keys))
        .applyInPandas(
            score, schema=f"query_id {id_t}, neighbor_id {id_t}, cosine double"
        )
    )


def _merge_topk(partial: DataFrame, k: int) -> DataFrame:
    """Global top-k merge of partial (query_id, neighbor_id, cosine)
    rows: cosine desc, neighbor id asc. -> (query_id, neighbor_id,
    cosine, rank)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    queries: DataFrame | None = None,
    n_chunks: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors per query row (excluding self).
    -> (query_id, neighbor_id, cosine, rank).

    Distributed block nested-loop: queries and base are hash-chunked,
    every (q-chunk, b-chunk) pair meets in one cogroup task (queries
    replicated across base chunks and vice versa — the replication
    factor is the chunk count, not the table size), each task emits a
    numpy-matmul partial top-k, and a window merges partials. Exact
    O(Q*B) scoring — the baseline/verifier; use lsh_topk at scale."""
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    c = max(n_chunks or math.isqrt(n_part), 1)
    id_t = df.schema[id_col].dataType.simpleString()

    qdf = (queries or df).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    bdf = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv"))
    chunks = spark.range(c).select(F.col("id").cast("int").alias("_rep"))
    q_rep = qdf.withColumn(
        "_qc", F.pmod(F.xxhash64("query_id"), F.lit(c)).cast("int")
    ).crossJoin(chunks.withColumnRenamed("_rep", "_bc"))
    b_rep = bdf.withColumn(
        "_bc", F.pmod(F.xxhash64("neighbor_id"), F.lit(c)).cast("int")
    ).crossJoin(chunks.withColumnRenamed("_rep", "_qc"))

    return _merge_topk(_cogroup_topk(q_rep, b_rep, ["_qc", "_bc"], k, id_t), k)


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _lsh_buckets(
    base: DataFrame, id_type: str, planes_by_table: np.ndarray
) -> DataFrame:
    """-> (id, tbl, sig): one Arrow-batched numpy matmul computes every
    table's signature for a batch of vectors (planes ride along in the
    task closure — a few KB)."""
    n_tables, n_planes, _ = planes_by_table.shape
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.array(pdf["_v"].tolist(), dtype=np.float64)
            out = {"id": np.repeat(pdf["id"].to_numpy(), n_tables),
                   "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf))}
            sigs = np.empty((len(pdf), n_tables), dtype=np.int64)
            for t in range(n_tables):
                bits = (vm @ planes_by_table[t].T) > 0
                sigs[:, t] = bits @ weights
            out["sig"] = sigs.reshape(-1)
            yield pd.DataFrame(out)

    return base.select("id", "_v").mapInPandas(
        gen, schema=f"id {id_type}, tbl int, sig long"
    )


def _lsh_scored_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int | None,
    seed: int,
    bucket_cap: int | None = None,
    metrics_out: dict | None = None,
    topk: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Shared LSH candidate+score stage: pairs sharing a bucket in
    >= 1 of ``n_tables`` hyperplane hash tables, exact cosine computed
    per bucket as ONE numpy self-matmul (the brute-force
    ``_partial_topk`` discipline: matmul + 6-dp round). -> distinct
    (query_id, neighbor_id, cosine) rows. Exactly one in-kernel
    reduction must be chosen so candidate pairs never materialize as
    Spark rows:

    - ``topk=k``: per bucket, each member's k best co-members
      (cosine desc, id asc), both orientations. Per-bucket top-k
      followed by the caller's global top-k is EXACT: a pair's cosine
      is bucket-independent, so any globally top-k neighbor of q is
      top-k within every bucket where the pair meets.
    - ``threshold=t``: pairs with cosine >= t, lesser-id-left
      orientation only.

    Duplicate meets across tables collapse via a per-pair max(cosine)
    aggregation (see the inline note on why not ``distinct``).

    ``bucket_cap``: LOSSY guard for the bucket self-join's quadratic
    term — a (table, signature) bucket holding more than ``cap``
    vectors is excluded from candidate generation entirely (a pair
    can still meet through the OTHER tables' buckets; only pairs
    whose every co-bucket is over-cap are lost). On clustered
    corpora — which real embedding corpora are — an under-planed
    config concentrates thousands of vectors into a few buckets and
    the self-join's Sigma(bucket^2) term explodes: measured at 200k
    planted-cluster vectors with n_planes=10, the uncapped distinct
    spilled past a 77 GB disk and killed the job. The right first
    fix is more planes (shrinks every bucket geometrically); the cap
    is the backstop for the skewed tail that remains at any plane
    count. Same no-silent-caps discipline as the joins'
    ``stop_token_cap``: pass ``metrics_out`` to receive
    ``dropped_buckets`` as a lazy observed metric riding the query's
    own action."""
    if (topk is None) == (threshold is None):
        raise ValueError("exactly one of topk/threshold must be set")
    if bucket_cap is not None and bucket_cap < 1:
        raise ValueError(
            f"bucket_cap must be >= 1 (got {bucket_cap}); pass None "
            "to disable the cap"
        )
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v")).repartition(
        n_part, "id"
    )
    planes_by_table = np.stack([_planes(dim, n_planes, seed + t) for t in range(n_tables)])
    buckets = _lsh_buckets(base, df.schema[id_col].dataType.simpleString(), planes_by_table)
    if bucket_cap is not None:
        from .cache import track
        from .joins.core import LazyObservedMetric
        from pyspark.sql import Observation

        # the hot-bucket aggregation consumes the UN-filtered plan on
        # the broadcast side while the main path scans buckets again —
        # without this persist the signature mapInPandas stage runs
        # twice per capped query (measured: the capped 10-plane 200k
        # run was slower than the uncapped one)
        buckets = track(buckets)
        hot = (
            buckets.groupBy("tbl", "sig")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .where(F.col("__bn") > bucket_cap)
            .select("tbl", "sig")
        )
        obs = Observation()
        observed = hot.observe(obs, F.count(F.lit(1)).alias("dropped_buckets"))
        # tbl=-1 sentinel (real tbl >= 0): keeps the broadcast
        # non-empty when NO bucket exceeds the cap, else AQE's
        # empty-relation propagation deletes the anti-join and the
        # CollectMetrics node with it (exclude_stop_tokens precedent)
        sentinel = buckets.sparkSession.range(1).select(
            F.lit(-1).cast("int").alias("tbl"),
            F.lit(-1).cast("long").alias("sig"),
        )
        buckets = buckets.join(
            F.broadcast(observed.unionAll(sentinel)), ["tbl", "sig"], "left_anti"
        )
        if metrics_out is not None:
            metrics_out["bucket_cap"] = bucket_cap
            metrics_out["dropped_buckets"] = LazyObservedMetric(
                obs, "dropped_buckets"
            )
    # vectors ride the BUCKET shuffle, not a per-candidate re-join:
    # each id shuffles n_tables rows of (id, sig, vector) ONCE into
    # its bucket groups, each bucket scores as one numpy self-matmul
    # inside applyInPandas, and the in-kernel reduction (top-k or
    # threshold) means candidate pairs NEVER exist as Spark rows.
    # Two prior shapes died or crawled at 200k clustered vectors:
    # candidates x vector-size re-joins filled a 77 GB disk at ~1e9
    # meets, and the per-row pandas cosine over the bucket equi-join
    # output moved ~1 kB per candidate through ArrowEvalPython + the
    # dedup/window shuffles (measured 87% of IVF wall, same disease).
    # Duplicate multi-table meets emit bit-identical rows, collapsed
    # by the closing distinct.
    # One Spark group PER BUCKET costs ~0.1 ms of pandas slicing per
    # group — ruinous in the over-planed regime where buckets are tiny
    # and numerous (measured 3.4x slower than the old equi-join at 16
    # planes / ~800k buckets on 200k vectors). Instead, buckets are
    # coarse-grouped by hash into ~32*n_part Spark groups (whole
    # buckets never split — the hash key is the full (tbl, sig)) and
    # the kernel iterates sub-buckets with ONE pandas groupby, so the
    # per-bucket overhead is a dict lookup, not an Arrow slice. A hot
    # bucket still lands in one group — the same one-task skew the
    # per-bucket shape had; rows per group stay ~N*tables/(32*n_part).
    bv = buckets.join(base, "id").select("tbl", "sig", "id", "_v")
    n_groups = 32 * n_part
    grp = bv.withColumn(
        "_g", F.pmod(F.xxhash64("tbl", "sig"), F.lit(n_groups)).cast("int")
    )
    # pin the kernel stage's parallelism (joins/core.candidate_pairs
    # rationale): the grouped rows are small in BYTES (ids + one
    # vector per table) but the kernel is matmul-CPU-heavy, so AQE's
    # byte-based coalescing collapses the groupBy exchange to 1-2
    # tasks and the whole scoring stage runs nearly serially
    # (measured: a 2-task 1.85s kernel stage = over half the warm
    # lsh_topk wall at sf0.1). The explicit numbered repartition on
    # the group key is reused by EnsureRequirements and is exempt
    # from AQE coalescing (REPARTITION_BY_NUM).
    grp = grp.repartition(n_part, "_g")
    k, t = topk, threshold

    def one_bucket(pdf: pd.DataFrame, out: list) -> None:
        vm = np.array(pdf["_v"].tolist(), dtype=np.float64)
        ids = pdf["id"].to_numpy()
        # slice the query block so the sims slice stays <= ~16M doubles
        step = max(1, (1 << 24) // len(pdf))
        if k is not None:
            for s in range(0, len(pdf), step):
                out.extend(_partial_topk(vm[s:s + step], ids[s:s + step],
                                         vm, ids, k))
            return
        norms = np.linalg.norm(vm, axis=1)
        norms[norms == 0] = 1.0
        for s in range(0, len(pdf), step):
            sims = np.round(
                (vm[s:s + step] @ vm.T)
                / np.outer(norms[s:s + step], norms), 6
            )
            qi, ni = np.nonzero(
                (sims >= t) & (ids[s:s + step, None] < ids[None, :])
            )
            # numpy triples, not Python tuples: threshold survivors are
            # O(bucket^2) in the worst case and tuple overhead is ~5x
            # the array bytes (an over-cap bucket is still bucket_cap's
            # job — this only widens the headroom below it)
            out.append((ids[s + qi], ids[ni], sims[qi, ni]))

    def group_kernel(_key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["query_id", "neighbor_id", "cosine"]
        out: list = []
        for _, sub in pdf.groupby(["tbl", "sig"], sort=False):
            if len(sub) >= 2:
                one_bucket(sub, out)
        if k is not None:
            return pd.DataFrame(out, columns=cols)
        if not out:
            return pd.DataFrame(columns=cols)
        return pd.DataFrame({
            "query_id": np.concatenate([o[0] for o in out]),
            "neighbor_id": np.concatenate([o[1] for o in out]),
            "cosine": np.concatenate([o[2] for o in out]),
        })

    # per-pair max, NOT distinct: a pair meeting in several tables'
    # buckets recomputes its cosine inside matmuls of different
    # shapes, and BLAS blocking makes the raw dot differ at ulp level
    # — two meets straddling a round(.,6) boundary would survive a
    # row-level distinct as two rows (double-counting the neighbor in
    # the top-k window). max() is order-free, so the collapse is
    # deterministic regardless of partitioning.
    id_t = df.schema[id_col].dataType.simpleString()
    return (
        grp.groupBy("_g")
        .applyInPandas(
            group_kernel,
            schema=f"query_id {id_t}, neighbor_id {id_t}, cosine double",
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
    bucket_cap: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Approximate cosine top-k: LSH bucket candidates + exact cosine
    rerank. -> (query_id, neighbor_id, cosine, rank). ``bucket_cap``/
    ``metrics_out``: the lossy hot-bucket guard — see
    :func:`_lsh_scored_candidates`. The stage pre-reduces to each
    query's per-bucket top-k (exact — see the stage docstring), so the
    global window merges at most k rows per (query, co-bucket)."""
    scored = _lsh_scored_candidates(df, id_col, vec_col, n_planes, n_tables,
                                    dim, seed, bucket_cap, metrics_out,
                                    topk=k)
    return _merge_topk(scored, k)


#: fixed-point scale for the k-means centroid update: per-dimension
#: member contributions are quantized to integers (floor(v*Q + 0.5))
#: and summed EXACTLY as longs, so the refined centroids are
#: bit-identical regardless of partitioning / engine summation order
#: (integer addition commutes; double summation does not) — the same
#: exact-integer-aggregation discipline as the weighted-join IDF
#: weights. The ~6e-8 per-component quantization is irrelevant for a
#: coarse quantizer that only gates recall.
_KMEANS_Q = float(1 << 24)


def _ivf_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_cells: int,
    kmeans_iters: int = 0,
) -> np.ndarray:
    """Deterministic coarse quantizer: the ``n_cells`` smallest-id
    vectors, optionally refined by ``kmeans_iters`` Lloyd iterations
    (assign = :func:`_ivf_assign` with n_probe=1; update = one
    JVM-side groupBy(cell) aggregation of exact integer-quantized
    per-dimension sums — see ``_KMEANS_Q``). Fixed iteration count,
    no convergence test: determinism over the marginal last-iteration
    gain, and the oracle harness replicates the identical unrolled
    iterations in SQL. Quantization only gates RECALL — candidates
    are exactly re-scored, so codebook quality never touches
    correctness. Collects are bounded by ``n_cells`` rows per
    iteration (a model parameter riding in task closures, like the
    LSH hyperplanes) — never corpus-sized; the seed's ORDER BY +
    LIMIT compiles to a distributed TakeOrdered. Empty cells keep
    their previous centroid (standard Lloyd convention)."""
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
        .orderBy("id").limit(n_cells).collect()
    )
    cents = np.array([list(r["_v"]) for r in rows], dtype=np.float64)
    if kmeans_iters <= 0:
        return cents
    dim = cents.shape[1]
    id_t = df.schema[id_col].dataType.simpleString()
    # cached: every Lloyd iteration scans base twice (the mapInPandas
    # assignment + the re-join fetching _v for the update), so an
    # expensive upstream lineage would otherwise re-execute 2x per
    # iteration; unpersisted before return
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v")).cache()
    for _ in range(kmeans_iters):
        asg = _ivf_assign(base, id_t, cents, 1)
        # dim-independent Lloyd update: posexplode the vector and
        # aggregate one narrow (cell, pos) histogram instead of one
        # Catalyst sum-expression per dimension — at production
        # embedding widths (768-1536) the per-dim form hits
        # codegen/planning limits long before data-size limits. The
        # summed quantities are the identical floor(v*Q + 0.5)
        # integers (exact, order-independent), so the collected
        # centroids are bit-identical to the per-dim aggregation the
        # SQL oracle replicates; the collect stays model-sized
        # (n_cells * dim rows).
        got = (
            base.join(asg, "id")
            .select("cell", F.posexplode("_v").alias("pos", "__x"))
            .groupBy("cell", "pos")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(
                    F.floor(F.col("__x") * F.lit(_KMEANS_Q) + F.lit(0.5))
                ).alias("__s"),
            )
            .collect()
        )
        for r in got:  # cells with no members keep their centroid
            cents[int(r["cell"])][int(r["pos"])] = (
                int(r["__s"]) / int(r["__n"])
            ) / _KMEANS_Q
    base.unpersist()
    return cents


def _ivf_assign(
    base: DataFrame, id_type: str, centroids: np.ndarray, n_probe: int
) -> DataFrame:
    """-> (id, cell): each vector's ``n_probe`` nearest cells by
    cosine (rounded to 6 decimals for cross-engine tie parity; ties
    broken by lower cell index). One numpy matmul per Arrow batch."""
    c_norms = np.linalg.norm(centroids, axis=1)
    c_norms[c_norms == 0] = 1.0

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.array(pdf["_v"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(vm, axis=1)
            norms[norms == 0] = 1.0
            sims = np.round((vm @ centroids.T) / np.outer(norms, c_norms), 6)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            yield pd.DataFrame({
                "id": np.repeat(pdf["id"].to_numpy(), order.shape[1]),
                "cell": order.reshape(-1).astype(np.int32),
            })

    return base.select("id", "_v").mapInPandas(
        gen, schema=f"id {id_type}, cell int"
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 2,
    list_chunks: int = 1,
) -> DataFrame:
    """IVF (inverted-file) approximate cosine top-k: a coarse
    quantizer (smallest-id seed + ``kmeans_iters`` deterministic
    Lloyd refinements, :func:`_ivf_centroids`) partitions the corpus
    into ``n_cells`` inverted lists (each base vector in its single
    nearest cell); each query probes its ``n_probe`` nearest cells
    and is exactly re-scored against only those lists.
    -> (query_id, neighbor_id, cosine, rank).

    The cell-structured alternative to ``lsh_topk``: recall degrades
    gracefully with ``n_probe/n_cells`` instead of with hyperplane
    count. Because a base vector lives in exactly ONE cell, a
    (query, neighbor) pair meets at most once across the probed cells
    — so a per-cell top-k followed by the global window merge IS the
    exact top-k of the full candidate set, no distinct/dedup shuffle
    at all (vs the LSH multi-table bucket join).

    Scale: assignment is one numpy matmul per Arrow batch with the
    centroid matrix in the task closure; the probe is a cogroup on
    ``cell`` — each cell's (probes x list) block scores as ONE numpy
    matmul (``_partial_topk``, the brute-force kernel) and emits at
    most ``k`` rows per probing query, so candidate pairs are never
    materialized as rows at all. The pre-cogroup shape (equi-join on
    cell + per-row pandas cosine) moved every candidate as a ~1 kB
    wide row through ArrowEvalPython and the top-k window: measured
    87% of wall at 60k vectors and 716M candidates at 200k; the
    cogroup computes identical cosines (same matmul + 6-dp round as
    brute_force_topk, whose oracle is hash-green) at matmul speed.
    Size ``n_cells`` ~ sqrt(N) at scale (standard IVF sizing) so each
    inverted list stays executor-sized; within a task the query block
    is sliced so the sims matrix stays bounded regardless of cell
    size.

    ``list_chunks``: one cell = one cogroup task, so a cell far above
    the sizing rule (an adversarially dense clump the quantizer can't
    split below n_cells resolution) becomes one wall-clock straggler.
    ``list_chunks=j`` hash-splits every cell's inverted list j ways
    and replicates the probe side per chunk (brute_force_topk's
    chunking idea applied per cell): per-(cell, chunk) top-k followed
    by the same global window merge is still the exact top-k of the
    candidate set (top-k of a union = top-k over per-subset top-ks,
    and a pair still meets exactly once). Cost: the probe side's
    vector shuffle multiplies by j — keep 1 unless cell skew is
    observed."""
    if list_chunks < 1:
        raise ValueError(f"list_chunks must be >= 1 (got {list_chunks})")
    id_t = df.schema[id_col].dataType.simpleString()
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    cents = _ivf_centroids(df, id_col, vec_col, n_cells,
                           kmeans_iters=kmeans_iters)
    lists = _ivf_assign(base, id_t, cents, 1)
    probes = _ivf_assign(base, id_t, cents, n_probe)
    q_side = probes.join(base, "id").select(
        F.col("id").alias("query_id"), "cell", F.col("_v").alias("_qv")
    )
    b_side = lists.join(base, "id").select(
        F.col("id").alias("neighbor_id"), "cell", F.col("_v").alias("_nv")
    )
    if list_chunks > 1:
        spark = df.sparkSession
        chunks = spark.range(list_chunks).select(
            F.col("id").cast("int").alias("_ch")
        )
        q_side = q_side.crossJoin(chunks)
        b_side = b_side.withColumn(
            "_ch",
            F.pmod(F.xxhash64("neighbor_id"), F.lit(list_chunks)).cast("int"),
        )
    keys = ["cell"] if list_chunks == 1 else ["cell", "_ch"]
    return _merge_topk(_cogroup_topk(q_side, b_side, keys, k, id_t), k)


def embedding_neardup(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95,
    n_planes: int = 8, n_tables: int = 4, seed: int = 42,
    bucket_cap: int | None = None, metrics_out: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidates +
    exact verify. -> (l_id, r_id, cosine).

    Applies ``cosine >= threshold`` inside the bucket kernel — no
    top-k ``row_number`` window, and sub-threshold pairs never exist
    as rows. A window version would sort every candidate per query,
    and on a skewed bucket (many collisions on one query id) that
    per-query sort becomes one hot task; the in-kernel filter stays
    embarrassingly parallel. ``bucket_cap``/``metrics_out``: the
    lossy hot-bucket guard — see :func:`_lsh_scored_candidates`."""
    scored = _lsh_scored_candidates(df, id_col, vec_col, n_planes, n_tables,
                                    None, seed, bucket_cap, metrics_out,
                                    threshold=threshold)
    return scored.select(
        F.col("query_id").alias("l_id"),
        F.col("neighbor_id").alias("r_id"),
        "cosine",
    )
