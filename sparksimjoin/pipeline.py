"""End-to-end record-linkage pipeline over conversation transcripts
(north_rule / input_hint, BASELINE.json:14-15; SURVEY.md §7):

  transcripts(conv_id, turn_idx, role, text, tool, ts)
    S0 records: per-conversation doc string, turns concatenated in
       stable (conv_id, turn_idx) order — deterministic (array_sort on
       struct, never bare collect_list order)
    S1 tokens:  tokenize + global rarity ordering (checkpointed — the
       blocking and scoring stages both consume it, and it is the
       resume point after a kill)
    S2 candidates: prefix-blocked salted token join
    S3 scored: exact set-sim verify, threshold filter
    S4 clusters: connected components (clustering.py): driver-side
       union-find for small edge sets, else large-star/small-star
       rounds (durable per-round checkpoints only with
       cc_round_artifacts); singletons keep their own conv_id

Every stage is checkpointed through CheckpointManager with
per-partition counters + lineage, and re-entry skips completed stages
(kill/resume equivalence is tested in tests/test_pipeline.py). The
candidates and scored manifests record the config that identifies
them (:func:`stage_params`); a resume under different config fails
loudly instead of reading back stale stages.

This module also holds the stage helpers that incremental.py's batch
driver shares: :func:`record_tokens`, :func:`stage_params` with
:func:`stage_param_drift`, :func:`candidate_id_space`,
:func:`cc_round_hook`, :func:`label_components` and
:func:`tokens_join_strategy`. Stop-token exclusion is
joins/core.exclude_stop_tokens, the one used by every blocked funnel.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .cache import scoped_caches
from .checkpoint import CheckpointManager
from .clustering import connected_components
from .filter_math import JACCARD
from .joins.core import (
    build_salt_map,
    build_token_ranks,
    candidate_pairs,
    check_stop_token_cap,
    ensure_iid,
    exclude_stop_tokens,
    order_tokens,
    prefix_explode,
    resolve_salt_cap,
    tokenize_table,
    verify_pairs,
)
from .tokenizers import Tokenizer, WhitespaceTokenizer


@dataclass
class PipelineConfig:
    measure: str = JACCARD
    threshold: float = 0.7
    comp_op: str = ">="
    tokenizer: Tokenizer = WhitespaceTokenizer()
    # hot-token split threshold; None -> joins/core.AUTO_SALT_CAP.
    # Salting is always on: the pinned-parallelism candidate join
    # opts out of AQE skew splitting (joins/core.candidate_pairs)
    salt_cap: int | None = None
    # tokens with doc frequency above this cap are excluded from the
    # BLOCKING join keys (never from verification). Lossy: a pair whose
    # only shared prefix token is a stop token is missed — so the cap
    # must sit far above correctness-relevant frequencies (SURVEY.md
    # §4 item 3); the number of dropped tokens is recorded in the
    # candidates manifest ("no silent caps"). None = off (default, and
    # required for the parity/F1 gates).
    stop_token_cap: int | None = None
    # temporal blocking (input_hint ts column): when set, candidate
    # pairs additionally require |min(ts)_l - min(ts)_r| <=
    # time_window_seconds (conversation start times within the
    # window). SEMANTIC knob, not a plan knob: pairs outside the
    # window are excluded from linkage entirely — retries/
    # double-submits cluster in time, far-apart near-identical text
    # is often boilerplate, not identity. None = off (the F1-gate
    # default). Applied BEFORE verification, so the expensive
    # set-similarity work is skipped for out-of-window candidates.
    time_window_seconds: float | None = None
    # physical strategy for the verify stage's two token-array
    # lookups (joins/core.verify_pairs tokens_join): records-count
    # threshold below which the token side is explicitly BROADCAST
    # (no shuffle of the candidate stream) and above which the join
    # is pinned to SHUFFLE_HASH (hash join, no sort — never the
    # sort-merge fallback that sorts every candidate row with both
    # token arrays attached; measured filling a 77 GB disk at 250k
    # records / 530M candidates when Catalyst's mid-plan estimate
    # tipped past autoBroadcastJoinThreshold). ~1M records x ~400 B
    # of token array ~= 400 MB broadcast, comfortably
    # executor-sized; raise/lower to taste per cluster.
    tokens_broadcast_cap: int = 1_000_000
    # byte-level guard on the same decision (ADVICE r5): the row cap
    # alone mis-sizes wide documents, and the verify stage broadcasts
    # BOTH token-side projections (AQE usually collapses them into one
    # reused broadcast stage, but sizing must assume the worst). For
    # the parquet backend the tokens checkpoint's on-disk bytes are
    # free information: estimated in-memory relation ~= parquet bytes
    # x TOKENS_BROADCAST_EXPANSION, and broadcast is only chosen when
    # BOTH the row cap and this byte budget hold. Iceberg checkpoints
    # fall back to the row cap alone.
    tokens_broadcast_bytes_cap: int = 256 << 20
    max_cc_rounds: int = 50
    # durable per-round CC checkpoints (cc_round_N stages). OFF by
    # default: resume NEVER read them back (a kill mid-CC resumes
    # from `scored` and redoes the contraction — the rounds were
    # write-only cost, one parquet write + manifest per round), and
    # lineage truncation — their in-plan function — is served by
    # localCheckpoint exactly as connected_components does without a
    # hook. Turn on to keep the per-round edge sets as debugging
    # artifacts; this always takes the distributed star rounds, even
    # for edge sets small enough for the driver-side path
    # (clustering.LOCAL_CC_EDGE_CAP).
    cc_round_artifacts: bool = False
    # also checkpoint an `audit` stage (audit.cluster_audit over the
    # scored edges + final clusters): per-component size / edge
    # support / density / weakest similarity — the bad-transitive-
    # merge review queue. Off by default (one extra groupBy stage).
    audit: bool = False
    # optional threshold-tightening refinement stage
    # (clustering.refine_clusters): when refine_threshold is set,
    # clusters exceeding refine_max_size or falling below
    # refine_min_density are re-clustered over their own intra-cluster
    # scored edges at the tighter threshold; the result is
    # checkpointed as `clusters_refined` and returned instead of the
    # base clusters (which stay on disk unchanged — audit and
    # incremental consumers keep their contract). At least one of the
    # two criteria must accompany refine_threshold.
    refine_threshold: float | None = None
    refine_max_size: int | None = None
    refine_min_density: float | None = None


#: decompressed/UnsafeRow blow-up factor applied to a tokens stage's
#: snappy-parquet bytes when estimating its broadcast relation size
#: (int token arrays compress ~3-5x; rounded up for safety)
TOKENS_BROADCAST_EXPANSION = 6


def tokens_checkpoint_bytes(ckpt: CheckpointManager, stage: str = "tokens") -> int:
    """On-disk bytes of a parquet stage (0 for the Iceberg backend —
    callers then decide on rows alone)."""
    import os

    if ckpt.fmt != "parquet":
        return 0
    d = os.path.join(ckpt.root, stage)
    try:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if not f.startswith("_")
        )
    except OSError:
        return 0


def tokens_join_strategy(
    cfg: PipelineConfig, rows: int, mgrs: list[CheckpointManager]
) -> str:
    """``verify_pairs``' ``tokens_join`` for a scored stage whose token
    table is the ``tokens`` stage of ``mgrs`` with ``rows`` records in
    total: broadcast while the rows fit ``cfg.tokens_broadcast_cap``
    and the summed parquet bytes, times TOKENS_BROADCAST_EXPANSION,
    fit ``cfg.tokens_broadcast_bytes_cap``; shuffle-hash otherwise.
    The bytes are only listed when the row cap passes."""
    fits = rows <= cfg.tokens_broadcast_cap and sum(
        tokens_checkpoint_bytes(m) for m in mgrs
    ) * TOKENS_BROADCAST_EXPANSION <= cfg.tokens_broadcast_bytes_cap
    return "broadcast" if fits else "shuffle_hash"


def tokenizer_descriptor(cfg: PipelineConfig) -> str:
    """Stable textual identity of the configured tokenizer, recorded
    in the candidates manifest so incremental batches can verify they
    tokenize the same way the base run did (incremental.py)."""
    t = cfg.tokenizer
    return f"{type(t).__name__}:{sorted(vars(t).items())!r}"


def stage_params(cfg: PipelineConfig) -> dict[str, dict]:
    """-> {stage: params} — the config that identifies the
    ``candidates`` and ``scored`` stages of a linkage run. Both drivers
    record these in the stage manifests (``stop_token_cap`` and
    ``time_window_seconds`` even when None, so turning one on later is
    caught). A resume checks them against its own workdir
    (:func:`_check_stage_params`) and an incremental batch against its
    base (incremental._validate_config). ``salt_cap`` is deliberately
    absent: it is an output-equivalent plan knob (losslessness
    tested), so a different value reads back identical candidates."""
    return {
        "candidates": {
            "measure": cfg.measure, "threshold": cfg.threshold,
            "tokenizer": tokenizer_descriptor(cfg),
            # the cap is lossy and the window semantic: candidates differ
            "stop_token_cap": cfg.stop_token_cap,
            "time_window_seconds": cfg.time_window_seconds,
        },
        "scored": {"comp_op": cfg.comp_op},
    }


def validate_refine_config(cfg: PipelineConfig) -> None:
    """``refine_max_size``/``refine_min_density`` are criteria FOR the
    refinement stage; without ``refine_threshold`` no stage runs, so
    passing them alone would be silently ignored — the inverse of the
    loud 'at least one criterion' error refine_clusters raises. Fail
    loudly in both directions."""
    if cfg.refine_threshold is None and (
        cfg.refine_max_size is not None or cfg.refine_min_density is not None
    ):
        raise ValueError(
            "refine_max_size/refine_min_density have no effect without "
            "refine_threshold — set --refine-threshold (the tighter "
            "re-clustering cut) or drop the criteria"
        )


def stage_param_drift(ckpt: CheckpointManager, stage: str,
                      expected: dict) -> tuple | None:
    """-> the first ``(key, recorded, expected)`` on which ``stage``'s
    manifest disagrees with ``expected``; None when they agree or the
    stage does not exist. Keys absent from the manifest (pre-upgrade
    checkpoints) are skipped."""
    if not ckpt.exists(stage):
        return None
    m = ckpt.manifest(stage)
    return next(
        ((key, m[key], got) for key, got in expected.items()
         if key in m and m[key] != got),
        None,
    )


def _check_stage_params(ckpt: CheckpointManager, stage: str,
                        expected: dict) -> None:
    """Resume safety: ``get_or_compute`` reads an existing stage back
    WITHOUT recomputing, so re-running over a workdir with different
    config would silently return results computed under the OLD
    config (the natural tuning workflow — change a threshold, rerun).
    Compare the stage manifest's recorded params against the current
    config and fail loudly on drift."""
    drift = stage_param_drift(ckpt, stage, expected)
    if drift:
        key, was, got = drift
        raise ValueError(
            f"resume config mismatch on stage {stage!r}: checkpoint "
            f"was built with {key}={was!r}, current config has "
            f"{got!r} — delete the stage (and its dependents) or use "
            "a fresh workdir to re-run under the new config"
        )


def prepare_records(transcripts: DataFrame) -> DataFrame:
    """S0: one row per conversation; doc = turn texts joined in
    turn_idx order. array_sort(struct(turn_idx, text)) gives a
    deterministic ordering regardless of shuffle nondeterminism."""
    # min_ts (conversation start, exact integer microseconds) rides
    # along when the input carries the input_hint ts column — the
    # time_window_seconds blocking option consumes it; absent ts
    # (schema-reduced tests) it is a NULL column so the records
    # checkpoint schema stays stable either way
    min_ts = (
        F.min(F.unix_micros(F.col("ts").cast("timestamp")))
        if "ts" in transcripts.columns
        else F.min(F.lit(None).cast("bigint"))
    )
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("turn_idx", "text"))).alias("_turns"),
            min_ts.alias("min_ts_us"),
        )
        .select(
            "conv_id",
            F.concat_ws(" ", F.transform("_turns", lambda x: x["text"])).alias("doc"),
            F.size("_turns").alias("n_turns"),
            "min_ts_us",
        )
    )


def record_tokens(records: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(id, strlen, toks) of a records stage under the configured
    tokenizer, coerced to token sets (both drivers' token_ranks and
    tokens stages)."""
    return tokenize_table(records, "conv_id", "doc", cfg.tokenizer.with_return_set(True))


def candidate_id_space(candidates: DataFrame) -> str:
    """``verify_pairs``' ``id_space`` for a candidates checkpoint: conv
    ids are strings, so a long ``l_id`` unambiguously marks iid-space
    pairs; pre-iid checkpoints (string pairs) resume through the
    original-id join path."""
    return "iid" if isinstance(candidates.schema["l_id"].dataType, LongType) else "id"


def cc_round_hook(cfg: PipelineConfig, ckpt: CheckpointManager):
    """``connected_components``' ``round_checkpoint``: a durable
    ``cc_round_N`` stage per star round when ``cfg.cc_round_artifacts``
    is set, else None (localCheckpoint lineage truncation only; see
    PipelineConfig.cc_round_artifacts)."""
    if not cfg.cc_round_artifacts:
        return None
    return lambda df, rnd: ckpt.write(df, f"cc_round_{rnd}", inputs=["scored"])


def label_components(all_ids: DataFrame, comp: DataFrame) -> DataFrame:
    """-> (conv_id, component) for every row of ``all_ids``: the
    (id, component) assignment left-joined on, and records without an
    edge are singletons labelled by their own conv_id."""
    return (
        all_ids.join(comp, comp["id"] == all_ids["conv_id"], "left")
        .select(
            "conv_id",
            F.coalesce("component", F.col("conv_id")).alias("component"),
        )
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    workdir: str,
    config: PipelineConfig | None = None,
    checkpoint_format: str = "parquet",
    ckpt: CheckpointManager | None = None,
) -> DataFrame:
    """-> clusters DataFrame(conv_id, component). Resumable: rerun
    with the same workdir after a failure and completed stages are
    read back instead of recomputed. ``checkpoint_format='iceberg'``
    (with the runtime jars + a configured catalog; see checkpoint.py)
    stores stages as Iceberg tables under the ``workdir`` namespace.
    ``ckpt`` overrides construction entirely (pre-configured manager,
    e.g. an injected catalog adapter — tests drive the Iceberg branch
    jar-free this way); ``workdir``/``checkpoint_format`` are then
    ignored."""
    cfg = config or PipelineConfig()
    validate_refine_config(cfg)
    check_stop_token_cap(cfg.stop_token_cap)
    if ckpt is None:
        ckpt = CheckpointManager(spark, workdir, fmt=checkpoint_format)
    # scoped_caches (not a global release_all): every stage is durably
    # checkpointed before the scope exits, so releasing the caches
    # tracked INSIDE this run is safe — while caches belonging to
    # unrelated in-flight joins in the same session are left alone
    with scoped_caches():
        return _run_stages(spark, transcripts, cfg, ckpt)


def _apply_time_window(cand: DataFrame, tokens: DataFrame,
                       records: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Intersect iid candidate pairs with the conversation-start time
    band |min_ts_l - min_ts_r| <= time_window_seconds (inclusive,
    exact integer microseconds). Two equi-joins on the iid against a
    conv-count-sized map — pruned BEFORE verification, so the
    set-similarity work is skipped for out-of-window pairs.
    Conversations with a NULL min_ts can satisfy no window and drop
    out of candidacy (they still appear in the final clusters as
    singletons via the all-ids left join)."""
    if not cfg.time_window_seconds > 0:
        raise ValueError(
            f"time_window_seconds must be > 0; got {cfg.time_window_seconds}"
        )
    if "min_ts_us" not in records.columns:
        raise ValueError(
            "time_window_seconds is set but the resumed 'records' "
            "checkpoint predates time-window support (no min_ts_us "
            "column) — recompute with a fresh workdir"
        )
    w_us = int(round(float(cfg.time_window_seconds) * 1_000_000))
    ts_map = tokens.select("iid", "id").join(
        records.select(F.col("conv_id").alias("id"), "min_ts_us"), "id"
    ).select("iid", "min_ts_us")
    lm = ts_map.select(F.col("iid").alias("l_id"), F.col("min_ts_us").alias("__lts"))
    rm = ts_map.select(F.col("iid").alias("r_id"), F.col("min_ts_us").alias("__rts"))
    return (
        cand.join(lm, "l_id").join(rm, "r_id")
        .where(F.abs(F.col("__lts") - F.col("__rts")) <= F.lit(w_us))
        .drop("__lts", "__rts")
    )


def _run_stages(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    ckpt: CheckpointManager,
) -> DataFrame:
    # resume safety: fail on config drift before reading anything back
    params = stage_params(cfg)
    for stage, expected in params.items():
        _check_stage_params(ckpt, stage, expected)
    records = ckpt.get_or_compute("records", lambda: prepare_records(transcripts),
                                  inputs=["transcripts"])

    # the (token, cnt, tid) vocabulary is durably checkpointed as its
    # own stage: incremental batches (incremental.py) need the string
    # token -> tid mapping to extend a FROZEN base ordering, and it is
    # not recoverable from the integer token arrays alone. Manifest
    # `rows` == vocabulary size == max_tid + 1 (tid is a 0-based dense
    # rank), which is how incremental runs derive the append offset
    # without an extra driver job.
    ranks = ckpt.get_or_compute(
        "token_ranks", lambda: build_token_ranks([record_tokens(records, cfg)]),
        inputs=["records"],
    )
    # ensure_iid: tokens stages checkpointed before the iid funnel
    # lack the surrogate-id column; the re-derivation is deterministic
    # (with_iid docstring), so a resumed old workdir gets exactly the
    # iids a fresh run would
    tokens = ensure_iid(
        ckpt.get_or_compute("tokens",
                            lambda: order_tokens(record_tokens(records, cfg), ranks),
                            inputs=["records", "token_ranks"])
    )

    # candidate pairs are stored as iid surrogate longs (decoded to
    # conv ids by the scored stage's prep joins); the scored stage
    # detects pre-iid checkpoints by the stored l_id dtype
    cand_extra = {**params["candidates"], "id_space": "iid64"}

    def _candidates() -> DataFrame:
        ex_l = prefix_explode(tokens, "l", cfg.measure, cfg.threshold)
        ex_r = prefix_explode(tokens, "r", cfg.measure, cfg.threshold)
        # the stop list and the salt map read tid doc frequencies
        # straight off the checkpointed vocabulary (cnt rides with tid)
        if cfg.stop_token_cap is not None:
            # the dropped-token count rides the stage's checkpoint
            # write; the callable extra is resolved by the manifest
            # builder AFTER that action — no eager count job
            (ex_l, ex_r), dropped = exclude_stop_tokens(ranks, cfg.stop_token_cap,
                                                        ex_l, ex_r)
            cand_extra["dropped_stop_tokens"] = dropped.resolve
        salt_map = build_salt_map(ranks, resolve_salt_cap(cfg.salt_cap))
        cand = candidate_pairs(
            ex_l, ex_r, cfg.measure, cfg.threshold, self_join=True, salt_map=salt_map,
        )
        if cfg.time_window_seconds is not None:
            cand = _apply_time_window(cand, tokens, records, cfg)
        return cand

    candidates = ckpt.get_or_compute(
        "candidates", _candidates, inputs=["tokens", "token_ranks"], extra=cand_extra,
    )

    def _scored() -> DataFrame:
        id_space = candidate_id_space(candidates)
        # keep_iids: the scored checkpoint carries the dense-long pair
        # alongside the decoded conv ids so the clusters stage's
        # O(log n) star-contraction rounds shuffle 8-byte longs, not
        # ~24-byte conv-id strings (same lever as the candidate
        # funnel's dictionary encoding — CC re-shuffles every edge
        # each round, multiplying the per-byte saving)
        # explicit physical strategy: the tokens checkpoint manifest
        # carries the exact record count, so never leave the
        # broadcast-vs-SMJ choice to Catalyst's mid-plan estimate
        # (see PipelineConfig.tokens_broadcast_cap for the cliff this
        # dodges)
        strategy = tokens_join_strategy(cfg, ckpt.manifest("tokens")["rows"], [ckpt])
        # spread=False: the candidates checkpoint was WRITTEN from the
        # distinct's hash-partitioned output (unique pair keys ->
        # uniform files) and parquet reads re-split by
        # maxPartitionBytes, so the pairs arrive spread already; the
        # extra pair-key exchange re-shuffled the full candidate
        # stream for nothing (at 10^9 candidates that is the single
        # biggest avoidable shuffle left in the scored stage)
        return verify_pairs(candidates, tokens, tokens, cfg.measure, cfg.threshold,
                            cfg.comp_op, self_join=True, id_space=id_space,
                            keep_iids=id_space == "iid", tokens_join=strategy,
                            spread=False)

    scored = ckpt.get_or_compute("scored", _scored, inputs=["candidates", "tokens"],
                                 extra=params["scored"])

    def _clusters() -> DataFrame:
        round_ckpt = cc_round_hook(cfg, ckpt)
        if "l_iid" in scored.columns:
            # iid-space contraction: every star round (and its durable
            # cc_round checkpoint) moves 8-byte longs. Decode + relabel
            # happen ONCE over the node set (|V| rows, not |E|·rounds):
            # component labels are re-anchored to the MIN ORIGINAL id
            # per component, so output is identical to string-space CC
            # (min-iid and min-conv-id can disagree — iids carry no
            # order contract; tests/test_pipeline.py asserts equality).
            comp_iid = connected_components(
                scored, "l_iid", "r_iid", max_rounds=cfg.max_cc_rounds,
                round_checkpoint=round_ckpt,
            )
            idmap = tokens.select(F.col("iid").alias("id"), F.col("id").alias("_conv"))
            decoded = comp_iid.join(idmap, "id").select("_conv", "component")
            labels = decoded.groupBy("component").agg(F.min("_conv").alias("_lbl"))
            comp = decoded.join(labels, "component").select(
                F.col("_conv").alias("id"), F.col("_lbl").alias("component")
            )
        else:
            # pre-iid scored checkpoint (string pairs): contract on the
            # original ids directly, as before
            comp = connected_components(
                scored, "l_id", "r_id", max_rounds=cfg.max_cc_rounds,
                round_checkpoint=round_ckpt,
            )
        return label_components(records.select(F.col("conv_id")), comp)

    clusters = ckpt.get_or_compute("clusters", _clusters, inputs=["scored", "records"])
    if cfg.audit:
        from .audit import cluster_audit

        ckpt.get_or_compute(
            "audit",
            lambda: cluster_audit(
                clusters, scored, id_col="conv_id", component_col="component"
            ),
            inputs=["scored", "clusters"],
        )
    if cfg.refine_threshold is not None:
        from .clustering import refine_clusters

        # the natural tuning loop re-runs the same workdir with a
        # different refine cut — must not read back the stale stage
        _check_stage_params(ckpt, "clusters_refined", {
            "refine_threshold": cfg.refine_threshold,
            "refine_max_size": cfg.refine_max_size,
            "refine_min_density": cfg.refine_min_density,
        })
        # the scored edges carry decoded conv ids regardless of the
        # iid funnel, and the clusters labels are min conv_id per
        # component — exactly refine_clusters' labeling contract
        clusters = ckpt.get_or_compute(
            "clusters_refined",
            lambda: refine_clusters(
                clusters, scored, cfg.refine_threshold,
                max_cluster_size=cfg.refine_max_size,
                min_density=cfg.refine_min_density,
                id_col="conv_id", cluster_col="component",
                l_col="l_id", r_col="r_id", score_col="_sim_score",
                comp_op=cfg.comp_op, max_rounds=cfg.max_cc_rounds,
            ),
            inputs=["scored", "clusters"],
            extra={
                "refine_threshold": cfg.refine_threshold,
                "refine_max_size": cfg.refine_max_size,
                "refine_min_density": cfg.refine_min_density,
            },
        )
    return clusters


def pairwise_f1(
    clusters: DataFrame, gold: DataFrame, id_col: str = "conv_id", gold_col: str = "entity_id"
) -> dict:
    """Pairwise precision/recall/F1 of predicted components vs gold
    entities, computed distributed (no driver-side pair expansion) by
    delegating to evaluation.clustering_pairwise_metrics — one action
    over the (component, entity) contingency cells instead of three,
    with C(n,2) in exact bigint arithmetic. Kept as a dict-returning
    convenience with this function's historical degenerate-input
    conventions (no pairs on a side -> that metric is vacuously 1.0,
    where the DataFrame evaluator reports 0.0)."""
    from .evaluation import clustering_pairwise_metrics

    row = clustering_pairwise_metrics(
        clusters, gold, id_col=id_col,
        pred_cluster_col="component", gold_cluster_col=gold_col,
    ).collect()[0]
    pred_pairs, gold_pairs, tp = row.pred_pairs, row.gold_pairs, row.tp_pairs
    precision = tp / pred_pairs if pred_pairs else 1.0
    recall = tp / gold_pairs if gold_pairs else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "precision": float(precision),
        "recall": float(recall),
        "f1": float(f1),
        "tp_pairs": int(tp),
        "pred_pairs": int(pred_pairs),
        "gold_pairs": int(gold_pairs),
    }
