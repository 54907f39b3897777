"""Layer tracing for the traced benchmark run.

Nothing here changes the library. In a traced run the benchmark wraps
the public functions of each layer (``joins.core`` probes and dedup
maps, ``cache.track``, ``CheckpointManager``, ``connected_components``)
wherever a ``sparksimjoin`` module has bound them, counts py4j gateway
round trips, and tags the Spark jobs each span launches with a job
group. Spans are kept in memory; per-layer metrics are derived from
them and from the Spark event log once the session has stopped.

A span records name, start, end, parent span id and operation id.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from functools import wraps

# span names whose jobs and time count as gate probes / dedup maps
PROBE = "core.probe"
DEDUP = "core.dedup"


class NullTracer:
    """The untraced runs' tracer: records nothing, tags nothing."""

    active = False
    op: str | None = None
    py4j_calls = 0

    @contextmanager
    def span(self, name: str, group: str | None = None):
        yield None

    def count(self, key: str, n: int = 1) -> None:
        pass


class Tracer:
    """Spans, counters and job-group tags for one benchmark process.
    ``active`` gates recording, so a traced run can still make an
    untraced pass with the wrappers installed."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = [None]
        self.op: str | None = None
        self.counts: dict[tuple[str, str], int] = defaultdict(int)
        self.py4j_calls = 0
        self._bookkeeping = False

    # ------------------------------------------------------------ spans
    def _set_group(self, group: str | None) -> None:
        self._bookkeeping = True
        try:
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", group)
            sc.setLocalProperty("spark.job.description", group)
        finally:
            self._bookkeeping = False

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span (when active) and tag the jobs launched inside
        it with ``<op>|<group>``."""
        if not self.active:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group is not None:
            self._groups.append(f"{self.op}|{group}")
            self._set_group(self._groups[-1])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                self._set_group(self._groups[-1])

    def innermost(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def count(self, key: str, n: int = 1) -> None:
        if self.active:
            self.counts[(self.op, key)] += n

    # ------------------------------------------------------------ wrappers
    def install(self) -> None:
        """Wrap each layer's public functions in every loaded
        ``sparksimjoin`` module that bound them, plus the py4j client
        send and DataFrame.count / DataFrameWriter.parquet."""
        import py4j.clientserver as cs
        from py4j.protocol import MEMORY_COMMAND_NAME
        from pyspark.sql import DataFrame, DataFrameWriter

        import sparksimjoin.cache as cache_mod
        import sparksimjoin.clustering as clustering_mod
        import sparksimjoin.joins.core as core
        from sparksimjoin.checkpoint import CheckpointManager

        tr = self

        orig_send = cs.JavaClient.send_command

        # py4j also sends a memory command whenever Python's garbage
        # collector frees a Java proxy; those follow GC timing, not the
        # code path, so they are not round trips of the call under test
        @wraps(orig_send)
        def send_command(client, command, *a, **kw):
            if (tr.active and not tr._bookkeeping
                    and not command.startswith(MEMORY_COMMAND_NAME)):
                tr.py4j_calls += 1
            return orig_send(client, command, *a, **kw)

        cs.JavaClient.send_command = send_command

        def spanned(name, group=None):
            def deco(fn):
                @wraps(fn)
                def inner(*a, **kw):
                    with tr.span(name, group):
                        return fn(*a, **kw)
                return inner
            return deco

        for fn in (core.prefix_meeting_estimate, core.dense_band_pair_stats):
            _rebind(fn, spanned(PROBE, "probe")(fn))
        for fn in (core.resolve_dedup, core.string_dedup_maps,
                   core.expand_gid_pairs, core.diagonal_pairs):
            _rebind(fn, spanned(DEDUP, "dedup")(fn))

        orig_track = cache_mod.track

        @wraps(orig_track)
        def track(*a, **kw):
            tr.count("cache.persists")
            return orig_track(*a, **kw)

        _rebind(orig_track, track)

        orig_cc = clustering_mod.connected_components

        @wraps(orig_cc)
        def connected_components(*a, **kw):
            # callers that pass no CCStats (incremental) get one: it
            # only records the round count
            stats = kw.setdefault("stats", None) or clustering_mod.CCStats()
            kw["stats"] = stats
            with tr.span("clustering.cc", "cc"):
                out = orig_cc(*a, **kw)
            tr.count("clustering.rounds", stats.rounds)
            return out

        _rebind(orig_cc, connected_components)

        # the gate's prep/record count()s run during plan construction:
        # a count whose innermost span is the construction span is a
        # probe job
        orig_count = DataFrame.count

        @wraps(orig_count)
        def df_count(df):
            if tr.active and tr.innermost() == "driver.construct":
                with tr.span(PROBE, "probe"):
                    return orig_count(df)
            return orig_count(df)

        DataFrame.count = df_count

        orig_goc = CheckpointManager.get_or_compute

        @wraps(orig_goc)
        def get_or_compute(mgr, name, *a, **kw):
            with tr.span(f"stage.{name}", f"stage:{name}"):
                return orig_goc(mgr, name, *a, **kw)

        CheckpointManager.get_or_compute = get_or_compute

        orig_write = CheckpointManager.write

        @wraps(orig_write)
        def write(mgr, *a, **kw):
            with tr.span("checkpoint.write"):
                return orig_write(mgr, *a, **kw)

        CheckpointManager.write = write

        orig_parquet = DataFrameWriter.parquet

        @wraps(orig_parquet)
        def parquet(w, *a, **kw):
            if tr.innermost() == "checkpoint.write":
                with tr.span("checkpoint.parquet"):
                    return orig_parquet(w, *a, **kw)
            return orig_parquet(w, *a, **kw)

        DataFrameWriter.parquet = parquet

    # ------------------------------------------------------------ output
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "counts": [[k[0], k[1], v] for k, v in self.counts.items()]},
                      f)


def _rebind(orig, new) -> None:
    """Point every ``sparksimjoin`` module attribute bound to ``orig``
    (the defining module and every ``from .. import`` site) at ``new``."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("sparksimjoin") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


# ---------------------------------------------------------------- analysis
def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def span_total(spans: list[dict], op: str, name: str) -> float:
    """Summed duration of ``op``'s ``name`` spans; a span nested in
    another span of the same name is not counted twice."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["op"] != op or s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


def parse_eventlog(paths: list[str]) -> dict[str, dict]:
    """Spark event log files -> per job group: jobs, tasks, executor
    seconds, shuffle-write MB, spill MB and the task-time skew (max /
    median executor run time) of its widest stage. Only job-start and
    task-end lines are decoded; the SQL plan events make up most of the
    log's bytes."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    agg: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "executor_s": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0})
    wanted = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')
    for line in _lines(paths):
        if not line.startswith(wanted):
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            agg[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            if g is None or not m:
                continue
            a = agg[g]
            run_s = m.get("Executor Run Time", 0) / 1000.0
            a["tasks"] += 1
            a["executor_s"] += run_s
            a["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                / 1e6)
            a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 1e6
            stage_tasks[ev["Stage ID"]].append(run_s)
    for g in agg:
        stages = [t for sid, t in stage_tasks.items() if stage_group.get(sid) == g]
        if stages:
            widest = max(stages, key=lambda t: (len(t), sum(t)))
            med = statistics.median(widest)
            agg[g]["task_skew"] = max(widest) / med if med > 0 else 1.0
        else:
            agg[g]["task_skew"] = 0.0
    return dict(agg)


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f


def find_eventlog(log_dir: str) -> list[str]:
    """The finished event log's files in order: a single file, or the
    ``events_<n>_<app>`` parts of a rolling (v2) log directory."""
    entries = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
               if not f.endswith(".inprogress")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {entries}")
    if os.path.isfile(entries[0]):
        return entries
    parts = [f for f in os.listdir(entries[0]) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(entries[0], f) for f in parts]
