"""sparksimjoin benchmark: three closed-loop workloads on local[nproc].

    python3 perfbench/run.py --workload linkage --seed 1 --seconds 10 --trace 0

One caller, one operation in flight. A run starts a session, builds
the workload's inputs from ``--seed``, makes one untimed warm-up pass
over its operations (checked against expected.json and the oracles),
then repeats timed passes until ``--seconds`` have elapsed (at least
one). ``--trace 1`` adds one traced pass after the untimed ones and
reports per-layer metrics instead of end-to-end ones.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics named in BENCHMARK.json (end_to_end with --trace 0,
per_layer with --trace 1). Details (host-health stamps, per-operation
latencies, digests, candidate paths, spans) go to
``perfbench/out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"


# ---------------------------------------------------------------- host
def firsttouch_mbps(mib: int = 128) -> float:
    """MB/s of a first-touch fill over fresh pages: collapses when the
    hypervisor demand-faults guest memory, which slows every timing."""
    import numpy as np

    a = np.empty(mib * (1 << 20) // 8, dtype=np.float64)
    t0 = time.perf_counter()
    a.fill(1.0)
    return mib / (time.perf_counter() - t0)


def host_stamp() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"firsttouch_mbps": round(firsttouch_mbps(), 1), "loadavg": load,
            "steal_ticks": cpu[7], "total_ticks": sum(cpu), "t": time.time()}


def steal_share(pre: dict, post: dict) -> float:
    total = post["total_ticks"] - pre["total_ticks"]
    return (post["steal_ticks"] - pre["steal_ticks"]) / total if total else 0.0


# ---------------------------------------------------------------- spark
def start_session(work: Path, trace: bool):
    from sparksimjoin.session import get_spark

    cores = os.cpu_count() or 4
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata files in /tmp: the run writes only under work
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(work / "eventlog"),
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="sparksimjoin-perfbench", cores=cores,
                     shuffle_partitions=cores, driver_memory="2g", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "sparksimjoin" / "__init__.py").is_file():
        print(f"sparksimjoin package not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    expected = json.loads((HERE / "expected.json").read_text())

    # everything the run writes stays under perfbench/out
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = OUT / f"work-{tag}-{os.getpid()}"
    for d in ("local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [str(ROOT), str(HERE)]

    import workloads as W
    from harness import Run
    from tracing import NullTracer, Tracer, find_eventlog, parse_eventlog

    stamp_pre = host_stamp()
    t_setup = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    try:
        spark.range(100_000).repartition(os.cpu_count() or 4).selectExpr(
            "id % 7 AS k").groupBy("k").count().collect()
        session_s = time.perf_counter() - t_setup
        tracer = Tracer(spark) if args.trace else NullTracer()
        if args.trace:
            tracer.install()
        run = Run(spark, tracer, expected, args.seed)
        wl = W.WORKLOADS[args.workload](spark, args.seed, work, run)
        t_inputs = time.perf_counter()
        wl.prepare()
        inputs_s = time.perf_counter() - t_inputs
        t_warm = time.perf_counter()
        wl.run_pass(warm=True)
        warm_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup

        passes: list[dict[str, float]] = []
        pass_walls: list[float] = []
        t_meas = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            passes.append(wl.run_pass(warm=False))
            pass_walls.append(time.perf_counter() - t0)
            if time.perf_counter() - t_meas >= args.seconds:
                break
        peak_rss = jvm_peak_rss_mb(spark)
        lat: dict[str, float | None] = {}
        for op in wl.ops:
            ok = [p[op] for p in passes if p[op] is not None]
            lat[op] = statistics.median(ok) if ok else None
        if args.trace:
            # traced pass between two untraced ones: its overhead is
            # read against both neighbours (the JVM is still warming)
            tracer.active = True
            t0 = time.perf_counter()
            wl.run_pass(warm=False)
            traced_wall = time.perf_counter() - t0
            tracer.active = False
            layer_extra = wl.after_traced_pass(lat)
            t0 = time.perf_counter()
            wl.run_pass(warm=False)
            overhead_s = traced_wall - (pass_walls[-1] + time.perf_counter() - t0) / 2
    finally:
        stop_session(spark)
    stamp_post = host_stamp()

    ok_lat = [v for v in lat.values() if v]
    metrics: dict[str, float] = {}
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_walls),
            # 0 only when every operation failed (the run is then incorrect)
            "op_geomean_s": math.exp(sum(map(math.log, ok_lat)) / len(ok_lat))
            if ok_lat else 0.0,
        }
        names = spec["end_to_end"]
    else:
        evlog = parse_eventlog(find_eventlog(str(work / "eventlog")))
        layer_extra["session.peak_rss_mb"] = peak_rss
        metrics = layer_metrics(spec, wl, tracer, evlog, lat, session_s, warm_s,
                                overhead_s, layer_extra, run)
        names = spec["per_layer"]

    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": os.cpu_count(), "host_pre": stamp_pre, "host_post": stamp_post,
        "steal_share": steal_share(stamp_pre, stamp_post),
        "setup": {"session_s": session_s, "inputs_s": inputs_s, "warmup_s": warm_s},
        "passes": passes, "pass_walls": pass_walls, "op_median_s": lat,
        "peak_rss_mb": peak_rss, "ops": run.info, "failures": run.failures,
        "metrics": metrics,
    }
    OUT.mkdir(exist_ok=True)
    (OUT / f"{tag}.json").write_text(json.dumps(details, indent=1, default=str))
    if args.trace:
        tracer.dump(str(OUT / f"{tag}-spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed {args.seed}: " + ", ".join(
        f"{op} {v:.3f}s" for op, v in lat.items() if v is not None)
        + f"; firsttouch {stamp_pre['firsttouch_mbps']}->{stamp_post['firsttouch_mbps']} MB/s"
        + f", load {stamp_pre['loadavg'][0]}->{stamp_post['loadavg'][0]}"
        + f", steal {100 * details['steal_share']:.1f}%", file=sys.stderr)
    out = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in names},
    }
    print(json.dumps(out))
    return 0


def layer_metrics(spec, wl, tr, evlog, lat, session_s, warm_s, overhead_s,
                  extra, run) -> dict[str, float]:
    """Every per_layer metric of BENCHMARK.json; layers a workload does
    not exercise read 0."""
    from tracing import DEDUP, PROBE, self_times, span_total

    spans = tr.spans
    m = {x["name"]: 0.0 for x in spec["per_layer"]}

    def put(name, value):
        if name not in m:
            raise KeyError(f"metric {name} missing from BENCHMARK.json per_layer")
        m[name] = float(value)

    def groups(op, kind=None):
        out = {"jobs": 0, "tasks": 0, "executor_s": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "task_skew": 0.0}
        for g, a in evlog.items():
            gop, _, gkind = g.partition("|")
            if gop != op or (kind is not None and gkind not in kind):
                continue
            for k in ("jobs", "tasks", "executor_s", "shuffle_write_mb", "spill_mb"):
                out[k] += a[k]
            out["task_skew"] = max(out["task_skew"], a["task_skew"])
        return out

    put("session.start_s", session_s)
    put("session.warmup_s", warm_s)
    put("trace.overhead_s", overhead_s)
    selfs = self_times(spans)
    roots = [s for s in spans if s["name"] == "op"]
    put("trace.root_self_share", max(
        selfs[s["id"]] / (s["end"] - s["start"]) for s in roots))
    put("cache.leaked_rdds", run.leaked)
    for op in wl.ops:
        if lat.get(op) is not None and f"op.{op}_s" in m:
            put(f"op.{op}_s", lat[op])
        ex = groups(op)
        for k in ("executor_s", "tasks", "shuffle_write_mb", "spill_mb", "task_skew"):
            if f"exec.{k}.{op}" in m:
                put(f"exec.{k}.{op}", ex[k])
        if f"cache.persists.{op}" in m:
            put(f"cache.persists.{op}", tr.counts.get((op, "cache.persists"), 0))
        if f"cache.persisted_mb.{op}" in m:
            put(f"cache.persisted_mb.{op}", run.persisted_mb.get(op, 0.0))
        if f"driver.construct_s.{op}" in m:
            put(f"driver.construct_s.{op}",
                span_total(spans, op, "driver.construct") - span_total(spans, op, PROBE))
            put(f"driver.py4j_calls.{op}", tr.counts.get((op, "py4j_calls"), 0))
            put(f"driver.eager_jobs.{op}",
                groups(op, ("construct", "probe", "dedup"))["jobs"])
        if f"core.probe_s.{op}" in m:
            put(f"core.probe_s.{op}", span_total(spans, op, PROBE))
            put(f"core.probe_jobs.{op}", groups(op, ("probe",))["jobs"])
        if f"core.dedup_s.{op}" in m:
            put(f"core.dedup_s.{op}", span_total(spans, op, DEDUP))
    for name, value in extra.items():
        put(name, value)
    return m


if __name__ == "__main__":
    sys.exit(main())
