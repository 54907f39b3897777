"""Per-run bookkeeping shared by the workloads: operation timing,
failure accounting, output-check helpers and cache probes."""

from __future__ import annotations

import sys
import time


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# ---------------------------------------------------------------- runner
class Run:
    """One benchmark process: attempted/failed operations, check
    results, and the cache counters of the traced pass."""

    def __init__(self, spark, tracer, expected: dict, seed: int):
        self.spark = spark
        self.tr = tracer
        self.expected = expected
        self.seed = seed
        self.attempted = 0
        self.failures: list[str] = []
        self.info: dict[str, dict] = {}
        self.leaked = 0
        self.persisted_mb: dict[str, float] = {}

    def fail(self, op: str, msg: str) -> None:
        self.failures.append(f"{op}: {msg}")
        print(f"# CHECK FAILED {op}: {msg}", file=sys.stderr, flush=True)

    def timed(self, op: str, body):
        """Run ``body()`` as one operation under a root span; -> (wall
        seconds, body's result) or (None, None) when it raised."""
        self.attempted += 1
        self.tr.op = op
        try:
            with self.tr.span("op", "op"):
                t0 = time.perf_counter()
                out = body()
                wall = time.perf_counter() - t0
        except Exception as e:  # a failed operation is counted, not fatal
            self.fail(op, f"raised {type(e).__name__}: {e}")
            return None, None
        finally:
            self.tr.op = None
        return wall, out


def pinned(run: Run, op: str, digest, path: str | None) -> None:
    """Compare a fixed-input digest and candidate path with expected.json."""
    exp = run.expected.get("fixed", {}).get(op)
    if exp is None:
        run.fail(op, "no expected digest recorded")
        return
    if [digest[0], str(digest[1])] != [exp["rows"], exp["hash"]]:
        run.fail(op, f"digest {digest} != expected ({exp['rows']}, {exp['hash']})")
    if path is not None and path != exp["path"]:
        run.fail(op, f"candidate path {path} != recorded {exp['path']}")


def seeded(run: Run, op: str, digest, path: str | None) -> None:
    """Seeded inputs: path must match; digest must match when this seed
    was recorded (the oracle checks live with the workload)."""
    exp = run.expected.get("seeded", {}).get(op, {})
    if path is not None and "path" in exp and path != exp["path"]:
        run.fail(op, f"candidate path {path} != recorded {exp['path']}")
    rec = exp.get("digests", {}).get(str(run.seed))
    if rec is not None and [digest[0], str(digest[1])] != [rec[0], rec[1]]:
        run.fail(op, f"digest {digest} != recorded for seed {run.seed}: {rec}")
