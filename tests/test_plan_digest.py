"""scripts/plan_digest.py's mask, digest and compare on synthetic plan
texts; no Spark session."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "plan_digest", Path(__file__).resolve().parent.parent / "scripts" / "plan_digest.py")
plan_digest = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(plan_digest)

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- Project (4)
   +- BroadcastHashJoin Inner BuildRight (3)
      :- Scan parquet  (1)
      +- BroadcastExchange (2)

(1) Scan parquet
Output [2]: [id#{a}L, toks#{b}]
Location: InMemoryFileIndex [file:{wd}/run/tokens]

(2) BroadcastExchange
Input [1]: [token#{c}L]
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id={d}]

(3) {join} [codegen id : {e}]
Left keys [1]: [token#{c}L]
Condition : exists(toks#{b}, lambda x_{f} : (lambda x_{f} > 0))

(4) Project [codegen id : {e}]
Output [1]: [id#{a}L]
Metrics: CollectMetrics {uuid}, [count(1) AS dropped_stop_tokens#{a}L]

(5) AdaptiveSparkPlan
Output [1]: [id#{a}L]
Arguments: isFinalPlan=false
"""


def _render(n: int, wd: str, join: str = "BroadcastHashJoin") -> dict:
    text = PLAN.format(a=n, b=n + 1, c=n + 2, d=n + 3, e=n % 7, f=n + 4, wd=wd,
                       uuid=f"{n:08x}-1a2b-4c3d-8e9f-{n:012x}", join=join)
    return plan_digest.digest(plan_digest.mask(text, {wd: "<workdir>"}))


def test_mask_drops_run_dependent_counters():
    a = _render(11, "/tmp/plan-digest-abc123")
    b = _render(523, "/var/tmp/plan-digest-zz9")
    assert a == b
    assert len(a["operators"]) == 5
    assert plan_digest.compare({"q": a}, {"q": b}) == []


def test_changed_operator_is_reported():
    old = _render(11, "/tmp/w")
    new = _render(11, "/tmp/w", join="SortMergeJoin")
    assert old["sha256"] != new["sha256"]
    report = plan_digest.compare({"q": old, "same": old}, {"q": new, "same": old})
    assert report[0] == "q: first difference at operator 3"
    assert report[1].startswith("  - (3) BroadcastHashJoin [codegen id : N]")
    assert report[2].startswith("  + (3) SortMergeJoin [codegen id : N]")
    assert len(report) == 3
    assert plan_digest.compare({"q": old}, {}) == ["q: only in old"]
