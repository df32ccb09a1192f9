"""Physical-plan audit over every declared entry.

Builds every declared query at the smoke scale and counts
plan nodes that matter at 100 TB:

- ``CartesianProduct`` / row-at-a-time Python (``BatchEvalPython``):
  scale-killers — must be zero outside the explicit allowlist.
- ``SortMergeJoin`` / ``Exchange`` / ``Generate`` / Python-Arrow nodes:
  reported as counts so round-over-round regressions are visible.
  Reviewed SortMergeJoin sites (all bounded or semantically required):
  hybrid retrieval's RRF full-outer and contrastive mining's negative
  anti-join (candidate-list-sized; full outer cannot broadcast), the
  DSIR variants' per-doc score join-back (one co-partitioned id shuffle
  producing the corpus-sized output itself), incremental dedup's
  candidate shingle verification (LSH-survivor-sized), the LSH
  evaluation's ground-truth joins (100-doc planted sample by
  construction), and q43's INTERSECT/EXCEPT (set-op semantics).  At
  runtime AQE converts the bounded ones to broadcast — the static
  explain this audit reads predates that conversion.

Writes ``PLAN_AUDIT.json`` at the repo root and exits non-zero if a
scale-killer appears outside the allowlist.  Run:
``python tools/plan_audit.py``.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arcane_stream_microsoft_synapse_link_spark.plans import QUERIES  # noqa: E402
from arcane_stream_microsoft_synapse_link_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

# declared, reviewed exceptions — names are validated against the registry
# at audit time (a drifted name here would fail silent exactly when the
# allowlist is needed)
ALLOWED_CARTESIAN = {
    "q23_cross_join",  # declared region x region cross join (25 rows)
}

MARKERS = [
    "CartesianProduct",
    "BatchEvalPython",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "Exchange",
    "Generate",
    "MapInPandas",
    "ArrowEvalPython",
    "PhotonScan",  # never present — canary for marker typos
]


def main() -> int:
    spark = get_spark("plan-audit", shuffle_partitions=8)
    out: dict[str, dict] = {}
    violations: list[str] = []
    for allowed in ALLOWED_CARTESIAN:
        if allowed not in QUERIES:
            violations.append(
                f"allowlist drift: {allowed!r} is not a registry entry"
            )
    for name, fn in sorted(QUERIES.items()):
        try:
            df = fn(spark, SF)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            # count NODE HEADERS ("(12) Exchange"), one per plan node id:
            # plain substring counting credits every BroadcastExchange/
            # ReusedExchange to the shuffle 'Exchange' total (hiding
            # shuffle->broadcast conversions) and double-counts the tree
            # rendering vs the detail section
            node_names = Counter(re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M))
            counts = {m: node_names.get(m, 0) for m in MARKERS}
            counts = {m: c for m, c in counts.items() if c}
            rec: dict = {"nodes": counts}
            if plan.count("CartesianProduct") and name not in ALLOWED_CARTESIAN:
                violations.append(f"{name}: CartesianProduct")
                rec["violation"] = "CartesianProduct"
            if plan.count("BatchEvalPython"):
                violations.append(f"{name}: BatchEvalPython (row-at-a-time Python)")
                rec["violation"] = "BatchEvalPython"
            out[name] = rec
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            violations.append(f"{name}: ERROR building plan")

    summary = {
        "entries": len(out),
        "violations": violations,
        "cartesian_allowlist": sorted(ALLOWED_CARTESIAN),
        "totals": {
            m: sum(r.get("nodes", {}).get(m, 0) for r in out.values()) for m in MARKERS
        },
        "per_entry": out,
    }
    with open(os.path.join(REPO, "PLAN_AUDIT.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print(
        f"audited {len(out)} entries; violations: {len(violations)}"
        + (f" -> {violations}" if violations else "")
    )
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
