"""Catalog-wide broadcast audit — the 100x OOM-class gate, plan-only.

Two passes over every registered (non-streaming) query (walkers and the
audit live in ``sales_data_pipeline_spark/plan_audit.py`` so
``tests/test_plan_shapes.py`` enforces pass 2 on every pytest run; both
walks enter cached subplans):

**Pass 1 — physical census at the 100x paths** (default /tmp/sf10).
Walks each BroadcastExchange's build subtree and classifies every
broadcast that reads a DATA-SCALING table (everything but the
fixed-cardinality region/nation dims):

 - bounded           — a global aggregate / Limit / TakeOrderedAndProject
                       sits between the exchange and every scaling scan:
                       cardinality fixed by construction, safe anywhere;
 - keyed_agg         — a grouped aggregate bounds the payload per key but
                       the key-space may scale; these are exactly the
                       size-gated sites (the gate PROVED <= cap at this
                       SF) plus the declared domain-bounded constructs;
 - estimate_adaptive — raw scan/filter/project chain: Catalyst chose the
                       broadcast from ACCURATE file-source stats, so the
                       same query re-plans sort-merge once the relation
                       outgrows the threshold at bigger scale. Safe;
                       informational.

**Pass 2 — hint audit with every gate forced shut** (sf0.01, cheap).
Sets scale.DIM_BROADCAST_CAP and scale.GRAM_MAP_BROADCAST_CAP to 0 (all
``gated_broadcast`` sites fall to their scale arm), then inspects each
query's OPTIMIZED LOGICAL plan: any join hint ``strategy=broadcast``
that survives comes from a ``scale.bounded_broadcast`` call. The hinted
subtree must be BOUNDED (global aggregate / limit above every scaling
leaf, or only fixed-dim leaves), or covered by a ``bounded_broadcast``
made while building that query, whose call-site reason is reported —
anything else is a forced broadcast no optimizer can undo at 100x, and
the audit FAILS.

Writes BROADCAST_AUDIT.json; exit 1 on any pass-2 finding.
Run: PYTHONPATH=. python tools/broadcast_audit.py [census_dir] [sf001_dir]

Round-8 honesty fix: the round-7 refresh ran against /tmp/sf1 but kept
``sf10_dir`` / ``*_at_sf10`` field names — a mislabeled artifact. The
census-scale field names are now scale-neutral, and the artifact
carries a ``census_scale`` field DERIVED from the census directory's
basename (asserted to look like an sf dir, never hand-written), so the
label can't drift from the data again.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def census_scale_of(path: str) -> str:
    """Scale label derived from (and asserted against) the census dir's
    basename — 'sf10' for /tmp/sf10 — so the artifact can never claim a
    scale other than the directory it actually read."""
    base = os.path.basename(os.path.normpath(path))
    m = re.fullmatch(r"sf([0-9.]+)", base)
    if not m:
        raise SystemExit(
            f"census dir basename must be sf<N>, got {base!r} — the "
            "artifact's census_scale field is derived from it"
        )
    return base


def main() -> int:
    from sales_data_pipeline_spark import plan_audit as pa
    from sales_data_pipeline_spark.queries.base import (
        load_all,
        release_persisted,
    )
    from sales_data_pipeline_spark.session import build_session

    census_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    sf001 = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    census_scale = census_scale_of(census_dir)
    # full engine session: some query fns run scalar jobs at build time
    # (iterative-CC convergence, quality thresholds), which at sf10 need
    # the engine's memory/parallelism confs, not a toy session
    spark = build_session("broadcast_audit")
    spark.sparkContext.setLogLevel("ERROR")

    full = load_all()
    registry = {
        n: s for n, s in sorted(full.items())
        if "streaming" not in s.tags
    }
    # round-10 (round-9 advisor + judge ask #8): the artifact names its
    # coverage explicitly — audited query NAMES (so the end_of_round
    # gate compares sets, catching equal-size churn) and the streaming
    # exclusions (so the coverage claim is self-contained)
    excluded_streaming = sorted(set(full) - set(registry))

    # ---- pass 1: physical census at 100x paths ----
    phys = {"bounded": 0, "keyed_agg": [], "estimate_adaptive": []}
    n_exchanges = 0
    if os.path.isdir(census_dir):
        for name, spec in registry.items():
            root = (
                spec.fn(spark, census_dir)
                ._jdf.queryExecution()
                .executedPlan()
            )
            for node in pa.phys_walk(root):
                if not node.nodeName().startswith("BroadcastExchange"):
                    continue
                n_exchanges += 1
                hits: list = []
                pa.classify_build(node, False, False, hits)
                # one row per distinct class of scan under this exchange:
                # nested cached plans reach the same scan on many paths
                for tables, bounded, keyed, cached in sorted(
                    {(tuple(t), b, k, c) for t, b, k, c in hits}
                ):
                    row = {"query": name, "tables": list(tables)}
                    if cached:
                        row["cached"] = True
                    if bounded:
                        phys["bounded"] += 1
                    elif keyed:
                        phys["keyed_agg"].append(row)
                    else:
                        phys["estimate_adaptive"].append(row)
            release_persisted()
            spark.catalog.clearCache()

    # ---- pass 2: hint audit, every gate forced shut ----
    forced, reviewed = pa.forced_hint_audit(spark, registry, sf001)

    summary = {
        "census_dir": census_dir if os.path.isdir(census_dir) else None,
        "census_scale": census_scale,
        "queries_audited": len(registry),
        "queries_audited_names": sorted(registry),
        "excluded_streaming": excluded_streaming,
        "broadcast_exchanges_at_census_scale": n_exchanges,
        "bounded_scaling_broadcasts": phys["bounded"],
        "keyed_agg_scaling_broadcasts": phys["keyed_agg"],
        "estimate_adaptive_scaling_broadcasts":
            len(phys["estimate_adaptive"]),
        "hint_audit_scale": "sf0.01 (plan-only, gates forced shut)",
        "declared_domain_bounded_hints": reviewed,
        "forced_unbounded_scaling_hints": forced,
    }
    with open("BROADCAST_AUDIT.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary, indent=1))
    if forced:
        print("FAIL: ungated F.broadcast on unbounded scaling relations",
              file=sys.stderr)
        return 1
    print("OK: every broadcast of a scaling relation is size-gated, "
          "bounded by construction, or estimate-adaptive")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
