"""Broadcast-audit plan walkers — the 100x OOM-class invariant.

Shared by ``tools/broadcast_audit.py`` (the CLI that writes
BROADCAST_AUDIT.json, including the physical census at the sf10 paths)
and ``tests/test_plan_shapes.py`` (which enforces the cheap invariant on
every pytest run: with every size gate forced shut, no query's
optimized plan may carry a ``strategy=broadcast`` hint whose hinted
subtree is an unbounded scaling relation, unless a
``scale.bounded_broadcast`` call declared the domain fact that bounds
it). Both walks enter cached subplans, so a hint under a
``scoped_persist`` is checked like any other.

See ``scale`` for the policy being enforced and SCALE.md round-6 for the
measurements behind it.
"""

from __future__ import annotations

import re

SCALING_TABLES = (
    "lineitem", "orders", "events", "documents", "embeddings",
    "customer", "supplier", "part",
)
FIXED_TABLES = ("region", "nation")

# leaf-relation column prefixes -> table (logical leaves don't render
# their file paths, but they keep the source schema)
_COL_TABLE = {
    "l_": "lineitem", "o_": "orders", "c_": "customer",
    "s_": "supplier", "p_": "part", "n_": "nation", "r_": "region",
    "doc_id": "documents", "vec_id": "embeddings",
    "event_id": "events", "sale_id": "sales",
}

BOUNDING_PHYS = ("TakeOrderedAndProject", "CollectLimit", "GlobalLimit",
                 "LocalLimit")
AGGS_PHYS = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
STAGES = ("BroadcastQueryStage", "ShuffleQueryStage",
          "TableCacheQueryStage")

TABLE_RE = re.compile(
    r"/(" + "|".join(SCALING_TABLES + FIXED_TABLES) + r")\.parquet"
)

# ---------- physical walk (executed plans) ----------

def phys_kids(node):
    """Children of a physical node, entering AQE's initial plan, query
    stages and the plan behind a cached relation (an InMemoryTableScan
    is a leaf to Spark, but its cached plan runs like any other)."""
    nm = node.nodeName()
    if nm.startswith("AdaptiveSparkPlan"):
        return [node.initialPlan()]
    if nm.startswith(STAGES):
        return [node.plan()]
    if nm.startswith("InMemoryTableScan"):
        return [node.relation().cachedPlan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def phys_walk(node, _entered=None):
    """Pre-order walk; a cached plan scanned from several places runs
    once, so it is walked once."""
    entered = set() if _entered is None else _entered
    yield node
    if node.nodeName().startswith("InMemoryTableScan"):
        cache = node.relation().cacheBuilder()
        key = (cache.hashCode(), cache.cachedName())
        if key in entered:
            return
        entered.add(key)
    for k in phys_kids(node):
        yield from phys_walk(k, entered)


def classify_build(
    node, bounded: bool, keyed: bool, out: list, cached: bool = False
) -> None:
    """Physical DFS from a BroadcastExchange: record, for every
    scaling-table scan reached, whether the path crossed a bounding
    node, only a keyed aggregate, and/or an InMemory (cached) relation
    — cached+keyed builds are the stats-lie class whose broadcasts must
    come from a size gate, never an estimate."""
    nm = node.nodeName()
    if nm.startswith(AGGS_PHYS):
        try:
            if node.groupingExpressions().isEmpty():
                bounded = True
            else:
                keyed = True
        except Exception:
            keyed = True
    elif nm.startswith(BOUNDING_PHYS):
        bounded = True
    elif nm.startswith(("FileScan", "Scan", "BatchScan", "InMemory")):
        if nm.startswith("InMemory"):
            cached = True
        hit = set(TABLE_RE.findall(node.toString())) & set(SCALING_TABLES)
        if hit:
            out.append((sorted(hit), bounded, keyed, cached))
    for k in phys_kids(node):
        classify_build(k, bounded, keyed, out, cached)


# ---------- logical walk (optimized plans, hint audit) ----------

def _lkids(node):
    """Children of a logical node; a cached relation's child is the
    logical plan it caches, which keeps its join hints."""
    if node.nodeName().startswith("InMemoryRelation"):
        return [node.cacheBuilder().logicalPlan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _leaf_tables(node) -> set[str]:
    """Tables under a LOGICAL node, identified by leaf output columns."""
    tables: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        kids = _lkids(n)
        if not kids:
            try:
                out = n.output()
                cols = [out.apply(i).name() for i in range(out.size())]
            except Exception:
                cols = []
            for c in cols:
                for pref, tab in _COL_TABLE.items():
                    if c == pref or c.startswith(pref):
                        tables.add(tab)
                        break
        stack.extend(kids)
    return tables


def _hinted_unbounded(node, bounded: bool, out: set) -> None:
    """Logical DFS: collect scaling leaf tables reachable without
    crossing a bounding node (global Aggregate or Limit)."""
    nm = node.nodeName()
    if nm.startswith("Aggregate"):
        try:
            if node.groupingExpressions().isEmpty():
                bounded = True
        except Exception:
            pass
    elif nm.startswith(("GlobalLimit", "LocalLimit")):
        bounded = True
    kids = _lkids(node)
    if not kids and not bounded:
        out |= _leaf_tables(node) & set(SCALING_TABLES)
    for k in kids:
        _hinted_unbounded(k, bounded, out)


def hint_findings(root) -> list[dict]:
    """Broadcast hints in a LOGICAL plan (cached subplans included)
    whose hinted side reaches an unbounded scaling leaf. An optimized
    plan carries hints on its joins; the analyzed plan a cached
    relation keeps carries them as ResolvedHint nodes."""
    found = []
    stack = [root]
    while stack:
        n = stack.pop()
        nm = n.nodeName()
        if nm.startswith("Join"):
            h = n.hint()
            hints = [("left", 0, h.leftHint()), ("right", 1, h.rightHint())]
        elif nm.startswith("ResolvedHint"):
            hints = [("cached", 0, n.hints())]
        else:
            hints = []
        for side, i, hint in hints:
            if "BROADCAST" not in hint.toString().upper():
                continue
            bad: set = set()
            _hinted_unbounded(n.children().apply(i), False, bad)
            if bad:
                found.append({"side": side, "tables": sorted(bad)})
        stack.extend(_lkids(n))
    return found


def forced_hint_audit(spark, registry, sf_dir):
    """Run the gates-shut hint audit over a query registry; returns
    (forced, reviewed) finding lists. A finding is reviewed when a
    ``scale.bounded_broadcast`` call made while building that query
    hints a frame over the finding's tables; it carries that call's
    reason. Caller must pass a registry of non-streaming specs."""
    from sales_data_pipeline_spark import scale
    from sales_data_pipeline_spark.queries.base import release_persisted

    saved = (scale.DIM_BROADCAST_CAP, scale.GRAM_MAP_BROADCAST_CAP)
    scale.DIM_BROADCAST_CAP = scale.GRAM_MAP_BROADCAST_CAP = 0
    forced, reviewed = [], []
    try:
        for name, spec in sorted(registry.items()):
            scale.declared = []
            try:
                qe = spec.fn(spark, sf_dir)._jdf.queryExecution()
                declared = [
                    (reason, _leaf_tables(
                        df._jdf.queryExecution().optimizedPlan()
                    ))
                    for reason, df in scale.declared
                ]
            finally:
                scale.declared = None
            for f in hint_findings(qe.optimizedPlan()):
                reasons = [
                    reason for reason, tables in declared
                    if tables >= set(f["tables"])
                ]
                if reasons:
                    reviewed.append({"query": name, **f, "reason": reasons[0]})
                else:
                    forced.append({"query": name, **f})
            release_persisted()
            spark.catalog.clearCache()
    finally:
        scale.DIM_BROADCAST_CAP, scale.GRAM_MAP_BROADCAST_CAP = saved
    return forced, reviewed
