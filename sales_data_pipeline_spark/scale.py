"""The engine's one broadcast policy: every broadcast hint is made here.

A build the plan proves small needs no hint: a global aggregate is one
row, a limit k rows, nation/region a few KB, so Catalyst broadcasts
them under ``autoBroadcastJoinThreshold`` by itself. A hint is only for
a build the estimates cannot bound, and there are two kinds:

``gated_broadcast`` — the build GROWS with the data (customer/part/
supplier dims, per-doc or per-term maps, gram/shingle sets). The hint
is earned by evidence: the on-disk footprint of the files behind it
(``df.inputFiles()``, for a derived frame the union of its lineage's
source files — an upper bound, the safe direction) must be provably
under a cap; unknown footprint counts as huge. A forced broadcast of a
scaling relation is a guaranteed OOM at some scale, while an unhinted
join degrades to a spilling sort-merge join.

``bounded_broadcast`` — the build is bounded by a domain fact the plan
cannot show (an enum key, the embedding width, a hash-bucket modulus,
one row per shuffle partition). The call site writes that fact as the
reason; ``plan_audit.forced_hint_audit`` reports it, and fails any
hinted scaling build that no such call declared.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Cap for plain-row relations (dims, per-doc/per-term maps): parquet ->
# in-memory row expansion for ordinary columnar rows is ~2-4x, so 64 MB
# on disk bounds the broadcast relation near ~200 MB. Measured healthy
# at the sf10 spot-check (customer = 24 MB, documents = 60 MB — the
# forced-broadcast plans of all gated sites completed there); the gate
# exists for the scales beyond any local test, where the hint must
# disappear.
DIM_BROADCAST_CAP = 64 << 20

# Cap for corpus-scaling gram/shingle-set maps (payload = a doc's whole
# shingle set, ~50x parquet->relation expansion), probed on the CORPUS
# footprint. Calibrated by A/B measurement (min-of-2 passes, idle
# machine, both arms forced) on the round-6 scale ladder: at 0.6 MB of
# documents parquet (sf0.1) broadcast wins the 5-query dedup family by
# ~2.8 s net; at 6 MB (sf1) merge wins decisively (dedup_minhash_lsh
# 10.4 s vs 21.0 s broadcast — building and copying the ~300 MB
# HashedRelation dominates); at ~60 MB (sf10) broadcast doesn't
# complete at all (multi-GB relation OOM). The crossover is between
# those measured points; 2 MB (~100 MB relation) takes broadcast only
# where it's both safe AND measured faster.
GRAM_MAP_BROADCAST_CAP = 2 << 20

# Set to a list by plan_audit.forced_hint_audit around each query build
# (every bounded_broadcast then appends (reason, df)); None otherwise.
declared: list[tuple[str, DataFrame]] | None = None


def source_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the local file-source inputs behind df,
    or None when that is unknowable (non-file source, remote URI,
    unreadable path) — callers must treat None as 'assume huge'."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(parsed.path)
        except OSError:
            return None
    return total


def source_is_small(df: DataFrame, cap: int) -> bool:
    """True only when df's file-source footprint is PROVABLY at or
    under cap — unknowable sizes count as huge."""
    size = source_bytes(df)
    return size is not None and size <= cap


def gated_broadcast(
    df: DataFrame,
    cap: int | None = None,
    corpus: DataFrame | None = None,
    cached: bool = False,
) -> DataFrame:
    """``F.broadcast(df)`` iff the file footprint behind ``corpus``
    (default: df's own lineage) is provably <= cap (default
    DIM_BROADCAST_CAP, read at call time so tests and the broadcast
    audit can force the gate shut); else df UNHINTED, so Catalyst/AQE
    picks the join strategy from its own estimates and the plan
    degrades to sort-merge at scale instead of OOMing.

    ``cached=True`` is REQUIRED for persisted builds (scoped_persist):
    an InMemoryRelation's pre-materialization stats UNDERestimate (the
    dedup gram-map OOM class), so the unhinted else-arm could still
    pick a fatal broadcast — those sites get an explicit merge hint
    instead, which spills and is memory-bounded at any size."""
    probe = corpus if corpus is not None else df
    limit = DIM_BROADCAST_CAP if cap is None else cap
    if source_is_small(probe, limit):
        return F.broadcast(df)
    return df.hint("merge") if cached else df


def bounded_broadcast(df: DataFrame, reason: str) -> DataFrame:
    """``F.broadcast(df)`` for a build whose row count is bounded by a
    domain fact the plan cannot show; ``reason`` names that fact at the
    call site (a string literal, so the source test and the audit read
    the same words)."""
    if declared is not None:
        declared.append((reason, df))
    return F.broadcast(df)


def spread_small_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-spread a scan-rooted frame across the cluster ONLY when its
    physical plan has fewer partitions than the default parallelism.

    The failure this gates (round-7 find, measured): a small-SF corpus
    is ONE parquet file, so the scan stage has ONE partition and every
    CPU-heavy per-row projection rooted on it — shingling, minhash
    folds, tokenizing explodes — runs single-threaded no matter how
    many cores exist (dedup_incremental_batch spent 3.5 s of its 6.6 s
    in one such stage; token_bigram_pmi 3.1 s of 3.9 s). A blanket
    ``repartition`` fixes the bench but is a catastrophic full-corpus
    shuffle at 100 TB, where scans already arrive in thousands of
    splits — so the spread is GATED on the observed partition count and
    becomes a no-op exactly when the data is big enough not to need it.

    PRECONDITION: call this on SCAN-ROOTED frames only (scan + narrow
    projections/filters/unions, no shuffle upstream). The partition
    probe (``df.rdd.getNumPartitions()``) plans such a frame without
    launching a job — but under AQE, ``.rdd`` on a plan that CONTAINS a
    shuffle materializes the intermediate query stages (runs real
    jobs), so wrapping a post-shuffle frame would silently execute it
    here. All current call sites are corpus/scan builders; keep it
    that way. Keys make the placement deterministic (hash of the id),
    not round-robin."""
    sess = df.sparkSession
    n = sess.sparkContext.defaultParallelism
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if parts >= min(n, 8):
        return df
    return df.repartition(n, *[F.col(k) for k in keys]) if keys else (
        df.repartition(n)
    )
