"""Deterministic local work directories for queries that materialize
intermediate tables (PQ code tables, streaming cluster state).

Round-9 advisor finding: ``knn_pq_adc_stored`` and the streaming
queries created a fresh ``tempfile.mkdtemp`` on EVERY invocation with
no cleanup — bench's min-of-N passes and repeated certification runs
accumulated unbounded parquet dirs in /tmp and re-paid the encode each
pass. Two regimes fix it:

 - :func:`materialized` — for intermediates that are a PURE function of
   the input data (PQ codes of an immutable testdata table, semantic
   cluster state): key the dir on (name, sf-dir basename) plus a
   fingerprint of the build callable's source, one digest of every
   ``*.py`` in this package and the (path, size, mtime) of the files
   under sf_dir — so a code edit or regenerated input data rebuilds
   instead of serving stale bytes. Build once into a temp sibling,
   atomically rename into place, and REUSE it on every later
   invocation. Concurrent builders race benignly: rename fails for
   the loser, who deletes its copy and reads the winner's (both built
   the same deterministic bytes). At 100 TB this is just
   "an index build runs once, serving reads the stored table" — the
   reuse IS the production semantics, not a bench shortcut.
 - :func:`run_dir` — for per-invocation state that must start EMPTY
   (stream checkpoints, append sinks, ping-pong gold versions): same
   deterministic key, but the previous invocation's dir is DELETED and
   recreated fresh. Growth is bounded to one live dir per (name, sf)
   instead of one per invocation; the prior invocation's returned
   DataFrame has necessarily been consumed by the time the same query
   runs again (the driver/bench fully materialize each result before
   the next call), so deleting its backing files is safe.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import os
import shutil
import time
import uuid
from collections.abc import Callable

_MAT_ROOT = "/tmp/spark_graft_mat"
_RUN_ROOT = "/tmp/spark_graft_run"
_DONE = "_COMPLETE"  # our marker, written AFTER build() returns — a
# crashed half-build (no marker) is rebuilt, never reused


def _key(name: str, sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return f"{name}_{base}"


_PKG_ROOT = os.path.dirname(os.path.abspath(__file__))
_pkg_digest: str | None = None


def _package_digest() -> str:
    """sha256 over every ``*.py`` under this package (sorted relative
    path plus bytes), computed once per process."""
    global _pkg_digest
    if _pkg_digest is None:
        h = hashlib.sha256()
        for rel in sorted(
            os.path.relpath(p, _PKG_ROOT)
            for p in glob.glob(
                os.path.join(_PKG_ROOT, "**", "*.py"), recursive=True
            )
        ):
            with open(os.path.join(_PKG_ROOT, rel), "rb") as f:
                data = f.read()
            h.update(f"{rel}\0{len(data)}\0".encode())
            h.update(data)
        _pkg_digest = h.hexdigest()
    return _pkg_digest


def _input_files(sf_dir: str) -> list[tuple[str, int, int]]:
    """(relpath, size, mtime_ns) of every file under sf_dir — the same
    data identity ``queries.base.table()`` keys its plan cache on."""
    out = []
    for root, _dirs, files in os.walk(sf_dir):
        for fname in files:
            path = os.path.join(root, fname)
            st = os.stat(path)
            out.append(
                (os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns)
            )
    return sorted(out)


def _build_fingerprint(build: Callable[[str], None], sf_dir: str) -> str:
    """Version of an artifact: sha256 over the build callable's source,
    the package digest and the input files' (path, size, mtime). Any
    package edit rebuilds, even one that cannot alter the artifact's
    bytes; over-rebuilding costs one build, under-rebuilding costs a
    wrong answer — this errs the safe way."""
    try:
        src = inspect.getsource(build)
    except (OSError, TypeError):
        src = repr(build)
    h = hashlib.sha256(src.encode())
    h.update(_package_digest().encode())
    h.update(repr(_input_files(sf_dir)).encode())
    return h.hexdigest()[:12]


def materialized(
    name: str, sf_dir: str, build: Callable[[str], None]
) -> str:
    """Path of a reusable materialization keyed on (name, sf basename,
    build fingerprint).

    ``build(path)`` is invoked only when no completed materialization
    exists; it must write everything under ``path``. Completion is
    marked by a ``_COMPLETE`` file carrying the measured build seconds
    (so every artifact's cold-build cost stays a recorded number —
    tools/cold_builds.py collects them per round); publication is an
    atomic ``os.rename`` so readers never observe a half-built dir.
    The fingerprint in the key means a change to the build code, the
    package or the input files rebuilds the artifact; the superseded
    fingerprint's dir is removed on publish so /tmp growth stays one
    live dir per (name, sf)."""
    key = f"{_key(name, sf_dir)}_{_build_fingerprint(build, sf_dir)}"
    final = os.path.join(_MAT_ROOT, key)
    if os.path.exists(os.path.join(final, _DONE)):
        return final
    if os.path.exists(final):
        # a crashed build's husk (publication is atomic rename with the
        # marker already inside, so a published dir ALWAYS has it) —
        # clear it so the rebuild's rename can land
        shutil.rmtree(final, ignore_errors=True)
    os.makedirs(_MAT_ROOT, exist_ok=True)
    tmp = f"{final}.build-{uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    build(tmp)
    build_s = round(time.perf_counter() - t0, 3)
    with open(os.path.join(tmp, _DONE), "w") as f:
        f.write(f'{{"build_s": {build_s}}}\n')
    try:
        os.rename(tmp, final)
    except OSError:
        # a concurrent builder won the rename; both built the same
        # deterministic bytes — drop ours, read theirs
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(final, _DONE)):
            raise
    # reclaim dirs this artifact supersedes (same name+sf, older
    # fingerprint) — growth stays one live dir per (name, sf)
    prefix = _key(name, sf_dir) + "_"
    for entry in os.listdir(_MAT_ROOT):
        if entry.startswith(prefix) and entry != key:
            shutil.rmtree(
                os.path.join(_MAT_ROOT, entry), ignore_errors=True
            )
    return final


def run_dir(name: str, sf_dir: str) -> str:
    """Fresh per-invocation dir at a deterministic path: the previous
    invocation's contents are deleted (bounding /tmp growth to one live
    dir per (name, sf)) and an empty dir is returned."""
    path = os.path.join(_RUN_ROOT, _key(name, sf_dir))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
