"""Session-scoped memos for deterministic per-session work.

The engine memoizes the LSH bucket index, k-means centroids and PQ
codebooks and the serving index (`operators/similarity.py`), BPE merge
lists (`operators/textprep.py`), converged dedup-cluster frames
(`operators/graph.py`) and the cached scan handles (`datasets.py`). Every
site goes through :func:`session_memo`; the rules below hold for all of
them.

Session hygiene (ADVICE r5): keys are tuples whose first element is the
applicationId, so a NEW session never sees a dead session's JVM-bound
objects. The key alone would only ORPHAN old entries — a long-lived
process cycling SparkSessions would accumulate DataFrames pinned to
stopped SparkContexts — so every miss calls :func:`evict_stale`, and the
dict holds at most one session's worth of state.

Unlocked by choice: two threads missing on the same key both build and
the last store wins. The builds are deterministic, so a race costs a
double-compute, never a wrong answer (result equality under a real race
is pinned by tests/test_concurrency.py); a lock here would serialize
every first call behind a multi-second training job. A site that needs
its own lock (`datasets.cache_table`) takes it around the call.

Immutable-snapshot caveat (documented, deliberate): WITHIN one session
the memos serve the result computed from the parquet under ``sf_dir`` at
first call — if the files are rewritten in place mid-session, the memo is
stale until the session (or applicationId) changes. The engine's query
surface treats sf_dir datasets as immutable snapshots; mutating sinks
write elsewhere.
"""

from __future__ import annotations

from typing import Callable, TypeVar

T = TypeVar("T")


def session_memo(memo: dict, key: tuple, build: Callable[[], T]) -> T:
    """Return ``memo[key]``, building and storing it on a miss.

    A stored ``None`` counts as a miss, so ``build`` must return a
    non-None value for the result to be reused. A miss first evicts
    other sessions' entries, then builds; a ``build`` that raises stores
    nothing. The built value is returned directly rather than re-read
    from the dict, so a concurrent evictor cannot raise ``KeyError``.
    """
    hit = memo.get(key)
    if hit is not None:
        return hit
    evict_stale(memo, key[0])
    value = build()
    memo[key] = value
    return value


def evict_stale(memo: dict, app_id: str) -> None:
    """Drop every memo entry belonging to another applicationId.

    Called on a cache miss (the only time the dict can grow), so the
    sweep is O(entries) on the rare session-change path and free on hits.

    Thread-safety (ADVICE r6): iterating the live dict while another
    thread's first construction inserts would raise RuntimeError
    ("dictionary changed size during iteration"). ``list(memo)``
    snapshots the keys in one atomic bytecode op under the GIL, and
    ``pop(k, None)`` tolerates a concurrent evictor having removed the
    key already — so the worst case stays double-compute, never a crash.
    """
    for k in list(memo):
        if k[0] != app_id:
            memo.pop(k, None)
