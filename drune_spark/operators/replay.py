"""Driver replay vs distributed execution: the one place that decides.

Twenty-one operators also carry a numpy/python "driver replay" of their
semantics that runs below a size cutoff, where the distributed plan
would spend its time scheduling jobs rather than working (the F1 Query
centralized-vs-distributed choice, made per call from the input size).
Each operator keeps its own decline rules (NULL or duplicate ids, types,
overflow bounds); this module holds what the gates share: the cutoffs,
the bounded collect, one DEBUG log record per decision (op, path,
reason, size, cutoff; nothing is built while the logger is off and no
record runs a Spark job) and ``distributed()``, the test switch that
forces the distributed path. A decline after a successful collect logs
a second record, which supersedes the replay one.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

from pyspark import StorageLevel

log = logging.getLogger(__name__)

# A replay runs when its input is at or below the cutoff; each is the
# broadcast-build memory class for the unit its gate counts.
CUTOFFS: dict[str, int] = {
    # (doc, shingle|token) cell rows
    "ngram_jaccard_pairs": 2_000_000,
    "containment_pairs": 2_000_000,
    "prefix_filter_join": 2_000_000,
    # documents (incremental: new + existing together)
    "minhash_lsh_pairs": 50_000,
    "incremental_minhash_dedup": 50_000,
    "lsh_census_eval": 50_000,
    "simhash_near_dup_pairs_portable": 50_000,
    # edge rows (bfs_khop and partition_modularity: plus seed/assign
    # rows); the python-loop replays stop at 200k
    "connected_components": 200_000,
    "k_truss": 200_000,
    "anf_reach": 200_000,
    "partition_modularity": 200_000,
    "pagerank_int": 1_000_000,
    "personalized_pagerank_int": 1_000_000,
    "bfs_khop": 1_000_000,
    "kcore": 1_000_000,
    "label_propagation": 1_000_000,
    "hits_int": 1_000_000,
    # (word, freq) vocabulary rows
    "bpe_train": 200_000,
    "wordpiece_train": 200_000,
    # quantized code cells (rows × dim)
    "ivf_train": 2_000_000,
    # vectors
    "nsw_greedy_search": 5_000,
}

_forced = 0


@contextmanager
def distributed():
    """Force every replay gate onto the distributed path for the
    duration of the block. A test hook, not a user option: gates return
    before counting anything, so even empty inputs run distributed."""
    global _forced
    _forced += 1
    try:
        yield
    finally:
        _forced -= 1


def _record(op, path, reason, size=None):
    if log.isEnabledFor(logging.DEBUG):
        fields = {"op": op, "path": path, "reason": reason, "size": size,
                  "cutoff": CUTOFFS[op]}
        log.debug("%(op)s: %(path)s (%(reason)s) size=%(size)s "
                  "cutoff=%(cutoff)s", fields, extra=fields)


def decline(op: str, reason: str, size: int | None = None) -> None:
    """Record that ``op`` runs distributed for ``reason``; returns
    ``None`` so a gate can ``return replay.decline(...)``."""
    _record(op, "distributed", reason, size)


def admit(op: str, size: int) -> bool:
    """Whether ``op`` replays an input of ``size`` units on the driver;
    records the decision."""
    if _forced or size > CUTOFFS[op]:
        decline(op, "forced" if _forced else "above_cutoff", size)
        return False
    _record(op, "replay", "within_cutoff", size)
    return True


def collect(op: str, *frames):
    """Bounded Arrow collect for ``op``'s replay: one ``pyarrow.Table``
    per frame (unwrapped for one frame), or ``None`` when the frames'
    total row count passes the cutoff or under ``distributed()``. Each
    frame is counted and fetched from one materialization; one the
    caller has not cached is persisted for the collect and released
    after it, one the caller cached stays cached."""
    if _forced:
        return decline(op, "forced")
    cutoff = CUTOFFS[op]
    owned = []
    try:
        size = 0
        for f in frames:
            if f.storageLevel == StorageLevel.NONE:
                owned.append(f.persist())
            size += f.count()
            if size > cutoff:
                return decline(op, "above_cutoff", size)
        tables = [f.toArrow() for f in frames]
    finally:
        for f in owned:
            f.unpersist()
    _record(op, "replay", "within_cutoff", size)
    return tables[0] if len(tables) == 1 else tuple(tables)
