"""Driver replay vs distributed execution: the one place that decides.

Twenty-one operators also carry a numpy/python "driver replay" of their
semantics that runs below a size cutoff, where the distributed plan
would spend its time scheduling jobs rather than working (the F1 Query
centralized-vs-distributed choice, made per call from the input size).
This module holds what the gates share: the cutoffs, the bounded
collect, one DEBUG log record per decision (op, path, reason, size,
cutoff; nothing is built while the logger is off and no record runs a
Spark job), ``distributed()``, the test switch that forces the
distributed path, and ``gate``, the front end all 21 replays enter
through, with the id-type, NULL-id, duplicate-id and empty-input rules
and the one result builder, ``frame``. Each kernel keeps only its own
declines (parameters, budgets, overflow bounds). A decline after a
successful collect logs a second record, which supersedes the replay
one.

A replay's result already sits on the driver when its frame is built,
so ``frame`` ``hold``s the Arrow table beside the frame. A gate fed
that very frame takes the ``held`` table instead of fetching it back
through Spark: no persist, no count, no collect job. Held tables are
keyed weakly by the frame object, so one lives exactly as long as its
frame; a frame derived from a held one (a select, a filter) is not
held.
"""

from __future__ import annotations

import logging
import weakref
from contextlib import contextmanager
from typing import NamedTuple

from pyspark import StorageLevel

from drune_spark.functions.partitioning import LITERAL_ROWS, local_frame

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

# frame -> the Arrow table its replay built it from
_held: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


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


def admit(op: str, size: int, reason: str = "within_cutoff") -> bool:
    """Whether ``op`` replays an input of ``size`` units on the driver;
    records the decision (``reason`` names how the input reached the
    driver: counted, or ``held``)."""
    if _forced or size > CUTOFFS[op]:
        decline(op, "forced" if _forced else "above_cutoff", size)
        return False
    _record(op, "replay", reason, size)
    return True


def hold(df, table):
    """Record ``table``, the rows ``df`` was built from, as what
    ``df.toArrow()`` returns: cast to the Arrow schema ``toArrow`` casts
    its batches to, so a gate reading it sees exactly the fetched
    values. Returns ``df``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    _held[df] = table.cast(to_arrow_schema(
        df.schema, error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    ))
    return df


def held(df):
    """The Arrow table a replay built ``df`` from, or ``None``."""
    return _held.get(df)


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


# The id types a replay takes; any other runs distributed.
ID_TYPES = ("int", "bigint", "string")


def integer_ids(op: str, df, *cols) -> None:
    """Raise ``TypeError`` naming the column, before any Spark job,
    unless each of ``cols`` is int or bigint: the operators with an
    integer encoding of their ids take no other type, in either mode."""
    for c in cols:
        t = df.schema[c].dataType.simpleString()
        if t not in ("int", "bigint"):
            raise TypeError(f"{op} needs int or bigint ids; {c} is {t}")


class Lists(NamedTuple):
    """A fetched list column: row ``r`` owns ``values[offs[r]:offs[r+1]]``."""

    offs: object
    values: object


class Input(NamedTuple):
    """A replay's fetched input: ``cols`` maps each column to a numpy
    array (strings and NULL-bearing columns as object arrays; a list
    column as ``Lists``), the id columns as codes into ``nodes`` (the
    sorted distinct ids) when the gate was asked for codes; ``n_rows``
    counts the first frame's rows."""

    cols: dict
    nodes: object
    n_rows: int


def frame(spark, data, schema: str):
    """A replay result as a held frame of DDL ``schema``; ``data`` is a
    list of rows or a dict of columns (numpy arrays or lists) in schema
    order. Up to ``LITERAL_ROWS`` rows it is a literal frame, whose size
    estimate is its real size, so a caller's join over it plans a
    broadcast from the start instead of racing AQE for one; a larger
    result is one Arrow frame, never a pickled ``parallelize`` of rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    fields = to_arrow_schema(StructType.fromDDL(schema))
    if isinstance(data, dict):
        cols = list(data.values())
    else:
        data = list(data)
        cols = [list(c) for c in zip(*data)] or [[]] * len(fields)
    table = pa.table([pa.array(c, type=f.type)
                      for f, c in zip(fields, cols)], schema=fields)
    if table.num_rows > LITERAL_ROWS:
        df = spark.createDataFrame(table, schema=schema)
    else:
        if isinstance(data, dict):
            data = zip(*(c.to_pylist() for c in table.columns))
        df = local_frame(spark, data, schema)
    return hold(df, table)


def _is_list(t) -> bool:
    import pyarrow as pa

    return pa.types.is_list(t) or pa.types.is_large_list(t)


def _numpy(a):
    """An Arrow column as numpy; a list column as ``Lists``."""
    import numpy as np

    if _is_list(a.type):
        a = a.combine_chunks()
        offs = np.asarray(a.offsets, dtype=np.int64)
        values = a.values.slice(offs[0], offs[-1] - offs[0])
        return Lists(offs - offs[0], _numpy(values))
    if a.null_count:
        return np.asarray(a.to_pylist(), dtype=object)
    return a.to_numpy(zero_copy_only=False)


def gate(op: str, frames, ids, schema: str, kernel, *, codes=False,
         unique=False, label=None, size=None,
         empty=(), build=frame):
    """The front end of every replay: the rules they share, so both
    execution modes see the same inputs the same way.

    1. The ``ids`` columns (across ``frames``; a list column by its
       element type) share one type among ``ID_TYPES``, and the
       ``label`` column, if any, has an id type of its own; otherwise
       ``op`` declines ``id_type`` before any Spark job.
    2. The bounded fetch: when every frame is ``held``, ``admit`` of
       their total rows and no Spark job; else ``collect``, or, when
       the caller counts the input itself (``size``: its count, or a
       callable that counts after rule 1), ``admit`` plus one Arrow
       fetch of each frame.
    3. A NULL id declines ``null_id`` (read from Arrow, no job): the
       distributed joins drop NULL keys while its unions keep them.
       With ``unique``, an id repeated within one ``ids`` column
       declines ``duplicate_id``; a NULL list row declines
       ``null_list``.
    4. When every frame is empty the result is a ``frame`` of the
       ``empty`` rows.
    5. Otherwise the columns reach ``kernel(Input)`` as numpy, the ids
       as codes into the sorted distinct ids when ``codes``. The
       kernel returns its result, or ``None`` after declining for a
       reason of its own.
    6. ``build(spark, result, schema)`` makes the result frame; the
       default, ``frame``, takes rows or columns.

    Returns that frame (``schema`` with ``{id}`` and ``{label}``
    formatted to the input's types), or ``None``: run distributed."""
    cols = {c: f for f in frames for c in f.columns}

    def type_of(c):
        t = cols[c].schema[c].dataType
        return getattr(t, "elementType", t).simpleString()

    types = {type_of(c) for c in ids}
    id_type = types.pop() if len(types) == 1 else None
    label_type = label and type_of(label)
    if (ids and id_type not in ID_TYPES) or (
            label and label_type not in ID_TYPES):
        return decline(op, "id_type")
    schema = schema.format(id=id_type, label=label_type)
    tables = [held(f) for f in frames]
    if all(t is not None for t in tables):
        if not admit(op, sum(t.num_rows for t in tables), "held"):
            return None
    elif size is None:
        tables = collect(op, *frames)
        if tables is None:
            return None
        if len(frames) == 1:
            tables = (tables,)
    elif admit(op, size() if callable(size) else size):
        tables = [f.toArrow() for f in frames]
    else:
        return None
    import pyarrow.compute as pc

    arrow = {c: t.column(c) for t in tables for c in t.column_names}
    n_rows = tables[0].num_rows
    id_cols = [pc.list_flatten(arrow[c]) if _is_list(arrow[c].type)
               else arrow[c] for c in ids]
    if any(a.null_count for a in id_cols):
        return decline(op, "null_id", n_rows)
    if unique and any(pc.count_distinct(a).as_py() < len(a)
                      for a in id_cols):
        return decline(op, "duplicate_id", n_rows)
    if any(a.null_count for a in arrow.values() if _is_list(a.type)):
        return decline(op, "null_list", n_rows)
    spark = frames[0].sparkSession
    if not any(t.num_rows for t in tables):
        return frame(spark, empty, schema)
    import numpy as np

    arrays = {c: _numpy(a) for c, a in arrow.items()}
    nodes = None
    if codes:
        nodes = np.unique(np.concatenate([
            getattr(arrays[c], "values", arrays[c]) for c in ids]))
        for c in ids:
            a = arrays[c]
            arrays[c] = (Lists(a.offs, np.searchsorted(nodes, a.values))
                         if isinstance(a, Lists)
                         else np.searchsorted(nodes, a))
    out = kernel(Input(arrays, nodes, n_rows))
    return None if out is None else build(spark, out, schema)
