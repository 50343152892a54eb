"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name).

Deliberately STRICTER than the driver: DuckDB results are fetched via
Arrow (so ``SUM(BIGINT)`` surfaces as HUGEINT -> decimal128, exactly the
type the driver's harness sees) and the canonical form is TYPE-TAGGED
(``i:`` int, ``f:`` float at full precision, ``d:`` Decimal, ...).  The
round-1 replica stringified everything with ``str()``/``%.9g`` and
collapsed int/float/Decimal into one representation, which masked three
driver hash failures (DuckDB HUGEINT vs Spark BIGINT).  A pass here now
implies the value TYPES align exactly, which hash-matches under any sane
driver canonicalization.

Usage: python tools/check_oracle.py [--hostile] [sf_dir] [query ...]

``--hostile`` simulates the external driver's session BEFORE the sweep:
non-UTC timezone, AQE off, 200 shuffle partitions. Every query's
``tune_session`` must absorb it — run this after touching session/
timezone-sensitive code.

After each query a ``LEAK <query>`` line reports session state the query
left behind: a temp view it created, or a change to one of ``WATCHED``
other than the value ``tune_session`` sets. The line is a report only;
it never fails the query (a pipeline may register source views on
purpose, and the report shows which ones do).
"""

from __future__ import annotations

import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

WATCHED = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
)


def canon(value) -> str:
    """Type-tagged canonical string; int/float/Decimal never collide."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "b:true" if value else "b:false"
    if isinstance(value, int):
        return f"i:{value}"
    if isinstance(value, float):
        if math.isnan(value):
            return "f:NaN"
        return f"f:{value!r}"
    if isinstance(value, Decimal):
        return f"d:{value}"
    if isinstance(value, bytes):
        return "x:" + value.hex()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    if isinstance(value, dict):
        items = sorted(value.items())
        return "{" + ",".join(f"{k}={canon(v)}" for k, v in items) + "}"
    return "s:" + str(value)


def frame_signature(columns: list[str], rows: list[tuple]) -> tuple:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols_sorted = [columns[i] for i in order]
    canon_rows = sorted(
        tuple(canon(row[i]) for i in order) for row in rows
    )
    import hashlib
    h = hashlib.sha256()
    for row in canon_rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return cols_sorted, len(rows), h.hexdigest()


def fetch_duckdb_arrow(con, sql: str) -> tuple[list[str], list[tuple]]:
    """Fetch via Arrow so DuckDB types (HUGEINT, DECIMAL, ...) surface the
    same way the driver's harness sees them, not collapsed by the Python
    client (which renders HUGEINT as plain int)."""
    tbl = con.execute(sql).fetch_arrow_table()
    cols = list(tbl.column_names)
    rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
    return cols, rows


def session_state(spark) -> tuple[set[str], dict[str, str | None]]:
    """Temp view names and the ``WATCHED`` conf values."""
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    return views, {k: spark.conf.get(k, None) for k in WATCHED}


def leaks(before, after) -> list[str]:
    """What changed between two ``session_state`` snapshots, except a
    watched conf set to the value ``tune_session`` applies."""
    from drune_spark.session import DEFAULT_CONF

    out = [f"view {v}" for v in sorted(after[0] - before[0])]
    for k, v in after[1].items():
        if v != before[1][k] and v != DEFAULT_CONF.get(k):
            out.append(f"{k} {before[1][k]} -> {v}")
    return out


def main() -> int:
    args = sys.argv[1:]
    hostile = "--hostile" in args
    if hostile:
        args.remove("--hostile")
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from drune_spark.session import get_spark

    if hostile:
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle_check_hostile")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.sql.shuffle.partitions", "200")
            .config("spark.sql.adaptive.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle_check")
    con = duckdb.connect()
    for table in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {table} AS "
            f"SELECT * FROM '{sf_dir}/{table}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time
        t0 = time.time()
        before = session_state(spark)
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        finally:
            left = leaks(before, session_state(spark))
            if left:
                print(f"LEAK {name}: {'; '.join(left)}")
        if name not in oracles:
            print(f"  ok {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            ocols, orows = fetch_duckdb_arrow(con, oracles[name])
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        ssig = frame_signature(scols, srows)
        osig = frame_signature(ocols, orows)
        if ssig == osig:
            print(f"  ok {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL {name}: spark(cols={ssig[0]}, n={ssig[1]}, h={ssig[2][:12]}) "
                  f"vs duckdb(cols={osig[0]}, n={osig[1]}, h={osig[2][:12]})")
            if ssig[0] == osig[0] and ssig[1] == osig[1]:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = {tuple(canon(row[i]) for i in order) for row in srows}
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                oset = {tuple(canon(row[i]) for i in oorder) for row in orows}
                diff1 = sorted(sset - oset)[:3]
                diff2 = sorted(oset - sset)[:3]
                print(f"    spark-only sample: {diff1}")
                print(f"    duckdb-only sample: {diff2}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
