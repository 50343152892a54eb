"""SparkSession construction with scale-appropriate defaults.

Defaults chosen for the 100 TB design brief:
- AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  broadcast conversion after runtime stats)
- shuffle partitions sized by env (32 locally; a real cluster overrides
  via ``defaults.engine.options`` — with AQE the number is an upper bound
  that coalescing shrinks)
- Arrow enabled for any pandas-interop path
- session timezone pinned to UTC so timestamp semantics match the
  (naive-timestamp) parquet data and the DuckDB oracle everywhere
"""

from __future__ import annotations

import os
from typing import Any, Optional

from pyspark.sql import SparkSession

try:  # Feature flag: containers with delta-spark get Delta SQL support.
    import delta  # type: ignore  # noqa: F401
    HAS_DELTA = True
except ImportError:
    HAS_DELTA = False

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamps (timestamp[us] without tz — the driver has
    # regenerated testdata in this flavor) should land as TIMESTAMP, not
    # TIMESTAMP_NTZ: every event-time op (unix_micros, window, watermark)
    # needs TIMESTAMP, and the UTC-pinned session makes them equivalent.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # InferFiltersFromGenerate clones the generator's child expression
    # into an inferred `size(child) > 0 AND isnotnull(child)` filter
    # that predicate-pushdown then rewrites through every projection
    # down to the scan. When the child is an expensive higher-order
    # expression (word/char shingles: transform+element_at over a
    # split() that HOF evaluation re-runs per element, outside codegen
    # CSE), the whole expression executes 3x per row — measured 8.4s vs
    # 0.4s steady-state on the sf0.1 shingle explode. Every explode in
    # this engine sits above a projection (never directly on a scan
    # where the inferred filter could actually skip IO), so the rule is
    # pure loss here.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # PySpark 4 captures a python call-site string and ships it to the
    # JVM (set_current_origin) on EVERY DataFrame/Column op for richer
    # error messages — one extra py4j round-trip + a stack walk per op.
    # The r10 build profile measured it as a visible slice of the
    # 2-5 s expression-build time of the wide ANN/IVF operators.
    # Pure-overhead toggle, no semantic effect; leave errors terse.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_driver_mem() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: a
    quarter of physical memory, capped at 32g — 32g on a 128 GiB box,
    4g on a 16 GiB one, where a fixed 32g let the JVM grow until the
    kernel killed it."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 << 10, total // 4 >> 20)}m"


def get_spark(
    app_name: str = "drune_spark",
    master: Optional[str] = None,
    options: Optional[dict[str, Any]] = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = {**DEFAULT_CONF, **(options or {})}
    # Driver heap: with no spark-defaults.conf the local-mode JVM runs
    # the 1 GiB -Xmx DEFAULT — the root cause of the whole
    # marathon-cache OOM family on a 128 GiB box (BENCH_r04 rc=1, the
    # scale_curve heap crashes): 32 executor threads + accumulated
    # persist marks simply don't fit in 1 GiB. The default is derived
    # from the machine (``default_driver_mem``). Builder-time only —
    # spark.driver.memory is immutable on a live session, so it must
    # NOT be in DEFAULT_CONF (tune_session would try to set it and
    # throw CANNOT_MODIFY). No effect when a session already exists
    # (getOrCreate reuses it), e.g. under the external driver's own
    # harness.
    conf.setdefault(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
    )
    if HAS_DELTA:
        # Auto-enable Delta when delta-spark is installed: the writers'
        # merge/replaceWhere/RESTORE fast paths (sinks/writers.py
        # HAS_DELTA) and the skipif-gated Delta tests flip on with it.
        conf.setdefault(
            "spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension",
        )
        conf.setdefault(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    for key, value in conf.items():
        builder = builder.config(key, str(value))
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-provided session
    (e.g. the driver's) without rebuilding it."""
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.optimizer.excludedRules",
        # Best-effort on an external session: pyspark caches the flag
        # python-side on first use, so this only helps if set before
        # the first DataFrame op of the process.
        "spark.python.sql.dataFrameDebugging.enabled",
    ):
        try:
            spark.conf.set(key, DEFAULT_CONF[key])
        except Exception:
            pass
    return spark
