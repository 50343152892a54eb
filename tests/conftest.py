import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The session's default driver heap (a quarter of RAM, up to 32g) lets
# the test JVM of a large box grow past what the suite needs; 4g holds
# the whole suite on any box. Children (CLI tests) inherit it.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from drune_spark.session import get_spark

    spark = get_spark("drune_spark_tests", master="local[4]",
                      options={"spark.sql.shuffle.partitions": "4"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture()
def both_modes():
    """Runs a builder twice: at the default replay cutoffs, then under
    ``replay.distributed()``, and returns both results. Operators pick
    their path while the frame is built, so a builder should return
    collected values (or a schema), not a lazy frame."""
    from drune_spark.operators import replay

    def run(build):
        fast = build()
        with replay.distributed():
            slow = build()
        return fast, slow

    return run


@pytest.fixture()
def jobs_in(spark):
    """Runs ``fn`` under job group ``group``; returns its result and the
    ids of the Spark jobs it ran."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


def assert_df_equal(actual, expected, sort_by=None):
    """chispa-style DataFrame equality: same columns (order-insensitive),
    same rows (order-insensitive unless sort_by given)."""
    acols, ecols = sorted(actual.columns), sorted(expected.columns)
    assert acols == ecols, f"columns differ: {acols} vs {ecols}"
    a = [tuple(r) for r in actual.select(*acols).collect()]
    e = [tuple(r) for r in expected.select(*acols).collect()]
    assert sorted(map(repr, a)) == sorted(map(repr, e)), \
        f"rows differ:\n  actual={sorted(map(repr, a))[:5]}\n  expected={sorted(map(repr, e))[:5]}"
