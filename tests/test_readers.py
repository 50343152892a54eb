"""Source-reader tests: table/sql dispatch, the expected_columns width
guard (S7), dynamic directory paths (S8), nanos-safe parquet."""

import pytest

from drune_spark.config.models import ColumnSpec, SchemaSpec, SourceSpec
from drune_spark.plans.schema_apply import apply_schema
from drune_spark.sources.readers import (
    ReadError,
    read_parquet_nanos_safe,
    read_source,
    resolve_dynamic_path,
)


class TestReadSource:
    def test_table_source(self, spark):
        spark.range(5).write.mode("overwrite").saveAsTable("rs_table")
        df = read_source(spark, SourceSpec(name="t", type="table",
                                           table_name="rs_table"))
        assert df.count() == 5
        spark.sql("DROP TABLE rs_table")

    def test_sql_source(self, spark):
        df = read_source(spark, SourceSpec(
            name="q", type="sql", query="SELECT 1 AS one UNION ALL SELECT 2"))
        assert sorted(r.one for r in df.collect()) == [1, 2]

    def test_expected_columns_guard(self, spark, tmp_path):
        p = tmp_path / "w.csv"
        p.write_text("a,b,c\n1,2,3\n")
        spec = SourceSpec(name="s", type="file", format="csv", path=str(p),
                          options={"header": "true"}, expected_columns=2)
        with pytest.raises(ReadError, match="expected 2 columns, got 3"):
            read_source(spark, spec)
        spec.expected_columns = 3
        assert read_source(spark, spec).count() == 1

    def test_missing_required_fields(self, spark):
        with pytest.raises(ReadError):
            read_source(spark, SourceSpec(name="x", type="file", path=None))
        with pytest.raises(ReadError):
            read_source(spark, SourceSpec(name="x", type="table"))
        with pytest.raises(ReadError):
            read_source(spark, SourceSpec(name="x", type="sql"))

    def test_dynamic_path_directory_source(self, tmp_path):
        spec = SourceSpec(name="d", type="file", path=str(tmp_path))
        # relative runtime file resolves under the directory source
        assert resolve_dynamic_path(spec, "part.csv") == \
            str(tmp_path / "part.csv")
        # no runtime path -> declared path
        assert resolve_dynamic_path(spec, None) == str(tmp_path)

    def test_nanos_safe_read_plain_file(self, spark, tmp_path):
        # No nanos columns -> plain read path (no conf flip needed).
        p = str(tmp_path / "plain.parquet")
        spark.range(3).write.parquet(p)
        assert read_parquet_nanos_safe(spark, p).count() == 3

    def test_nanos_events_roundtrip(self, spark):
        df = read_parquet_nanos_safe(
            spark, "/root/testdata/sf0.001/events.parquet")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.count() == 1000

    # The driver has regenerated events.parquet with a different
    # timestamp flavor between rounds (ns in r1/r2, us-naive in r3).
    # Whatever the writer emits, `ts` must land as TIMESTAMP with the
    # same UTC instants, from the batch reader and from the file stream
    # (drained) alike, read as a file or as its directory, on a session
    # that has not yet set nanosAsLong (cold) and on one an earlier
    # nanos read left it set on (warm) — parametrized so future drift
    # fails in pytest, not in the driver gate.
    @pytest.mark.parametrize("flavor", ["ns", "us_ntz", "us_ltz", "int96", "ms_ntz"])
    def test_timestamp_flavor_drift(self, spark, tmp_path, flavor,
                                    monkeypatch):
        import datetime as dt
        import glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        instants = [
            dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
            dt.datetime(2024, 6, 15, 12, 30, 45, 500000),
            dt.datetime(2025, 12, 31, 23, 59, 59, 0),
        ]
        dpath = tmp_path / f"ev_{flavor}.parquet"
        d = str(dpath)
        if flavor == "int96":
            sdf = spark.createDataFrame(
                [(t,) for t in instants], ["ts"])
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "INT96")
            try:
                sdf.coalesce(1).write.parquet(d)
            finally:
                spark.conf.set(
                    "spark.sql.parquet.outputTimestampType",
                    "TIMESTAMP_MICROS")
        else:
            unit, tz = {
                "ns": ("ns", None), "us_ntz": ("us", None),
                "us_ltz": ("us", "UTC"), "ms_ntz": ("ms", None),
            }[flavor]
            arr = pa.array(instants, type=pa.timestamp(unit, tz=tz))
            dpath.mkdir()
            pq.write_table(pa.table({"ts": arr}),
                           f"{d}/part-00000.parquet")
        (part,) = glob.glob(f"{d}/*.parquet")

        from drune_spark.streaming.runner import _raw_stream, drain

        want = instants
        if flavor == "ms_ntz":  # ms storage truncates sub-ms precision
            want = [t.replace(microsecond=t.microsecond // 1000 * 1000)
                    for t in instants]
        # every read probes its path afresh, not the per-path cache
        monkeypatch.setenv("SPARK_GRAFT_SCHEMA_CACHE", "0")
        nanos_as_long = "spark.sql.legacy.parquet.nanosAsLong"
        for warm in (False, True):
            for p in (part, d):
                case = (flavor, "warm" if warm else "cold", p)
                if warm:
                    spark.conf.set(nanos_as_long, "true")
                else:
                    spark.conf.unset(nanos_as_long)
                batch = read_parquet_nanos_safe(spark, p)
                stream = drain(
                    _raw_stream(spark, p).withWatermark("ts", "1 day"))
                for df in (batch, stream):
                    assert dict(df.dtypes)["ts"] == "timestamp", case
                    got = sorted(r.ts for r in df.collect())
                    assert [t.replace(tzinfo=None) for t in got] == want, \
                        case
                    # event-time ops must accept it (this is what NTZ
                    # breaks)
                    df.selectExpr("unix_micros(ts)").collect()

    # r10 optimization: per-process schema caches (readers._NANOS_READ_CACHE
    # and __spark_entry__._SCHEMA_CACHE) skip the footer-inference job on
    # repeat reads of a path. Cached reads must be row- and
    # schema-identical to cold reads for every timestamp flavor.
    @pytest.mark.parametrize("flavor", ["ns", "us_ntz"])
    def test_nanos_cache_hit_matches_cold_read(self, spark, tmp_path, flavor):
        import pyarrow as pa
        import pyarrow.parquet as pq

        import datetime as dt
        from drune_spark.sources import readers

        instants = [dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
                    dt.datetime(2025, 12, 31, 23, 59, 59, 0)]
        unit = {"ns": "ns", "us_ntz": "us"}[flavor]
        p = str(tmp_path / f"cache_{flavor}.parquet")
        arr = pa.array(instants, type=pa.timestamp(unit))
        pq.write_table(pa.table({"ts": arr}), p)

        readers._NANOS_READ_CACHE.pop(p, None)
        cold = read_parquet_nanos_safe(spark, p)
        cold_rows = sorted(r.ts for r in cold.collect())
        assert p in readers._NANOS_READ_CACHE
        warm = read_parquet_nanos_safe(spark, p)
        assert warm.schema == cold.schema
        assert sorted(r.ts for r in warm.collect()) == cold_rows

    def test_entry_schema_cache_hit_matches_cold_read(self, spark):
        import __spark_entry__ as entrymod

        sf = "/root/testdata/sf0.001"
        path = f"{sf}/customer.parquet"
        entrymod._SCHEMA_CACHE.pop(path, None)
        cold = entrymod._t(spark, sf, "customer")
        n = cold.count()
        assert path in entrymod._SCHEMA_CACHE
        warm = entrymod._t(spark, sf, "customer")
        assert warm.schema == cold.schema
        assert warm.count() == n


class TestTryCastDates:
    def test_try_cast_formatted_date_nulls_malformed(self, spark):
        df = spark.createDataFrame([("2024-01-02",), ("garbage",)], ["d"])
        out = apply_schema(df, SchemaSpec(columns=[
            ColumnSpec(name="data", **{"from": "d"}, type="date",
                       format="yyyy-MM-dd", try_cast=True),
        ]))
        vals = sorted([r.data for r in out.collect()],
                      key=lambda v: (v is None, str(v)))
        assert str(vals[0]) == "2024-01-02" and vals[1] is None

    def test_strict_formatted_date_raises(self, spark):
        df = spark.createDataFrame([("garbage",)], ["d"])
        out = apply_schema(df, SchemaSpec(columns=[
            ColumnSpec(name="data", **{"from": "d"}, type="date",
                       format="yyyy-MM-dd"),
        ]))
        with pytest.raises(Exception):
            out.collect()


class TestPythonDataSource:
    """Spark 4 Python Data Source API (sources/pysource.py)."""

    def _load(self, spark, n, parts):
        from drune_spark.sources.pysource import register

        register(spark)
        return (
            spark.read.format("drune_synth_events")
            .option("n", str(n))
            .option("partitions", str(parts))
            .load()
        )

    def test_every_row_generated_exactly_once(self, spark):
        df = self._load(spark, 1000, 7)
        assert df.count() == 1000
        ids = df.agg({"event_id": "sum"}).collect()[0][0]
        assert ids == 1000 * 999 // 2

    def test_partition_planning_honors_option(self, spark):
        df = self._load(spark, 100, 5)
        assert df.rdd.getNumPartitions() == 5

    def test_rows_match_pure_python_formula(self, spark):
        import hashlib

        from drune_spark.sources.pysource import EVENT_TYPES

        rows = {r.event_id: r for r in self._load(spark, 50, 3).collect()}
        for i in range(50):
            h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
            r = rows[i]
            assert (r.user_id, r.event_type, r.value_milli) == (
                i % 97, EVENT_TYPES[h % 4], h % 100_000
            )
