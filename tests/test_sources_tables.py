"""Table-source abstraction: parquet path, partition pruning, iceberg gating."""

import os
import time
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aumos_drift_detector_spark.sources.tables import (
    TableFormatUnavailable,
    driver_frame,
    read_sequences,
    write_sequences,
)


@pytest.fixture()
def seq_table(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("d1", [1, 2, 3], 3, "web"),
            ("d2", [4, 5], 2, "web"),
            ("d3", [6], 1, "books"),
            ("d4", [7, 8, 9, 10], 4, "code"),
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    loc = str(tmp_path / "seq")
    write_sequences(df, loc)
    return loc


class TestReadSequences:
    def test_parquet_roundtrip(self, spark, seq_table):
        df = read_sequences(spark, seq_table, fmt="parquet")
        assert df.count() == 4
        assert set(df.columns) == {"doc_id", "tokens", "n_tok", "source"}

    def test_partition_pruning_filter_reaches_scan(self, spark, seq_table):
        df = read_sequences(spark, seq_table, partitions=["web"])
        assert df.count() == 2
        plan = df._jdf.queryExecution().executedPlan().toString()
        # hive-partitioned layout: the IN-filter must prune at the source,
        # not post-scan (PartitionFilters on the FileSourceScan)
        assert "PartitionFilters: [" in plan and "source" in plan

    def test_auto_falls_back_to_parquet_for_paths(self, spark, seq_table):
        assert read_sequences(spark, seq_table, fmt="auto").count() == 4

    def test_auto_routes_only_dotted_identifiers_to_iceberg(self):
        from aumos_drift_detector_spark.sources.tables import (
            _looks_like_table_identifier,
        )

        assert _looks_like_table_identifier("catalog.db.tokens")
        assert not _looks_like_table_identifier("seqdata")       # bare dir name
        assert not _looks_like_table_identifier("data/seq")      # path
        assert not _looks_like_table_identifier("seq.parquet")   # file

    def test_iceberg_unavailable_raises_cleanly(self, spark, seq_table):
        # this sandbox ships no Iceberg runtime jar: the gate must say so
        # instead of an opaque ClassNotFoundException mid-plan
        with pytest.raises(TableFormatUnavailable, match="Iceberg"):
            read_sequences(spark, "catalog.db.tokens", fmt="iceberg")

    def test_unknown_format_raises(self, spark, seq_table):
        with pytest.raises(ValueError, match="unknown format"):
            read_sequences(spark, seq_table, fmt="orcish")

    def test_dynamic_overwrite_replaces_only_written_partitions(
        self, spark, seq_table
    ):
        extra = spark.createDataFrame(
            [("d5", [11], 1, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        write_sequences(extra, seq_table)  # dynamic: only 'web' replaced
        df = read_sequences(spark, seq_table)
        assert df.where(F.col("source") == "web").count() == 1
        assert df.where(F.col("source") == "books").count() == 1  # untouched


class TestSynthResumeValidation:
    """Guards the fast_token_parquet resume path: a torn or wrong-layout
    part file is rebuilt (parquet-footer row-count check), and a directory
    generated under different parameters refuses to resume (_PARAMS.json
    fingerprint) instead of silently mixing distributions."""

    def test_torn_file_is_rebuilt_byte_identical(self, tmp_path):
        import os

        from aumos_drift_detector_spark.sources.synth import fast_token_parquet

        out = str(tmp_path / "tok")
        fast_token_parquet(out, 3000, seed=3, rows_per_file=1000)
        target = os.path.join(out, "part-00001.parquet")
        with open(target, "rb") as fh:
            want = fh.read()
        # simulate a torn write from the pre-atomic-rename era
        with open(target, "wb") as fh:
            fh.write(want[: len(want) // 3])
        fast_token_parquet(out, 3000, seed=3, rows_per_file=1000)
        with open(target, "rb") as fh:
            assert fh.read() == want  # rebuilt, deterministic bytes

    def test_resume_same_params_keeps_files(self, tmp_path):
        import os

        from aumos_drift_detector_spark.sources.synth import fast_token_parquet

        out = str(tmp_path / "tok")
        n1 = fast_token_parquet(out, 2000, seed=3, rows_per_file=1000)
        mtimes = {
            f: os.path.getmtime(os.path.join(out, f))
            for f in os.listdir(out) if f.endswith(".parquet")
        }
        n2 = fast_token_parquet(out, 2000, seed=3, rows_per_file=1000)
        assert n1 == n2
        for f, m in mtimes.items():
            assert os.path.getmtime(os.path.join(out, f)) == m  # untouched

    def test_param_change_refuses_resume(self, tmp_path):
        from aumos_drift_detector_spark.sources.synth import fast_token_parquet

        out = str(tmp_path / "tok")
        fast_token_parquet(out, 2000, seed=3, rows_per_file=1000)
        with pytest.raises(ValueError, match="different parameters"):
            fast_token_parquet(out, 2000, seed=4, rows_per_file=1000)
        with pytest.raises(ValueError, match="different parameters"):
            fast_token_parquet(out, 2000, seed=3, drifted=True,
                               rows_per_file=1000)


class TestDriverFrame:
    SCHEMA = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("edges", T.ArrayType(T.DoubleType())),
            T.StructField("details", T.MapType(T.StringType(), T.StringType())),
            T.StructField("at", T.TimestampType()),
        ]
    )
    ROWS = [
        ("a", 1, float("nan"), [0.0, float("nan")], {"k": "v"},
         datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=timezone.utc)),
        (None, None, None, None, None, None),
        ("c", -3, float("inf"), [], {}, datetime(1999, 12, 31, tzinfo=timezone.utc)),
        ("d", 2**40, float("-inf"), [float("-inf"), 1.5], {"x": None}, None),
        # naive, as collect() returns a timestamp group key
        ("e", 0, 0.5, [0.5], {"y": "z"}, datetime(2026, 3, 8, 12, 30, 15)),
    ]

    @pytest.fixture(params=["true", "false"], ids=["arrow", "no_arrow"])
    def arrow(self, spark, request):
        key = "spark.sql.execution.arrow.pyspark.enabled"
        before = spark.conf.get(key)
        spark.conf.set(key, request.param)
        yield
        spark.conf.set(key, before)

    @pytest.fixture(params=["UTC", "America/New_York"])
    def local_tz(self, request):
        """The local time zone of this Python process: in a non-UTC one, a
        naive datetime read as UTC would not match."""
        before = os.environ.get("TZ")
        os.environ["TZ"] = request.param
        time.tzset()
        yield
        if before is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = before
        time.tzset()

    @pytest.mark.parametrize("n_rows", [5, 0])
    def test_round_trips_like_create_dataframe(self, spark, arrow, local_tz, n_rows):
        rows = self.ROWS[:n_rows]
        got = driver_frame(spark, rows, self.SCHEMA)
        want = spark.createDataFrame(rows, self.SCHEMA)
        assert got.schema == want.schema
        # repr: NaN == NaN there, and float vs int or NULL vs NaN still differ
        assert repr(got.collect()) == repr(want.collect())
        # one plan whatever the Arrow conf says
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
