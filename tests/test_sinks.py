"""Sink tests (SURVEY §2.1 S9-S11) + S6 conf wiring + S7 bounded batches."""

import os

from pyspark.sql import functions as F

from mortar_parquet_support_spark.sources import sinks
from tests.conftest import session_checkpoint_dir


def _frame(spark, n=100):
    return spark.range(n).select(
        F.col("id"), (F.col("id") * 2.5).alias("v"), F.lit("x").alias("tag")
    )


def test_to_local_csv_appends_headerless(spark, tmp_path):
    df = _frame(spark, 50)
    target = str(tmp_path / "out.csv")
    n1 = sinks.to_local_csv(df, target)
    n2 = sinks.to_local_csv(df, target)  # append mode: second call doubles it
    assert n1 == n2 == 50
    with open(target) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    assert len(lines) == 100
    assert not lines[0].startswith("id")  # headerless, reference parity


def test_to_csv_distributed_returns_count(spark, tmp_path):
    out = str(tmp_path / "csvdir")
    n = sinks.to_csv(_frame(spark, 75), out, header=True)
    assert n == 75
    assert any(p.startswith("part-") for p in os.listdir(out))


def test_to_duckdb_create_then_insert(spark, tmp_path):
    db = str(tmp_path / "t.duckdb")
    con = sinks.to_duckdb(_frame(spark, 30), db, "t1")
    assert con.table("t1").count("*").fetchone()[0] == 30
    # second call INSERTs into the existing table via the same connection
    con2 = sinks.to_duckdb(_frame(spark, 30), db, "t1", connection=con)
    assert con2.table("t1").count("*").fetchone()[0] == 60
    con.close()


def test_to_pandas_limit_exact(spark):
    pdf = sinks.to_pandas(_frame(spark, 100), limit=7)
    assert len(pdf) == 7  # exact, not batch-granularity (SURVEY §7 R4)
    assert list(pdf.columns) == ["id", "v", "tag"]


def test_lake_to_batches_bounded(spark, tmp_path):
    from mortar_parquet_support_spark.sources.lake import TimeseriesLake

    rows = [("c0", f"u{i%4}", float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["collection", "uuid", "value"]).withColumn(
        "time", F.timestamp_micros((F.col("value") * 1_000_000).cast("long"))
    )
    root = str(tmp_path / "lake")
    df.write.partitionBy("collection").parquet(root)
    lake = TimeseriesLake.open(spark, root)
    total, batches = 0, 0
    for batch in lake.to_batches(max_rows=256):
        total += batch.num_rows
        batches += 1
    assert total == 1000
    assert batches >= 2  # actually bounded, not one giant batch


def _lake(spark, tmp_path, n=1000):
    from mortar_parquet_support_spark.sources.lake import TimeseriesLake

    rows = [("c0", f"u{i%4}", float(i)) for i in range(n)]
    df = spark.createDataFrame(rows, ["collection", "uuid", "value"]).withColumn(
        "time", F.timestamp_micros((F.col("value") * 1_000_000).cast("long"))
    )
    root = str(tmp_path / "lake")
    df.write.partitionBy("collection").parquet(root)
    return TimeseriesLake.open(spark, root)


def test_to_batches_explicit_spill_dir(spark, tmp_path):
    """Cluster path: caller supplies a shared spill location; batches stream
    from it and the spill is deleted on exhaustion."""
    lake = _lake(spark, tmp_path)
    shared = tmp_path / "shared"
    shared.mkdir()
    total = sum(
        b.num_rows for b in lake.to_batches(max_rows=256, spill_dir=str(shared))
    )
    assert total == 1000
    assert list(shared.iterdir()) == []  # spill cleaned up via Hadoop FS


def test_to_batches_uses_checkpoint_dir(spark, tmp_path):
    """With no explicit spill_dir, the session checkpoint dir (shared by
    Spark's own contract) is used — not a driver-local tempdir."""
    lake = _lake(spark, tmp_path)
    ckpt = tmp_path / "ckpt"
    with session_checkpoint_dir(spark, ckpt):
        gen = lake.to_batches(max_rows=256)
        first = next(gen)
        assert first.num_rows <= 256
        # the spill landed under the checkpoint dir while the iterator is live
        assert any(p.name.startswith("lake_batches_") for p in ckpt.rglob("lake_batches_*"))
        # exhaust: remaining rows arrive and the spill is cleaned up
        total = first.num_rows + sum(b.num_rows for b in gen)
        assert total == 1000
        assert not list(ckpt.rglob("lake_batches_*"))


def test_to_batches_file_scheme_checkpoint_dir(spark, tmp_path):
    """End-to-end through the NON-local resolution branch with a real
    ``file://``-scheme checkpoint dir: executors write the spill through
    Hadoop's FileSystem, PyArrow reads it back, and ``_rm_shared`` deletes
    it through the Hadoop FileSystem API (the same code path an ``hdfs://``
    or ``s3a://`` checkpoint dir takes on a cluster — no monkeypatching)."""
    lake = _lake(spark, tmp_path)
    ckpt = tmp_path / "ckpt_uri"
    with session_checkpoint_dir(spark, "file://" + str(ckpt)):
        batches = list(lake.to_batches(max_rows=256))
        assert sum(b.num_rows for b in batches) == 1000
        got = sorted(
            v
            for b in batches
            for v in b.column(b.schema.get_field_index("value")).to_pylist()
        )
        assert got == [float(i) for i in range(1000)]
        # Hadoop-FS delete ran: no spill dirs left behind
        assert not list(ckpt.rglob("lake_batches_*"))


def test_rows_to_batch_utc_instants_on_nonutc_driver():
    """ADVICE r6 (high): the toLocalIterator fallback receives TIMESTAMP
    (LTZ) values as naive driver-LOCAL datetimes while the Arrow schema says
    tz=UTC — _rows_to_batch must normalize them to true UTC instants, not
    store the local wall-clock under the UTC annotation."""
    import time as _time
    from datetime import datetime, timezone

    import pyarrow as pa

    from mortar_parquet_support_spark.sources.lake import _rows_to_batch

    schema = pa.schema(
        [
            pa.field("ts", pa.timestamp("us", tz="UTC")),
            pa.field("ts_ntz", pa.timestamp("us")),
            pa.field("v", pa.float64()),
        ]
    )
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        # naive 2001-09-08 21:46:40 local (EDT, UTC-4) == 2001-09-09 01:46:40Z
        naive = datetime(2001, 9, 8, 21, 46, 40)
        batch = _rows_to_batch([(naive, naive, 1.5), (None, None, None)], schema, pa)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()
    assert batch.column(0).to_pylist() == [
        datetime(2001, 9, 9, 1, 46, 40, tzinfo=timezone.utc),
        None,
    ]
    # tz-less (NTZ) fields pass through as the wall-clock, untouched
    assert batch.column(1).to_pylist() == [naive, None]


def test_to_batches_local_iterator_fallback(spark, tmp_path):
    """The no-shared-filesystem fallback yields the same rows, Arrow-typed,
    in bounded batches."""
    from mortar_parquet_support_spark.sources.lake import _batches_via_local_iterator

    lake = _lake(spark, tmp_path)
    batches = list(_batches_via_local_iterator(lake.df, 256))
    assert all(b.num_rows <= 256 for b in batches)
    assert sum(b.num_rows for b in batches) == 1000
    got = sorted(v for b in batches for v in b.column(b.schema.get_field_index("value")).to_pylist())
    assert got == [float(i) for i in range(1000)]


def test_to_batches_nonlocal_resolution(spark, tmp_path, monkeypatch):
    """Simulate a non-local master with no checkpoint dir: to_batches must
    route to the toLocalIterator fallback, never a driver-local tempdir."""
    from mortar_parquet_support_spark.sources import lake as lake_mod

    lake = _lake(spark, tmp_path, n=300)
    monkeypatch.setattr(
        type(lake), "_checkpoint_dir", lambda self: None, raising=True
    )
    called = {}

    def fake_fallback(df, max_rows):
        called["hit"] = True
        return iter(())

    monkeypatch.setattr(lake_mod, "_batches_via_local_iterator", fake_fallback)

    class FakeSC:
        master = "spark://cluster:7077"

    class FakeSpark:
        sparkContext = FakeSC()

    lake.spark = FakeSpark()
    list(lake.to_batches(max_rows=64))
    assert called.get("hit")


def test_s3_conf_wiring(spark):
    from mortar_parquet_support_spark.session import get_spark

    s = get_spark("s3-conf", s3_endpoint="https://example.invalid:9000", s3_region="us-test-1")
    # getOrCreate applies non-static confs onto the active session
    assert s.conf.get("spark.hadoop.fs.s3a.endpoint") == "https://example.invalid:9000"
    assert s.conf.get("spark.hadoop.fs.s3a.endpoint.region") == "us-test-1"


def test_local_sinks_cluster_branch(spark, tmp_path, monkeypatch):
    """The non-local-master branches must produce the same file/table as
    the local staging paths — executors on a real cluster can't see the
    driver's /tmp, so these stream over the driver link instead."""
    from mortar_parquet_support_spark.sources import sinks as sinks_mod

    monkeypatch.setattr(sinks_mod, "_local_master", lambda df: False)
    df = _frame(spark, 40)

    target = str(tmp_path / "remote.csv")
    n = sinks_mod.to_local_csv(df, target)
    assert n == 40
    with open(target) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    assert len(lines) == 40 and not lines[0].startswith("id")

    db = str(tmp_path / "remote.duckdb")
    con = sinks_mod.to_duckdb(df, db, "t_remote")
    assert con.table("t_remote").count("*").fetchone()[0] == 40
    # append mode through the Arrow-reader path too
    con2 = sinks_mod.to_duckdb(df, db, "t_remote", connection=con)
    assert con2.table("t_remote").count("*").fetchone()[0] == 80
    con.close()


def test_ltz_as_micros_handles_dotted_column_names(spark):
    """Review finding r8: the driver-link projection must backtick-quote
    names — a column literally named 'event.time' (legal via withColumn)
    parsed as struct access and crashed, where the pre-micros path
    (plain toLocalIterator) handled it."""
    from pyspark.sql import functions as F

    from mortar_parquet_support_spark.sources.sinks import _ltz_as_micros

    df = spark.createDataFrame([(1,)], ["a"]).withColumn(
        "event.time", F.timestamp_micros(F.lit(1_000_000))
    )
    out = _ltz_as_micros(df)
    assert out.columns == ["a", "event.time"]
    assert out.collect()[0]["event.time"] == 1_000_000


def test_csv_cell_formatter_matches_spark_csv_writer(spark, tmp_path):
    """ADVICE r7 (medium): the non-local-master to_local_csv path must emit
    the SAME bytes Spark's own CSV writer does — session-tz instants in
    yyyy-MM-dd'T'HH:mm:ss.SSSXXX, NTZ without the offset — even on a
    non-UTC driver where toLocalIterator yields naive local datetimes."""
    import csv
    import datetime
    import glob
    import io
    import time as _time

    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DoubleType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    from mortar_parquet_support_spark.sources.sinks import _csv_cell_formatter

    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("ntz", TimestampNTZType()),
            StructField("d", DateType()),
            StructField("v", DoubleType()),
            StructField("b", BooleanType()),
        ]
    )
    schema = schema.add(StructField("s", __import__("pyspark.sql.types", fromlist=["StringType"]).StringType()))
    rows = [
        (
            datetime.datetime(2024, 1, 1, 5, 0, 0, 123456),
            datetime.datetime(2024, 1, 1, 5, 0, 0, 123456),
            datetime.date(2024, 1, 2),
            1.5,
            True,
            'he said "hi", ok',  # quote + comma: backslash-escaped quoting
        ),
        (
            # 2024-11-03T06:30:00Z = 01:30 EST, the SECOND occurrence of
            # 01:30 in America/New_York — a naive driver-local datetime
            # cannot represent which occurrence it was (review finding r8);
            # the epoch-micros driver link keeps the exact instant
            datetime.datetime(2024, 11, 3, 6, 30, 0),
            None,
            None,
            1e16,  # Java scientific: 1.0E16, not Python's 1e+16
            True,
            "",  # empty string renders "" — distinguishable from null
        ),
        (None, None, None, float("nan"), False, None),  # NaN word, null empty
    ]
    df = spark.createDataFrame(rows, schema)
    out = tmp_path / "spark_csv"
    df.coalesce(1).write.mode("overwrite").csv(str(out))
    expected = b"".join(
        open(p, "rb").read() for p in sorted(glob.glob(str(out / "part-*")))
    ).decode()

    # Simulate the driver-link path on a non-UTC driver: LTZ instants
    # cross as epoch micros (naive driver-local datetimes are ambiguous
    # in the DST fall-back hour), everything else as toLocalIterator
    # yields it.
    from mortar_parquet_support_spark.sources.sinks import _ltz_as_micros

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        from mortar_parquet_support_spark.sources.sinks import _spark_csv_line

        cell = _csv_cell_formatter(
            schema, spark.conf.get("spark.sql.session.timeZone", "UTC")
        )
        buf = io.StringIO()
        for row in _ltz_as_micros(df).toLocalIterator(prefetchPartitions=True):
            buf.write(_spark_csv_line([cell(i, v) for i, v in enumerate(row)]))
        got = buf.getvalue()  # byte-for-byte: no CRLF mask (review r8)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()
    assert sorted(got.splitlines()) == sorted(expected.splitlines()), (
        got,
        expected,
    )


def test_csv_driver_link_float_backslash_and_sci_parity(spark, tmp_path):
    """Review r14: three byte-parity divergences on the driver-link CSV
    path — integral doubles in [1e7,1e16) rendered '1.00000000E7' (Java:
    '1.0E7'), FloatType columns rendered at double precision
    ('0.10000000149011612' vs Spark's '0.1'), and a backslash inside a
    quoted field was left unescaped (structurally invalid under Spark's
    escape='\\\\' reader). Also: complex/binary columns must fail loudly
    like the local-master path, never write Python reprs."""
    import glob

    from mortar_parquet_support_spark.sources.sinks import (
        _csv_cell_formatter,
        _java_double_repr,
        _java_float_repr,
        _spark_csv_line,
    )

    rows = [
        (1e7, 0.1, "a,b\\"),
        (1.6e15, 3.14, "plain\\back"),
        (5.0, 0.25, 'quote"x'),
        (1e16, 1.5e38, ""),
    ]
    df = spark.createDataFrame(rows, "d double, f float, s string")
    out = str(tmp_path / "spark_csv")
    df.coalesce(1).write.csv(out)
    spark_lines = sorted(
        open(glob.glob(out + "/part-*")[0]).read().splitlines()
    )
    ours = sorted(
        _spark_csv_line(
            [_java_double_repr(d), _java_float_repr(f), s]
        ).rstrip("\n")
        for d, f, s in rows
    )
    assert ours == spark_lines

    import pytest

    with pytest.raises(ValueError, match="array"):
        _csv_cell_formatter(
            spark.createDataFrame([([1, 2],)], "a array<int>").schema, "UTC"
        )


def test_to_batches_rejects_unreadable_spill_scheme(spark, tmp_path):
    """Review finding r8: an hdfs:// / abfss:// spill_dir would spill,
    crash the driver-side PyArrow read, and delete the spill. Rejected
    up front now; an unreadable CHECKPOINT dir falls through to the
    local rungs instead (covered by _pyarrow_readable)."""
    import pytest as _pytest

    from mortar_parquet_support_spark.sources.ingest import ingest_directory
    from mortar_parquet_support_spark.sources.lake import (
        TimeseriesLake,
        _pyarrow_readable,
    )
    from tests.conftest import make_stream_csv

    src = tmp_path / "csv"
    src.mkdir()
    make_stream_csv(src, "a0dd74ce-05ee-5fee-8335-2d9856bd52be", "x",
                    [("2020-01-01 00:00:00+00:00", 1.0)])
    dest = str(tmp_path / "lake")
    ingest_directory(spark, "c", str(src), dest)
    lake = TimeseriesLake.open(spark, dest)
    with _pytest.raises(ValueError, match="spill_dir"):
        lake.to_batches(spill_dir="hdfs://nn:8020/tmp/spill")
    assert _pyarrow_readable("/tmp/x") and _pyarrow_readable("file:///x")
    assert _pyarrow_readable("s3a://b/x") and _pyarrow_readable("s3://b/x")
    assert not _pyarrow_readable("hdfs://nn/x")
    assert not _pyarrow_readable("abfss://c@a.dfs.core.windows.net/x")


def test_to_duckdb_view_collision_and_quoted_identifier(spark, tmp_path):
    """Review finding r8: the existence check matched views and
    other-catalog tables (routing the write down INSERT against a table
    that doesn't exist), and the table name was interpolated unquoted."""
    import duckdb

    from mortar_parquet_support_spark.sources.sinks import to_duckdb

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    db = str(tmp_path / "t.db")
    con = duckdb.connect(db)
    # a VIEW with the target name must not be mistaken for the table
    con.execute("CREATE VIEW v1 AS SELECT 42 AS x")
    with __import__("pytest").raises(Exception):
        to_duckdb(df, db, "v1", connection=con)  # CREATE collides: loud, not INSERT-into-nothing
    # a table in an ATTACHed catalog must not count as existing here
    other = str(tmp_path / "other.db")
    duckdb.connect(other).execute("CREATE TABLE t1 (x int)").close()
    con.execute(f"ATTACH '{other}' AS other")
    to_duckdb(df, db, "t1", connection=con)  # creates t1 in MAIN, no INSERT error
    assert con.table("t1").fetchall() == [(1, "a")]
    # reserved words / spaces work via identifier quoting
    to_duckdb(df, db, "order by", connection=con)
    assert con.sql('SELECT count(*) FROM "order by"').fetchone()[0] == 1
    con.close()
