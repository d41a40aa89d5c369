"""Ingest round-trip + lake scan semantics (SURVEY.md §2.1-2.3, FIXTURES F1/F2/F5)."""

import os

import pytest
from pyspark.sql import functions as F

from mortar_parquet_support_spark.sources.ingest import (
    LAKE_COLUMNS,
    ingest_csv,
    ingest_directory,
)
from mortar_parquet_support_spark.sources.lake import TimeseriesLake, write_metadata_summary
from tests.conftest import jobs_during, make_stream_csv

U1 = "a0dd74ce-05ee-5fee-8335-2d9856bd52be"
U2 = "f3b61918-afa9-596d-bef5-40fe1e96454f"

ROWS_1 = [
    ("2016-11-30 19:33:37+00:00", 0.3),  # deliberately unsorted
    ("2016-11-30 19:31:37+00:00", 0.1),
    ("2016-11-30 19:32:37+00:00", 0.2),
]
ROWS_2 = [
    ("2017-09-29 18:10:15+00:00", 1.5),
    ("2017-09-29 18:11:13+00:00", 2.5),
]


@pytest.fixture(scope="module")
def lake_dir(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("csvs")
    dest = tmp_path_factory.mktemp("lake")
    make_stream_csv(src, U1, "/delta/m5/c12", ROWS_1)
    make_stream_csv(src, U2, "/delta/m9/c10", ROWS_2)
    with open(os.path.join(src, "not-a-uuid.csv"), "w") as fh:  # P9 reject
        fh.write("datetime,x\n2020-01-01 00:00:00+00:00,9.9\n")
    ingest_directory(spark, "bldg1", str(src), str(dest))
    return str(dest)


def test_roundtrip_schema_and_rows(spark, lake_dir):
    lake = TimeseriesLake.open(spark, lake_dir)
    df = lake.df
    assert sorted(df.columns) == sorted(LAKE_COLUMNS)
    assert df.count() == 5  # non-uuid file rejected
    got = {r["uuid"] for r in df.select("uuid").distinct().collect()}
    assert got == {U1, U2}


def test_values_and_derived_columns(spark, lake_dir):
    lake = TimeseriesLake.open(spark, lake_dir)
    rows = lake.scan(uuids=[U1]).orderBy("time").collect()
    assert [r.value for r in rows] == [0.1, 0.2, 0.3]  # sorted on ingest (O1)
    assert rows[0].label == "/delta/m5/c12"
    assert rows[0].uri == "urn:bldg1//delta/m5/c12"  # P3: urn:{collection}/{label}
    assert rows[0].collection == "bldg1"
    assert str(rows[0].time) == "2016-11-30 19:31:37"  # UTC session, µs truncation


def test_scan_time_range_defaults_and_bounds(spark, lake_dir):
    lake = TimeseriesLake.open(spark, lake_dir)
    assert lake.scan().count() == 5  # defaults 2000..2100 (client.py:67-68)
    assert lake.scan(start="2017-01-01").count() == 2
    assert lake.scan(end="2017-01-01").count() == 3
    assert (
        lake.scan(uuids=[U1], start="2016-11-30 19:32:00", end="2016-11-30 19:33:00").count()
        == 1
    )


def test_scan_ids_semi_join(spark, lake_dir):
    lake = TimeseriesLake.open(spark, lake_dir)
    ids = spark.createDataFrame([(U2,)], ["uuid"])
    out = lake.scan_ids(ids)
    assert out.count() == 2
    assert {r.uuid for r in out.select("uuid").collect()} == {U2}


def test_single_file_parity_and_rejects(spark, tmp_path):
    dest = tmp_path / "lake2"
    good = make_stream_csv(tmp_path, U1, "sensor-a", ROWS_1)
    assert ingest_csv(spark, "c1", good, str(dest)) is not None
    bad_name = os.path.join(tmp_path, "nope.csv")
    with open(bad_name, "w") as fh:
        fh.write("datetime,x\n2020-01-01 00:00:00+00:00,1\n")
    assert ingest_csv(spark, "c1", bad_name, str(dest)) is None  # transform.py:11-16
    bad_col = make_stream_csv(tmp_path, U2, "y", [("2020-01-01 00:00:00+00:00", 1.0)])
    assert ingest_csv(spark, "c1", bad_col, str(dest), time_col="ts") is None  # :20-23


def test_partition_uuid_layout_parity(spark, tmp_path):
    src = tmp_path / "csvs"
    src.mkdir()
    dest = tmp_path / "lake3"
    make_stream_csv(src, U1, "a", ROWS_1)
    ingest_directory(spark, "bldg9", str(src), str(dest), partition_uuid=True)
    leaf = dest / "collection=bldg9" / f"uuid={U1}"
    assert leaf.is_dir()  # reference layout (transform.py:39, README.md:25-52)
    # partition pruning: the isin filter on uuid must land INSIDE the
    # PartitionFilters section (the key prints even when the list is empty)
    from tests.conftest import plan_str, scan_meta

    lake = TimeseriesLake.open(spark, str(dest))
    plan = plan_str(lake.scan(uuids=[U1]))
    section = scan_meta(plan, "PartitionFilters")
    assert section is not None and U1 in section, plan


def test_pushed_filters_time_range(spark, lake_dir):
    from tests.conftest import plan_str, scan_meta

    lake = TimeseriesLake.open(spark, lake_dir)
    plan = plan_str(lake.scan(start="2017-01-01"))
    section = scan_meta(plan, "PushedFilters")
    assert section is not None and "GreaterThanOrEqual(time" in section, plan


def test_metadata_summary(spark, lake_dir):
    info = write_metadata_summary(lake_dir)
    assert info["rows"] == 5
    assert os.path.exists(os.path.join(lake_dir, "_metadata"))
    assert os.path.exists(os.path.join(lake_dir, "_common_metadata"))


def test_metadata_summary_multi_fragment_rows(spark, tmp_path):
    """Review finding r8: append_row_groups mutates collector[0] (it IS
    the merged metadata), so summing num_rows AFTER the merge reported
    2*total - first_fragment on any lake with >= 2 parquet files. The
    single-fragment fixtures above could never catch it."""
    root = str(tmp_path / "ml")
    spark.range(3).selectExpr("id", "id * 2 AS v").repartition(2).write.parquet(root)
    frags = [f for f in os.listdir(root) if f.endswith(".parquet")]
    assert len(frags) >= 2  # precondition: the bug needs multiple fragments
    info = write_metadata_summary(root)
    assert info["rows"] == 3, info
    assert info["fragments"] == len(frags)


def test_composite_large_id_set_stays_distributed(spark, lake_dir, monkeypatch):
    """Above IN_LIST_MAX the ids reach the scan through a broadcast LEFT
    SEMI join instead of an IN-list; either way they come from one collect
    of the SPARQL result, lowercased, so an uppercase-hex graph id still
    matches its (lowercased) lake rows."""
    import mortar_parquet_support_spark.client as client_mod
    from mortar_parquet_support_spark.client import Client
    from mortar_parquet_support_spark.sources.ttl import TRIPLES_SCHEMA
    from tests.conftest import plan_str

    uuids = [U1.upper(), U2] + [f"{i:08d}-0000-4000-8000-{i:012d}" for i in range(4)]
    has_id = "https://brickschema.org/schema/Brick#hasTimeseriesId"
    rows = [
        ("bldg1", f"urn:bldg1#p{i}", has_id, u, "literal")
        for i, u in enumerate(uuids)
    ]
    triples = spark.createDataFrame(rows, schema=TRIPLES_SCHEMA)
    c = Client(spark, triples=triples, lake_root=lake_dir)
    monkeypatch.setattr(client_mod, "IN_LIST_MAX", 3)

    collected = []
    orig = type(triples).collect

    def spy(self):
        collected.append(self)
        return orig(self)

    monkeypatch.setattr(type(triples), "collect", spy)
    q = (
        "PREFIX brick: <https://brickschema.org/schema/Brick#> "
        "SELECT ?id WHERE { ?p brick:hasTimeseriesId ?id . }"
    )
    out = c.data_sparql_df(q)
    # the ids come from ONE collect of the whole SPARQL result
    assert len(collected) == 1 and collected[0].columns == ["id"]
    probe_plan = collected[0]._jdf.queryExecution().analyzed().toString()
    assert "Limit" not in probe_plan, probe_plan
    # the scan itself is a broadcast left-semi join, not an IN-list
    plan = plan_str(out)
    assert "LeftSemi" in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan
    assert out.count() == 5  # only the two real streams have lake rows
    # small sets take the pruning IN-list path, from the same one collect
    monkeypatch.setattr(client_mod, "IN_LIST_MAX", 100)
    collected.clear()
    out_small = c.data_sparql_df(q)
    assert len(collected) == 1
    small_plan = plan_str(out_small)
    assert "LeftSemi" not in small_plan, small_plan
    assert out_small.count() == 5


def test_data_uuids_large_id_set_uses_semi_join(spark, lake_dir, monkeypatch):
    """``data_uuids`` honours ``IN_LIST_MAX`` like the SPARQL bridge: above
    the cap its ids reach the scan through a LEFT SEMI join instead of an
    IN-list, returning the same rows."""
    import mortar_parquet_support_spark.client as client_mod
    from mortar_parquet_support_spark.client import Client
    from tests.conftest import plan_str

    c = Client(spark, lake_root=lake_dir)
    ids = [U1.upper(), U2]
    small = c.data_uuids(ids)
    assert "LeftSemi" not in plan_str(small)
    monkeypatch.setattr(client_mod, "IN_LIST_MAX", 1)
    large = c.data_uuids(ids)
    assert "LeftSemi" in plan_str(large)
    assert sorted(large.collect()) == sorted(small.collect())
    assert large.count() == 5


def test_sparql_bridge_submits_no_spark_jobs(spark, lake_dir):
    """Job budget: once the graph index is built, a basic-graph-pattern
    query and the composite bridge in front of the lake scan run on the
    driver — no broadcast, dedup or probe job per query."""
    from mortar_parquet_support_spark.client import Client
    from mortar_parquet_support_spark.entries.reference_surface import (
        _ONTOLOGY_PATH,
        _QUERY1,
    )
    from mortar_parquet_support_spark.sources.ttl import TRIPLES_SCHEMA, parse_ttl

    ttl = f"""
@prefix brick: <https://brickschema.org/schema/Brick#> .
@prefix b: <urn:bldg1#> .
b:vav a brick:VAV ; brick:hasPoint b:sen, b:sp .
b:sen a brick:Zone_Air_Temperature_Sensor ;
    brick:timeseries [ brick:hasTimeseriesId "{U1}" ] .
b:sp a brick:Zone_Air_Temperature_Setpoint ;
    brick:timeseries [ brick:hasTimeseriesId "{U2}" ] .
"""
    rows = parse_ttl(ttl, "bldg1") + parse_ttl(ttl.replace("bldg1", "bldg2"), "bldg2")
    triples = spark.createDataFrame(rows, schema=TRIPLES_SCHEMA)
    c = Client(spark, triples=triples, lake_root=lake_dir, ontology_path=_ONTOLOGY_PATH)
    point = """PREFIX brick: <https://brickschema.org/schema/Brick#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT ?sen WHERE {
            <urn:bldg1#vav> brick:hasPoint ?sen_point .
            ?sen_point rdf:type/rdfs:subClassOf* brick:Temperature_Sensor ;
                brick:timeseries [ brick:hasTimeseriesId ?sen ] .
        }"""
    # warm-up: collects the triples and builds the site indexes
    assert len(c.sparql(_QUERY1, sites=["bldg1", "bldg2"]).collect()) == 2
    assert jobs_during(spark, lambda: spark.range(3).count()) >= 1  # the probe counts

    rows = []
    assert jobs_during(
        spark, lambda: rows.extend(c.sparql(_QUERY1, sites=["bldg1"]).collect())
    ) == 0
    assert [(r.sen, r.sp, r.site) for r in rows] == [(U1, U2, "bldg1")]
    frames = []
    for sites in (["bldg1"], ["bldg1", "bldg2"]):  # one site, and site by site
        assert jobs_during(
            spark, lambda: frames.append(c.data_sparql_df(point, sites=sites))
        ) == 0
    assert [f.count() for f in frames] == [3, 3]  # U1's rows


def test_duckdb_sink_reopens_on_new_database_path(spark, lake_dir, tmp_path):
    """ADVICE r1: a second data_sparql_to_duckdb call with a DIFFERENT
    database path must write into that database, not the cached one."""
    from mortar_parquet_support_spark.client import Client
    from mortar_parquet_support_spark.sources.ttl import TRIPLES_SCHEMA

    has_id = "https://brickschema.org/schema/Brick#hasTimeseriesId"
    triples = spark.createDataFrame(
        [("bldg1", "urn:bldg1#p0", has_id, U1, "literal")], schema=TRIPLES_SCHEMA
    )
    c = Client(spark, triples=triples, lake_root=lake_dir)
    q = (
        "PREFIX brick: <https://brickschema.org/schema/Brick#> "
        "SELECT ?id WHERE { ?p brick:hasTimeseriesId ?id . }"
    )
    db1, db2 = str(tmp_path / "a.duckdb"), str(tmp_path / "b.duckdb")
    rel1 = c.data_sparql_to_duckdb(q, db1, "t")
    assert rel1.count("*").fetchone()[0] == 3
    con1 = c.data_cache
    rel2 = c.data_sparql_to_duckdb(q, db2, "t")  # new path -> new database
    assert c.data_cache is not con1
    assert rel2.count("*").fetchone()[0] == 3
    import duckdb

    con1.close(); c.data_cache.close()
    assert duckdb.connect(db2).execute("SELECT count(*) FROM t").fetchone()[0] == 3
    # same path reuses the connection and INSERTs (reference append contract)
    c2 = Client(spark, triples=triples, lake_root=lake_dir)
    c2.data_sparql_to_duckdb(q, db1, "t")
    rel = c2.data_sparql_to_duckdb(q, db1, "t")
    assert rel.count("*").fetchone()[0] == 9  # 3 from the first client + 3 + 3
    c2.data_cache.close()


def test_stream_ingest_exactly_once_and_batch_parity(spark, tmp_path):
    """Streaming file-source ingest: drains the directory with availableNow,
    matches batch ingest row-for-row, rejects non-UUID files, and a second
    run with the same checkpoint picks up ONLY newly arrived files."""
    from mortar_parquet_support_spark.sources.ingest import stream_ingest

    src = tmp_path / "csvs"
    dest = tmp_path / "lake"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    make_stream_csv(src, U1, "/delta/m5/c12", ROWS_1)
    with open(src / "not-a-uuid.csv", "w") as fh:
        fh.write("datetime,x\n2020-01-01 00:00:00+00:00,9.9\n")

    q = stream_ingest(
        spark, "bldg1", str(src), str(dest), checkpoint_dir=str(ckpt)
    )
    q.awaitTermination(120)
    lake = TimeseriesLake.open(spark, str(dest))
    assert lake.df.count() == 3  # U1 rows only; bad file rejected
    first = {(r.uuid, str(r.time), r.value, r.label, r.uri)
             for r in lake.df.collect()}

    # second file arrives; same checkpoint -> only the new file is ingested
    make_stream_csv(src, U2, "/delta/m9/c10", ROWS_2)
    q2 = stream_ingest(
        spark, "bldg1", str(src), str(dest), checkpoint_dir=str(ckpt)
    )
    q2.awaitTermination(120)
    lake2 = TimeseriesLake.open(spark, str(dest))
    assert lake2.df.count() == 5  # 3 + 2, U1 NOT duplicated
    assert {r.uuid for r in lake2.df.collect()} == {U1, U2}

    # row-level parity with the batch path on the same inputs
    batch_dest = tmp_path / "batch_lake"
    ingest_directory(spark, "bldg1", str(src), str(batch_dest))
    batch = {
        (r.uuid, str(r.time), r.value, r.label, r.uri)
        for r in TimeseriesLake.open(spark, str(batch_dest)).df.collect()
    }
    streamed = {
        (r.uuid, str(r.time), r.value, r.label, r.uri)
        for r in lake2.df.collect()
    }
    assert streamed == batch and first < streamed


def test_stream_ingest_auto_compaction(spark, tmp_path):
    """compact_every: in-batch auto-compaction keeps the streaming lake's
    file count bounded — maxFilesPerTrigger=1 forces one micro-batch (and
    one appended file) per CSV, and the cadence hook compacts the
    collection back under budget without changing a single row."""
    import glob

    from mortar_parquet_support_spark.sources.ingest import stream_ingest

    src = tmp_path / "csvs"
    dest = tmp_path / "lake"
    src.mkdir()
    uuids = [f"{i:08d}-1111-5111-8111-{i:012d}" for i in range(6)]
    for u in uuids:
        make_stream_csv(src, u, "s", ROWS_1)

    q = stream_ingest(
        spark, "bldg1", str(src), str(dest),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        compact_every=3, compact_max_files=2,
    )
    q.awaitTermination(180)

    files = glob.glob(f"{dest}/collection=bldg1/*.parquet")
    # 6 batches appended 6+ files; the every-3rd-batch compaction ran on
    # batches 2 and 5 (0-indexed), so the tail can add at most one
    # post-compaction batch file beyond the budget
    assert len(files) <= 3, files
    lake = spark.read.parquet(str(dest))
    assert lake.count() == 6 * len(ROWS_1)
    assert {r.uuid for r in lake.select("uuid").distinct().collect()} == set(uuids)

    with pytest.raises(ValueError, match="compact_every"):
        stream_ingest(
            spark, "bldg1", str(src), str(dest),
            checkpoint_dir=str(tmp_path / "ckpt2"), compact_every=0,
        )


def test_compact_and_upsert(spark, tmp_path):
    """Compaction shrinks file count without changing rows; upsert replaces
    matching (collection, uuid, time) keys, inserts new ones, and leaves
    untouched collections' files alone (r13: published through the
    crash-atomic file-level protocol — only journaled files move)."""
    import glob

    from mortar_parquet_support_spark.sources.ingest import ingest_directory
    from mortar_parquet_support_spark.sources.maintenance import (
        compact_collections,
        upsert_lake,
    )

    src = tmp_path / "csvs"
    src.mkdir()
    make_stream_csv(src, U1, "/delta/m5/c12", ROWS_1)
    make_stream_csv(src, U2, "/delta/m9/c10", ROWS_2)
    dest = str(tmp_path / "lake")
    # many tiny appends -> many files
    for _ in range(4):
        ingest_directory(spark, "bldg1", str(src), dest)
    ingest_directory(spark, "bldg2", str(src), dest)
    before = len(glob.glob(f"{dest}/collection=bldg1/*.parquet"))
    total_before = spark.read.parquet(dest).count()  # 4*5 + 5

    compact_collections(spark, dest, collections=["bldg1"])
    after = len(glob.glob(f"{dest}/collection=bldg1/*.parquet"))
    assert after < before
    assert spark.read.parquet(dest).count() == total_before

    # upsert: replace U1's first reading, insert one new reading
    bldg2_files = sorted(glob.glob(f"{dest}/collection=bldg2/*.parquet"))
    updates = spark.createDataFrame(
        [
            ("bldg1", U1, "2016-11-30 19:31:37", 99.9, "/delta/m5/c12", "urn:bldg1//delta/m5/c12"),
            ("bldg1", U1, "2020-01-01 00:00:00", 1.0, "/delta/m5/c12", "urn:bldg1//delta/m5/c12"),
        ],
        ["collection", "uuid", "time", "value", "label", "uri"],
    ).withColumn("time", F.col("time").cast("timestamp"))
    upsert_lake(spark, dest, updates)

    lake = spark.read.parquet(dest)
    u1 = {
        (str(r.time), r.value)
        for r in lake.filter(
            (F.col("uuid") == U1) & (F.col("collection") == "bldg1")
        ).collect()
    }
    assert ("2016-11-30 19:31:37", 99.9) in u1  # replaced
    assert ("2020-01-01 00:00:00", 1.0) in u1  # inserted
    assert not any(v == 0.1 for _, v in u1)  # old version gone
    # dedup within collection preserved; untouched collection intact
    assert lake.filter(F.col("collection") == "bldg2").count() == 5
    assert sorted(glob.glob(f"{dest}/collection=bldg2/*.parquet")) == bldg2_files


def test_write_lake_bloom_filters_witnessed_and_survive_compaction(
    spark, tmp_path
):
    """``bloom_cols`` writes per-column parquet Bloom filters (witnessed
    off the footer via parquet-mr — write options are silently ignored by
    unaware writers, so presence must be PROVEN) and compaction must
    re-state them: parquet options are per-write, so a compaction that
    omits bloom_cols strips the blooms ingest wrote (asserted both ways —
    the footgun the passthrough parameter exists for)."""
    import glob

    from mortar_parquet_support_spark.sources.ingest import write_lake
    from mortar_parquet_support_spark.sources.maintenance import (
        compact_collections,
        parquet_bloom_columns,
        upsert_lake,
    )

    # labels must be HIGH-cardinality: parquet-mr skips the bloom when a
    # chunk is fully dictionary-encoded (the dictionary already answers
    # point lookups exactly), so a 7-value label would witness nothing
    rows = [
        ("bldg1", f"{i:08x}-0000-0000-0000-000000000000",
         f"2024-01-01 00:00:{i % 60:02d}", float(i), f"lbl/{i}",
         f"urn:bldg1/lbl{i}")
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, ["collection", "uuid", "time", "value", "label", "uri"]
    ).withColumn("time", F.col("time").cast("timestamp"))
    dest = str(tmp_path / "lake")
    write_lake(df, dest, bloom_cols=("label",), bloom_ndv=200)

    f = sorted(glob.glob(f"{dest}/collection=bldg1/*.parquet"))[0]
    has = parquet_bloom_columns(spark, f)
    assert has["label"] is True
    assert has["value"] is False  # only the listed column pays the bytes

    # default compaction strips the blooms (documented caveat) ...
    # (the second append uses DISTINCT labels: a fully dictionary-encoded
    # chunk gets no bloom from parquet-mr — duplicated labels would make
    # the compacted chunk dict-only and witness nothing)
    rows2 = [
        ("bldg1", f"{i:08x}-0000-0000-0000-000000000000",
         f"2024-01-01 00:01:{i % 60:02d}", float(i), f"lbl/{i + 200}",
         f"urn:bldg1/lbl{i + 200}")
        for i in range(200)
    ]
    df2 = spark.createDataFrame(
        rows2, ["collection", "uuid", "time", "value", "label", "uri"]
    ).withColumn("time", F.col("time").cast("timestamp"))
    write_lake(df2, dest)  # second append so compaction has work to do
    compact_collections(spark, dest)
    f = sorted(glob.glob(f"{dest}/collection=bldg1/*.parquet"))[0]
    assert parquet_bloom_columns(spark, f)["label"] is False
    # ... and the passthrough re-states them
    compact_collections(spark, dest, bloom_cols=("label",), bloom_ndv=400)
    f = sorted(glob.glob(f"{dest}/collection=bldg1/*.parquet"))[0]
    assert parquet_bloom_columns(spark, f)["label"] is True

    # upsert_lake rewrites touched collections too, so it takes the same
    # passthrough (review r12: it was the one rewrite path without it)
    upd = df2.limit(1).withColumn("value", F.lit(-1.0))
    upsert_lake(spark, dest, upd, bloom_cols=("label",), bloom_ndv=400)
    f = sorted(glob.glob(f"{dest}/collection=bldg1/*.parquet"))[0]
    assert parquet_bloom_columns(spark, f)["label"] is True

    with pytest.raises(ValueError, match="bloom_cols"):
        write_lake(df, dest, bloom_cols=("nope",))
    with pytest.raises(ValueError, match="bloom_ndv"):
        write_lake(df, dest, bloom_cols=("label",), bloom_ndv=0)
    # partition columns are in df.columns but never reach data pages, so
    # the bloom option would be a silent no-op — reject loudly (ADVICE r12)
    with pytest.raises(ValueError, match="partition"):
        write_lake(df, dest, bloom_cols=("collection",))
    with pytest.raises(ValueError, match="partition"):
        write_lake(df, dest, partition_uuid=True, bloom_cols=("uuid",))


def test_compact_if_fragmented_targets_only_fragmented_collections(
    spark, tmp_path
):
    """The auto-compaction trigger: a collection over the file budget is
    compacted; one under it is not touched (its files keep their exact
    identities); an all-healthy lake is a no-op that returns []."""
    import glob

    from mortar_parquet_support_spark.sources.ingest import ingest_directory
    from mortar_parquet_support_spark.sources.maintenance import (
        compact_if_fragmented,
        fragmented_collections,
    )

    src = tmp_path / "csvs"
    src.mkdir()
    make_stream_csv(src, U1, "/delta/m5/c12", ROWS_1)
    dest = str(tmp_path / "lake")
    for _ in range(4):  # bldg1: fragmented
        ingest_directory(spark, "bldg1", str(src), dest)
    ingest_directory(spark, "bldg2", str(src), dest)  # bldg2: healthy

    assert fragmented_collections(spark, dest, max_files=3) == ["bldg1"]
    bldg2_files = sorted(glob.glob(f"{dest}/collection=bldg2/*.parquet"))
    total = spark.read.parquet(dest).count()

    assert compact_if_fragmented(spark, dest, max_files=3) == ["bldg1"]
    assert len(glob.glob(f"{dest}/collection=bldg1/*.parquet")) <= 3
    assert sorted(glob.glob(f"{dest}/collection=bldg2/*.parquet")) == bldg2_files
    assert spark.read.parquet(dest).count() == total

    # healthy lake now: explicit no-op, nothing rewritten
    all_files = sorted(glob.glob(f"{dest}/collection=*/*.parquet"))
    assert compact_if_fragmented(spark, dest, max_files=30) == []
    assert sorted(glob.glob(f"{dest}/collection=*/*.parquet")) == all_files

    with pytest.raises(ValueError, match="max_files"):
        fragmented_collections(spark, dest, max_files=0)


def test_compact_if_fragmented_unescapes_collection_names(spark, tmp_path):
    """Review r12: Hive-escapes the partition DIR ('a:b' ->
    'collection=a%3Ab') but the COLUMN value stays 'a:b' — a filter built
    from the raw dir suffix matches nothing, so the trigger would report
    the collection compacted while rewriting zero files, forever."""
    import glob

    from mortar_parquet_support_spark.sources.ingest import write_lake
    from mortar_parquet_support_spark.sources.maintenance import (
        compact_if_fragmented,
        fragmented_collections,
    )

    rows = [("a:b", U1, "2024-01-01 00:00:00", 1.0, "l", "u")]
    df = spark.createDataFrame(
        rows, ["collection", "uuid", "time", "value", "label", "uri"]
    ).withColumn("time", F.col("time").cast("timestamp"))
    dest = str(tmp_path / "lake")
    for _ in range(3):
        write_lake(df, dest)
    escaped = glob.glob(f"{dest}/collection=*")
    assert escaped and "%3A" in escaped[0]  # precondition: Spark escaped it

    assert fragmented_collections(spark, dest, max_files=2) == ["a:b"]
    before = len(glob.glob(f"{dest}/collection=*/*.parquet"))
    assert compact_if_fragmented(spark, dest, max_files=2) == ["a:b"]
    after = len(glob.glob(f"{dest}/collection=*/*.parquet"))
    assert 0 < after < before  # it actually rewrote, not a silent no-op
    assert spark.read.parquet(dest).count() == 3


def test_cli_ingest_metadata_compact(spark, tmp_path, capsys):
    """python -m mortar_parquet_support_spark parity with the reference's
    shell workflow (transform.py / make-metadata.py / run-example.sh):
    directory ingest in ONE invocation, metadata summary, budgeted
    compaction; non-UUID single-file ingest exits 1 like transform.py's
    rejection path. main() is called in-process (getOrCreate reuses the
    test session) so the CLI test costs no extra JVM."""
    import glob

    from mortar_parquet_support_spark.__main__ import main

    src = tmp_path / "csvs"
    src.mkdir()
    make_stream_csv(src, U1, "/delta/m5/c12", ROWS_1)
    make_stream_csv(src, U2, "/delta/m9/c10", ROWS_2)
    dest = str(tmp_path / "lake")

    assert main(["ingest", "bldg1", str(src), dest, "--count"]) == 0
    assert ": 5 rows" in capsys.readouterr().out
    assert main(["ingest", "bldg1", str(src), dest]) == 0  # fragment it

    bad = tmp_path / "nope.csv"
    bad.write_text("datetime,x\n2020-01-01 00:00:00+00:00,1\n")
    assert main(["ingest", "bldg1", str(bad), dest]) == 1
    assert "rejected" in capsys.readouterr().out

    assert main(["metadata", dest]) == 0
    assert os.path.exists(os.path.join(dest, "_metadata"))

    # auto mode refuses an explicit collection scope instead of silently
    # compacting beyond it
    assert main(["compact", dest, "--collections", "bldg1",
                 "--max-files", "1"]) == 2

    before = len(glob.glob(f"{dest}/collection=bldg1/*.parquet"))
    assert main(["compact", dest, "--max-files", "1"]) == 0
    assert "compacted 1 collection(s): bldg1" in capsys.readouterr().out
    assert len(glob.glob(f"{dest}/collection=bldg1/*.parquet")) < before
    assert spark.read.parquet(dest).count() == 10

    zdest = str(tmp_path / "zord")
    assert main(["zorder", dest, zdest, "--cols", "value,time",
                 "--files", "2"]) == 0
    assert spark.read.parquet(zdest).count() == 10

    # r13: upsert — the one maintenance op that had no CLI entry point —
    # plus the recover subcommand over a clean lake (no-op, exit 0)
    upd_dir = str(tmp_path / "updates")
    spark.createDataFrame(
        [("bldg1", U1, "2016-11-30 19:31:37", 42.5, "/delta/m5/c12",
          "urn:bldg1//delta/m5/c12")],
        ["collection", "uuid", "time", "value", "label", "uri"],
    ).withColumn("time", F.col("time").cast("timestamp")).write.parquet(upd_dir)
    assert main(["upsert", dest, upd_dir]) == 0
    assert "upserted 1 update row(s)" in capsys.readouterr().out
    got = spark.read.parquet(dest).filter(
        F.col("time") == "2016-11-30 19:31:37"
    ).select("value").collect()
    assert [r.value for r in got] == [42.5]
    assert main(["upsert", dest, upd_dir, "--keys", ""]) == 2  # loud reject
    assert main(["recover", dest]) == 0
    assert "no pending maintenance transactions" in capsys.readouterr().out
    # --bloom-cols passthrough reaches the validator (partition col = loud)
    with pytest.raises(ValueError, match="partition"):
        main(["compact", dest, "--bloom-cols", "collection"])


def test_maintenance_preserves_uuid_layout(spark, tmp_path):
    """On a partition_uuid=True (reference-layout) lake, compaction and
    upsert must keep the two-level collection=/uuid=/ directory structure
    instead of silently rewriting to collection-only."""
    import glob

    from mortar_parquet_support_spark.sources.ingest import ingest_directory
    from mortar_parquet_support_spark.sources.maintenance import (
        compact_collections,
        upsert_lake,
    )

    src = tmp_path / "csvs"
    src.mkdir()
    make_stream_csv(src, U1, "/delta/m5/c12", ROWS_1)
    dest = str(tmp_path / "lake")
    ingest_directory(spark, "bldg1", str(src), dest, partition_uuid=True)
    assert glob.glob(f"{dest}/collection=bldg1/uuid=*/")

    compact_collections(spark, dest)
    assert glob.glob(f"{dest}/collection=bldg1/uuid=*/")
    assert spark.read.parquet(dest).count() == 3

    updates = spark.createDataFrame(
        [("bldg1", U1, "2016-11-30 19:31:37", 7.7, "/delta/m5/c12",
          "urn:bldg1//delta/m5/c12")],
        ["collection", "uuid", "time", "value", "label", "uri"],
    ).withColumn("time", F.col("time").cast("timestamp"))
    upsert_lake(spark, dest, updates)
    assert glob.glob(f"{dest}/collection=bldg1/uuid=*/")
    lake = spark.read.parquet(dest)
    assert lake.count() == 3
    assert lake.filter(F.col("value") == 7.7).count() == 1


def test_ingest_reference_column_flexibility(spark, tmp_path):
    """Review finding r8 (reference parity, transform.py:20-28): the time
    column is located by MEMBERSHIP (any position) and the value column is
    the FIRST remaining one — 'sensor,datetime' order was silently dropped
    wholesale, and a 3-column file took 'the rest of the line' (with
    commas) as its value, nulling every reading and comma-joining the
    label."""
    import uuid as _uuid

    src = tmp_path / "flex"
    src.mkdir()
    dest = str(tmp_path / "lake")
    u_rev = str(_uuid.uuid4())
    u_three = str(_uuid.uuid4())
    (src / f"{u_rev}.csv").write_text(
        "temp,datetime\n1.5,2020-01-01 00:00:00+00:00\n"
    )
    (src / f"{u_three}.csv").write_text(
        "datetime,hum,unit\n2020-01-01 00:00:00+00:00,2.5,pct\n"
    )
    ingest_directory(spark, "c1", str(src), dest)
    got = {
        r.uuid: (r.value, r.label)
        for r in TimeseriesLake.open(spark, dest).df.collect()
    }
    assert got[u_rev] == (1.5, "temp")       # reversed column order ingests
    assert got[u_three] == (2.5, "hum")      # value field only; label 'hum'


def test_ingest_csv_any_extension(spark, tmp_path):
    """Review finding r8 (reference parity, transform.py:11 splitext): any
    extension is accepted — previously a '<uuid>.dat' file passed the
    driver-side check, then the line parser's '.csv'-anchored regex
    dropped every row and an empty write reported success."""
    import uuid as _uuid

    u = str(_uuid.uuid4())
    f = tmp_path / f"{u}.dat"
    f.write_text("datetime,x\n2020-01-01 00:00:00+00:00,7.5\n")
    dest = str(tmp_path / "lake")
    out = ingest_csv(spark, "c1", str(f), dest)
    assert out is not None and out.count() == 1
    rows = TimeseriesLake.open(spark, dest).df.collect()
    assert len(rows) == 1 and rows[0].value == 7.5 and rows[0].uuid == u
    # the double-extension rejection contract is unchanged
    bad = tmp_path / f"{u}.backup.csv"
    bad.write_text("datetime,x\n2020-01-01 00:00:00+00:00,1.0\n")
    assert ingest_csv(spark, "c1", str(bad), dest) is None


def test_ingest_csv_accepts_time_col_in_any_position(spark, tmp_path):
    """Review r14: ingest_csv's header gate required time_col FIRST while
    _parse_lines (and the reference's membership check) accept any
    position — the same 'sensor,datetime' file ingested via
    ingest_directory but was silently skipped via ingest_csv."""
    import uuid as _uuid

    u = str(_uuid.uuid4())
    f = tmp_path / f"{u}.csv"
    f.write_text("sensor,datetime\n3.5,2020-01-01 00:00:00+00:00\n")
    dest = str(tmp_path / "lake")
    out = ingest_csv(spark, "c1", str(f), dest)
    assert out is not None and out.count() == 1
    row = TimeseriesLake.open(spark, dest).df.collect()[0]
    assert row.value == 3.5 and row.label == "sensor"
    # a time-col-ONLY header still rejects (no value column to take)
    u2 = str(_uuid.uuid4())
    f2 = tmp_path / f"{u2}.csv"
    f2.write_text("datetime\n2020-01-01 00:00:00+00:00\n")
    assert ingest_csv(spark, "c1", str(f2), dest) is None


def test_ingest_quoted_label_keeps_embedded_comma(spark, tmp_path):
    """Review r14 (reference parity, pandas.read_csv semantics): a quoted
    header field keeps its embedded comma as ONE label; a naive split
    truncated it to the leading fragment with a stray quote."""
    import uuid as _uuid

    src = tmp_path / "q"
    src.mkdir()
    u = str(_uuid.uuid4())
    (src / f"{u}.csv").write_text(
        'datetime,"temp, indoor"\n2020-01-01 00:00:00+00:00,4.5\n'
        '2020-01-01 00:01:00+00:00,5.5\n'
    )
    dest = str(tmp_path / "lake")
    ingest_directory(spark, "c1", str(src), dest)
    rows = TimeseriesLake.open(spark, dest).df.collect()
    assert len(rows) == 2
    assert {r.label for r in rows} == {"temp, indoor"}
    assert {r.uri for r in rows} == {"urn:c1/temp, indoor"}
    assert sorted(r.value for r in rows) == [4.5, 5.5]


def test_multi_header_file_resolves_to_first_header(spark, tmp_path):
    """Review r14: a file with a second header-like line (concatenated
    exports) must take its positions/label from the FIRST header — the
    reference's line-1 semantics — not a partition-order-dependent pick."""
    import uuid as _uuid

    src = tmp_path / "mh"
    src.mkdir()
    u = str(_uuid.uuid4())
    (src / f"{u}.csv").write_text(
        "datetime,temp\n"
        "2020-01-01 00:00:00+00:00,1.0\n"
        "datetime,temp_recalibrated\n"
        "2020-01-01 00:01:00+00:00,2.0\n"
    )
    dest = str(tmp_path / "lake")
    ingest_directory(spark, "c1", str(src), dest)
    rows = TimeseriesLake.open(spark, dest).df.collect()
    assert {r.label for r in rows} == {"temp"}  # line-1 header, always
    assert sorted(r.value for r in rows) == [1.0, 2.0]


def test_scan_accepts_bare_string_uuid(spark, lake_dir):
    """Review r14: a bare-string uuid — the natural single-stream call —
    must scan that one stream, not be list()-exploded into characters
    that silently match nothing."""
    lake = TimeseriesLake.open(spark, lake_dir)
    assert lake.scan(uuids=U1).count() == len(ROWS_1)
    assert lake.scan(collections="bldg1", uuids=U2).count() == len(ROWS_2)


def test_upsert_preserves_null_collection_partition(spark, tmp_path):
    """Review finding r8: isin(touched) never matches NULL, so existing
    rows of the __HIVE_DEFAULT_PARTITION__ were excluded from the merge
    while the dynamic overwrite rewrote that partition — deleting them."""
    import datetime as _dt

    from mortar_parquet_support_spark.sources.maintenance import upsert_lake

    schema = "collection string, uuid string, time timestamp, value double, label string, uri string"
    t = lambda m: _dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    base = spark.createDataFrame(
        [(None, "u1", t(0), 1.0, "l", "r"), (None, "u1", t(1), 2.0, "l", "r")],
        schema,
    )
    lake = str(tmp_path / "lk")
    base.write.partitionBy("collection").parquet(lake)
    updates = spark.createDataFrame(
        [(None, "u1", t(1), 9.0, "l", "r")], schema
    )
    upsert_lake(spark, lake, updates)
    got = {
        r.time: r.value
        for r in spark.read.parquet(lake).collect()
    }
    # t(0) must SURVIVE the rewrite; t(1) takes the update's value
    assert got == {t(0): 1.0, t(1): 9.0}, got


def test_truncated_data_lines_dropped_not_fatal(spark, tmp_path):
    """Review finding r8: a data row with fewer fields than the header
    promised (blank interior line, truncated tail) made element_at raise
    INVALID_ARRAY_INDEX under ANSI mode, killing the whole ingest. The
    try_element_at form drops the malformed row instead, matching the
    try_* parsing contract."""
    dest = tmp_path / "lake_trunc"
    path = os.path.join(tmp_path, f"{U1}.csv")
    with open(path, "w") as fh:
        fh.write("datetime,sensor\n")
        fh.write("2020-01-01 00:00:00+00:00,1.5\n")
        fh.write("\n")              # blank interior line -> 1 empty field
        fh.write("2020-01-01 0\n")  # truncated: no value field
        fh.write("2020-01-01 01:00:00+00:00,2.5\n")
    out = ingest_csv(spark, "c1", path, str(dest))
    assert out is not None  # the job survives; no ANSI array-index abort
    rows = {(str(r.time), r.value) for r in out.select("time", "value").collect()}
    assert ("2020-01-01 00:00:00", 1.5) in rows
    assert ("2020-01-01 01:00:00", 2.5) in rows
    # the blank line has no parseable time -> dropped; the truncated line
    # keeps its parseable time with a NULL value (missing-reading
    # semantics, what pandas read_csv would produce as NaN)
    assert all(v is None for t, v in rows if t not in
               ("2020-01-01 00:00:00", "2020-01-01 01:00:00"))
    assert ("", None) not in rows and len(rows) <= 3


def test_upsert_intra_batch_duplicates_deterministic(spark, tmp_path):
    """Review finding r8: two update rows for the SAME key in one batch
    used to keep a shuffle-order-dependent winner. The tie-break is now
    the greatest remaining value struct — rerun-identical, so
    at-least-once replay stays idempotent."""
    from mortar_parquet_support_spark.sources.ingest import ingest_directory
    from mortar_parquet_support_spark.sources.maintenance import upsert_lake

    src = tmp_path / "csvs"
    src.mkdir()
    make_stream_csv(src, U1, "a", ROWS_1)
    dest = str(tmp_path / "lake_dup")
    ingest_directory(spark, "c1", str(src), dest)
    base_df = spark.read.parquet(dest).select(*LAKE_COLUMNS).limit(1)
    # pin rows driver-side: a lazy frame over the lake would re-read files
    # the first upsert overwrites
    base = base_df.collect()[0]
    rows = [
        tuple(v if c != "value" else nv for c, v in zip(LAKE_COLUMNS, base))
        for nv in (111.0, 222.0)
    ]
    ups = spark.createDataFrame(rows, schema=base_df.schema)
    results = set()
    for _ in range(3):
        upsert_lake(spark, dest, ups.repartition(8))
        row = (
            spark.read.parquet(dest)
            .filter((F.col("uuid") == base.uuid) & (F.col("time") == base.time))
            .collect()
        )
        assert len(row) == 1
        results.add(row[0].value)
    assert results == {222.0}  # greatest value struct wins, every rerun


def test_metadata_summary_distributed_byte_identical(spark, tmp_path, monkeypatch):
    """VERDICT r15 "Next round" #4: footer collection distributes to
    executors past distribute_threshold fragments — and the _metadata it
    writes must be BYTE-identical to the driver loop's, across multiple
    slices (the per-task partial merge + driver slice-order merge must
    reproduce the exact serial append order)."""
    import mortar_parquet_support_spark.sources.lake as lake_mod

    root = str(tmp_path / "many")
    # 2 hive partitions x 9 files: 18 fragments, 3 files/slice -> 6 slices
    (
        spark.range(90)
        .selectExpr("id", "id % 2 AS part", "id * 1.5 AS v")
        .repartition(9)
        .write.partitionBy("part")
        .parquet(root)
    )
    serial = write_metadata_summary(root)
    with open(os.path.join(root, "_metadata"), "rb") as f:
        serial_bytes = f.read()
    os.remove(os.path.join(root, "_metadata"))
    os.remove(os.path.join(root, "_common_metadata"))

    monkeypatch.setattr(lake_mod, "_FOOTER_SLICE_FILES", 3)
    dist = write_metadata_summary(root, spark=spark, distribute_threshold=4)
    with open(os.path.join(root, "_metadata"), "rb") as f:
        dist_bytes = f.read()
    assert dist == serial  # same stats dict (fragments, rows, columns)
    assert serial["fragments"] == 18 and serial["rows"] == 90
    assert dist_bytes == serial_bytes  # byte-identical index

    # the distributed index must also reopen through the same PyArrow
    # client path the reference uses
    import pyarrow.dataset as pads

    ds = pads.parquet_dataset(
        os.path.join(root, "_metadata"), partitioning="hive"
    )
    assert sum(f.metadata.num_rows for f in ds.get_fragments()) == 90


def test_metadata_summary_driver_loop_warns_past_threshold(spark, tmp_path):
    """Without spark= a past-threshold lake still works but warns with
    the remediation (the guard half of VERDICT r15 #4)."""
    import warnings

    root = str(tmp_path / "warn")
    spark.range(20).repartition(5).write.parquet(root)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        info = write_metadata_summary(root, distribute_threshold=2)
    assert info["rows"] == 20
    assert any("pass spark= to distribute" in str(x.message) for x in w)
