"""Source/sink/DDL coverage: gz byte-clean read (S2), partition discovery +
pruning (S5/K5), schema update (K7), catalog views and properties (K6/K12/S9),
zone drop (K4), HTTP landing fetch (S1, served locally)."""

from __future__ import annotations

import gzip
import os
import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_engineer_development_spark import catalog
from tests.conftest import fresh_db
from data_engineer_development_spark.sources import (
    fetch_to_landing,
    read_external_partitioned,
    read_gz_text_clean,
)


def test_gz_read_with_nul_cleanup(spark, tmp_path):
    # S2: gunzip | tr '\0' ' ' (export_svg.py:107-113)
    p = tmp_path / "landing.gz"
    with gzip.open(p, "wb") as f:
        f.write(b"a\x00b\tc\nsecond\x00line\n")
    rows = [r["value"] for r in read_gz_text_clean(spark, str(p)).collect()]
    assert rows == ["a b\tc", "second line"]


def test_partition_discovery_and_pruning(spark, tmp_path):
    # S5 + K5: write partitioned, read via prefix, check pruning in the plan
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("part_key"),
    )
    root = str(tmp_path / "ext")
    df.write.partitionBy("part_key").parquet(root)

    ext = read_external_partitioned(spark, root)
    assert sorted(ext.columns) == ["id", "part_key"]
    one = ext.filter(F.col("part_key") == "2")
    assert one.count() == 25
    plan = one._sc._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )
    # partition filter must prune directories, not scan-and-filter
    assert "PartitionFilters" in plan and "part_key" in plan.split("PartitionFilters")[1][:200]


def test_schema_update_replace(spark, tmp_path):
    # K7 (bigquery.py:87-90): add column (NULL), drop column, retype column
    fresh_db(spark, "t_k7")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, score double"
    )
    df.write.mode("overwrite").saveAsTable("t_k7.t")
    new_schema = StructType(
        [
            StructField("id", StringType()),     # retype long→string
            StructField("name", StringType()),   # keep
            StructField("added", DoubleType()),  # new → NULL
        ]
    )
    catalog.update_table_schema(spark, "t_k7.t", new_schema)
    out = spark.table("t_k7.t")
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("id", StringType()), ("name", StringType()), ("added", DoubleType()),
    ]
    rows = sorted((r["id"], r["name"], r["added"]) for r in out.collect())
    assert rows == [("1", "a", None), ("2", "b", None)]


def test_views_and_table_properties(spark):
    # K6 + K12 + S9
    fresh_db(spark, "t_cat")
    spark.range(5).write.mode("overwrite").saveAsTable("t_cat.base")
    catalog.create_view(spark, "t_cat.v", "SELECT id * 2 AS x FROM t_cat.base")
    catalog.create_view(spark, "t_cat.v", "SELECT id * 3 AS x FROM t_cat.base")
    assert spark.table("t_cat.v").agg(F.sum("x")).first()[0] == 30  # replaced
    catalog.set_table_properties(
        spark, "t_cat.base", {"zone": "trusted", "steward": "etl"}
    )
    props = catalog.get_table_properties(spark, "t_cat.base")
    assert props["zone"] == "trusted" and props["steward"] == "etl"
    assert catalog.table_exists(spark, "t_cat.base")
    assert not catalog.table_exists(spark, "t_cat.nope")


def test_drop_zone_cascade_and_idempotence(spark):
    # K4: drop_zone is create_zone's inverse — CASCADE by default, a no-op
    # on a missing zone, and a non-cascading drop refuses a non-empty zone
    fresh_db(spark, "t_dropz")
    catalog.create_view(spark, "t_dropz.v", "SELECT 1 AS x")
    with pytest.raises(AnalysisException, match="SCHEMA_NOT_EMPTY"):
        catalog.drop_zone(spark, "t_dropz", cascade=False)
    assert spark.catalog.databaseExists("t_dropz")
    catalog.drop_zone(spark, "t_dropz")
    assert not spark.catalog.databaseExists("t_dropz")
    catalog.drop_zone(spark, "t_dropz")  # idempotent
    catalog.create_zone(spark, "t_dropz")
    catalog.drop_zone(spark, "t_dropz", cascade=False)  # empty zone
    assert not spark.catalog.databaseExists("t_dropz")


def test_http_fetch_to_landing(tmp_path):
    # S1 (export_svg.py:85-105) against a local one-shot HTTP server
    import http.server

    payload = b"CIRCUIT\tDISTRICT\n1\t00\n"

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        dest = str(tmp_path / "landed" / "cases.tsv")
        out = fetch_to_landing(
            f"http://127.0.0.1:{srv.server_port}/cases.tsv", dest
        )
        assert out == dest
        assert open(dest, "rb").read() == payload
    finally:
        srv.shutdown()


def test_manifest_datasource_partition_per_file(spark, tmp_path):
    # the manifest IS the partitioning: N listed files -> N input partitions
    import json

    from data_engineer_development_spark.sources.manifest_source import (
        ManifestDataSource,
    )

    spark.dataSource.register(ManifestDataSource)
    files = []
    for i in range(4):
        p = tmp_path / f"f{i}.tsv"
        p.write_text(f"{i}\tname_{i}\t{i * 1.5}\n{i + 100}\tother_{i}\t\n")
        files.append(str(p))
    mf = tmp_path / "manifest.json"
    mf.write_text(json.dumps({"files": files, "delimiter": "\t"}))
    df = (
        spark.read.format("manifest")
        .schema("id long, name string, score double")
        .option("manifest", str(mf))
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = {tuple(r) for r in df.collect()}
    assert (0, "name_0", 0.0) in rows
    assert (103, "other_3", None) in rows  # empty field -> NULL
    assert len(rows) == 8


def test_ingest_date_partitioning_and_pruning(spark):
    # K5 load-time flavor (bigquery.py:41-51: TimePartitioning with no
    # field → partition on load time): materialize stamps _ingest_date and
    # partitions on it; a date filter must PRUNE partitions, not scan+filter
    db = fresh_db(spark, "ingest_test")
    df = spark.range(50).select(F.col("id"))
    catalog.materialize(df, f"{db}.loads", ingest_date=True)

    tbl = spark.table(f"{db}.loads")
    assert catalog.INGEST_DATE_COL in tbl.columns
    assert tbl.count() == 50
    # every row of this load carries today's load date
    assert (
        tbl.select(catalog.INGEST_DATE_COL).distinct().count() == 1
    )

    pruned = tbl.filter(F.col(catalog.INGEST_DATE_COL) == F.current_date())
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert catalog.INGEST_DATE_COL in plan.split("PartitionFilters")[1][:250]

    # field-partitioning and load-time partitioning are mutually exclusive,
    # exactly like the reference's field=None switch
    with pytest.raises(ValueError, match="not both"):
        catalog.materialize(df, f"{db}.bad", partition_by="id", ingest_date=True)


def test_normalize_event_ts_session_tz_independent(spark, tmp_path):
    """NTZ parquet wall clocks must pin to the same UTC instant whatever
    spark.sql.session.timeZone is — a bare to_utc_timestamp(col,'UTC') is
    session-dependent (the NTZ is first session-cast, making it a no-op)."""
    import datetime

    from data_engineer_development_spark.sources.readers import (
        normalize_event_ts,
    )

    p = str(tmp_path / "ntz.parquet")
    spark.sql(
        "SELECT TIMESTAMP_NTZ'2024-03-01 12:00:00' AS ts"
    ).write.mode("overwrite").parquet(p)

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        instants = {}
        for tz in ("UTC", "America/New_York", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = normalize_event_ts(spark.read.parquet(p))
            assert dict(df.dtypes)["ts"] == "timestamp"
            micros = df.select(F.unix_micros("ts").alias("u")).collect()[0]["u"]
            instants[tz] = micros
        expect = int(
            datetime.datetime(
                2024, 3, 1, 12, tzinfo=datetime.timezone.utc
            ).timestamp()
        ) * 1_000_000
        assert instants == {tz: expect for tz in instants}, instants
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
