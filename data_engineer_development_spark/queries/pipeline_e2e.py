"""Oracle-checked end-to-end run of the civil-cases medallion pipeline —
the reference's flagship flow (export_svg.py:85-701) as ONE correctness
entry.

The driver's DuckDB oracle can only see the ten testdata tables, so the
query derives a deterministic raw civil-cases TSV FROM ``orders`` (key →
CIRCUIT/JURY codes with sentinels, order date → the reference's M/D/YYYY
string shape), lands it, and then runs the REAL pipeline end-to-end:
typed 46-col TSV ingest → sentinel-cleansing quality projection → trusted
promotion → DISTINCT+decode dims — and finally consumes the zones the way
the reference intends (fact LEFT JOIN broadcast dims). The oracle
re-derives the expected output straight from ``orders`` with the same CASE
decodes, so every stage of the pipeline is inside the hash check.

Bounded by ``o_orderkey < 10000`` so the e2e stays a fixed-size smoke at
any scale factor (the pipeline itself is exercised at full scale by
bench/test paths).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineer_development_spark.sources import load_table

_KEY_CAP = 10_000
_ZONE_PREFIX = "e2e"
#: o_orderkey % 5 → JURY code; index 4 is the sentinel the quality zone nulls
_JURY_CODES = ["B", "D", "P", "N", "-8"]


def _derive_raw(orders: DataFrame) -> DataFrame:
    """Map orders onto the reference's 46 STRING raw columns: DOCKET carries
    the key, CIRCUIT/JURY get decodable codes (with '-8' sentinels),
    FILEDATE gets the M/d/yyyy string the reference ingests."""
    from data_engineer_development_spark.medallion import RAW_COLUMNS

    jury = F.element_at(
        F.array(*[F.lit(c) for c in _JURY_CODES]),
        (F.col("o_orderkey") % 5 + 1).cast("int"),
    )
    derived = orders.select(
        F.col("o_orderkey").cast("string").alias("DOCKET"),
        F.when(F.col("o_orderkey") % 13 == 12, F.lit("-8"))
        .otherwise((F.col("o_orderkey") % 13).cast("string"))
        .alias("CIRCUIT"),
        jury.alias("JURY"),
        F.date_format(F.to_date("o_orderdate"), "M/d/yyyy").alias("FILEDATE"),
    )
    filled = [
        F.col(c) if c in ("DOCKET", "CIRCUIT", "JURY", "FILEDATE")
        else F.lit("-8").alias(c)
        for c in RAW_COLUMNS
    ]
    return derived.select(*filled)


def q_civil_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.medallion import (
        run_civil_cases_pipeline,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < _KEY_CAP
    )
    # fresh zones: drop metastore entries AND any orphaned warehouse dirs a
    # previous (killed) run left, else saveAsTable hits LOCATION_ALREADY_EXISTS
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for zone in ("raw", "quality", "trusted", "dimensions"):
        db = f"{_ZONE_PREFIX}{zone}"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(os.path.join(wh, f"{db}.db"), ignore_errors=True)

    with tempfile.TemporaryDirectory(
        prefix="civil-landing-", ignore_cleanup_errors=True
    ) as landing:
        # land the derived raw TSV the way the reference's download stage
        # does (a blob arrives in the landing area, export_svg.py:85-105) —
        # written executor-side as one part file rather than serializing
        # 46 × 10k cells through the driver (toPandas cost ~2 s per bench
        # run at this cap)
        _derive_raw(orders).coalesce(1).write.option("sep", "\t").option(
            "header", "true"
        ).mode("overwrite").csv(landing)
        run_civil_cases_pipeline(
            spark, landing, zone_prefix=_ZONE_PREFIX
        ).run(spark)

    trusted = spark.table(f"{_ZONE_PREFIX}trusted.civil_cases")
    dim_c = spark.table(f"{_ZONE_PREFIX}dimensions.DimCircuit")
    dim_j = spark.table(f"{_ZONE_PREFIX}dimensions.DimJury")
    return (
        trusted.select("DOCKET", "CIRCUIT", "JURY", "FILEDATE")
        .join(F.broadcast(dim_c), "CIRCUIT", "left")
        .join(F.broadcast(dim_j), "JURY", "left")
        .select(
            "DOCKET", "CIRCUIT", "CIRCUIT_NAME", "JURY", "JURY_NAME",
            "FILEDATE",
        )
        .orderBy("DOCKET")
    )


def _case_sql(col: str, mapping: dict) -> str:
    arms = " ".join(
        f"WHEN {code!r} THEN {name!r}" if isinstance(code, str)
        else f"WHEN {code} THEN {name!r}"
        for code, name in mapping.items()
    )
    return f"CASE {col} {arms} END"


def _e2e_sql() -> str:
    from data_engineer_development_spark.medallion import CIRCUIT, JURY

    jury_arms = " ".join(
        f"WHEN {i} THEN {c!r}" for i, c in enumerate(_JURY_CODES[:4])
    )
    return f"""
WITH t AS (
  SELECT o_orderkey AS DOCKET,
         CASE WHEN o_orderkey % 13 = 12 THEN NULL
              ELSE o_orderkey % 13 END AS CIRCUIT,
         CASE (o_orderkey % 5) {jury_arms} END AS JURY,
         CAST(o_orderdate AS DATE) AS FILEDATE
  FROM orders WHERE o_orderkey < {_KEY_CAP})
SELECT DOCKET, CIRCUIT,
       {_case_sql('CIRCUIT', CIRCUIT)} AS CIRCUIT_NAME,
       JURY,
       {_case_sql('JURY', JURY)} AS JURY_NAME,
       FILEDATE
FROM t ORDER BY DOCKET
"""


QUERIES = {"civil_pipeline_e2e": q_civil_pipeline_e2e}
ORACLE = {"civil_pipeline_e2e": _e2e_sql()}
