"""End-to-end test of the civil-cases medallion pipeline (the reference's
flagship flow, export_svg.py) on a synthetic reference-faithful TSV
(FIXTURES.md A1): sentinels, M/D/YYYY dates, letter codes, out-of-domain
dim keys."""

from __future__ import annotations

import datetime

import pytest

from data_engineer_development_spark.medallion import (
    DIM_DECODES,
    QUALITY_SPEC,
    RAW_COLUMNS,
    run_civil_cases_pipeline,
)
from data_engineer_development_spark.pipeline import (
    run_sql_script,
    split_sql_script,
)


def _mk_row(**over) -> dict:
    base = {c: "1" for c in RAW_COLUMNS}
    for c in ("FILEDATE", "FDATEUSE", "TRANSDAT", "TERMDATE", "TDATEUSE"):
        base[c] = "5/3/2021"
    base.update(
        DISTRICT="00", JURY="B", TRMARB="M", STATUSCD="S", IFP="Y",
        MDLDOCK="X", PLT="p", DEF="d", OFFICE="2", TAPEYEAR="2021",
    )
    base.update(over)
    return base


@pytest.fixture(scope="module")
def landing_tsv(tmp_path_factory):
    rows = [
        _mk_row(),
        _mk_row(CIRCUIT="-8", TRANSOFF="J", AMTREC="0", JUDGMENT="0",
                FILEDATE="12/31/1999"),
        _mk_row(CIRCUIT="11", DISP="20", NOS="110", ORIGIN="13",
                STATUSCD="L", JURY="Q"),  # JURY='Q' outside decode domain
        _mk_row(CIRCUIT="99"),  # out-of-domain circuit → NULL name
    ]
    p = tmp_path_factory.mktemp("landing") / "cases.tsv"
    with open(p, "w") as f:
        f.write("\t".join(RAW_COLUMNS) + "\n")
        for r in rows:
            f.write("\t".join(r[c] for c in RAW_COLUMNS) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def ran(spark, landing_tsv):
    from tests.conftest import fresh_db

    for zone in ("t_raw", "t_quality", "t_trusted", "t_dimensions"):
        fresh_db(spark, zone)
    pipe = run_civil_cases_pipeline(spark, landing_tsv, zone_prefix="t_")
    results = pipe.run(spark)
    assert all(r.error is None for r in results), results
    return results


def test_all_stages_ran(ran):
    assert [r.name for r in ran] == [
        "create_zones", "ingestion_raw_zone", "data_quality_zone",
        "trusted_data_zone", "create_dimensions_tables",
    ]


def test_raw_zone_schema_and_rows(spark, ran):
    raw = spark.table("t_raw.civil_cases")
    assert raw.columns == RAW_COLUMNS
    assert raw.count() == 4
    assert all(t == "string" for _, t in raw.dtypes)


def test_quality_zone_types_and_cleansing(spark, ran):
    q = spark.table("t_quality.civil_cases")
    assert q.columns == [name for name, _, _ in QUALITY_SPEC]
    types = dict(q.dtypes)
    assert types["CIRCUIT"] == "bigint"
    assert types["FILEDATE"] == "date"
    assert types["DISTRICT"] == "string"
    rows = q.orderBy("TAPEYEAR").collect()
    # sentinel '-8' → NULL, letter codes → NULL, '0' → NULL for AMTREC/JUDGMENT
    cleansed = [r for r in rows if r["CIRCUIT"] is None]
    assert len(cleansed) == 1
    assert cleansed[0]["TRANSOFF"] is None
    assert cleansed[0]["AMTREC"] is None
    assert cleansed[0]["JUDGMENT"] is None
    assert cleansed[0]["FILEDATE"] == datetime.date(1999, 12, 31)
    # normal row survives typed
    normal = [r for r in rows if r["CIRCUIT"] == 1][0]
    assert normal["FILEDATE"] == datetime.date(2021, 5, 3)
    assert normal["DEMANDED"] == 1


def test_trusted_equals_quality(spark, ran):
    q = spark.table("t_quality.civil_cases")
    t = spark.table("t_trusted.civil_cases")
    assert q.schema == t.schema
    key = lambda r: tuple(repr(v) for v in r)  # noqa: E731 — None-safe sort
    assert sorted(map(tuple, q.collect()), key=key) == sorted(
        map(tuple, t.collect()), key=key
    )


def test_dim_decode_semantics(spark, ran):
    dim = {r["CIRCUIT"]: r["CIRCUIT_NAME"]
           for r in spark.table("t_dimensions.DimCircuit").collect()}
    # in-domain decodes, out-of-domain (99) → NULL name, no NULL keys
    assert dim[1] == "First Circuit"
    assert dim[11] == "Eleventh Circuit"
    assert dim[99] is None
    assert None not in dim
    jury = {r["JURY"]: r["JURY_NAME"]
            for r in spark.table("t_dimensions.DimJury").collect()}
    assert jury["B"] == "Both plaintiff and defendant demand jury"
    assert jury["Q"] is None  # CASE without ELSE


def test_all_15_dims_materialized(spark, ran):
    for key in DIM_DECODES:
        assert spark.catalog.tableExists(f"t_dimensions.Dim{key.capitalize()}"), key


def test_sql_script_splitter():
    script = """
    #TRANSACT
    CREATE OR REPLACE TABLE a AS SELECT 1 AS x;
    -- a comment
    CREATE OR REPLACE TABLE b AS SELECT 'a;b' AS y;
    """
    stmts = split_sql_script(script)
    assert len(stmts) == 2
    assert "a;b" in stmts[1]


def test_sql_script_splitter_escaped_quotes():
    # a doubled quote ('') inside a literal must not flip string state; the
    # semicolon inside the escaped literal stays part of statement 1
    script = "SELECT 'it''s; fine' AS x; SELECT 2 AS y;"
    stmts = split_sql_script(script)
    assert len(stmts) == 2
    assert "it''s; fine" in stmts[0]
    assert stmts[1] == "SELECT 2 AS y"


def test_run_sql_script_runs_statements_in_order(spark):
    # K3: one multi-statement script, each statement executed in order —
    # the second reads the view the first created
    n = run_sql_script(
        spark,
        """
        #TRANSACT
        CREATE OR REPLACE TEMP VIEW t_script_a AS SELECT id FROM range(4);
        -- a comment line
        CREATE OR REPLACE TEMP VIEW t_script_b AS
            SELECT SUM(id) AS s, 'x;y' AS lit FROM t_script_a;
        """,
    )
    assert n == 2
    assert tuple(spark.table("t_script_b").first()) == (6, "x;y")


def test_tag_from_template_mirrors_reference(spark):
    # reference datacatalog.py:28-61 — tag defaults each enum field to its
    # FIRST allowed value; overrides must come from the allowed list
    from data_engineer_development_spark.catalog import (
        attach_tag,
        get_table_properties,
        tag_from_template,
    )

    template = {
        "data_classification": ["internal", "public", "restricted"],
        "zone": ["raw", "quality", "trusted"],
    }
    assert tag_from_template(template) == {
        "data_classification": "internal",
        "zone": "raw",
    }
    assert tag_from_template(template, {"zone": "trusted"})["zone"] == "trusted"
    import pytest

    with pytest.raises(ValueError):
        tag_from_template(template, {"zone": "nope"})

    from tests.conftest import fresh_db

    fresh_db(spark, "t_tags")
    spark.range(1).write.saveAsTable("t_tags.t")
    attach_tag(spark, "t_tags.t", template, {"zone": "quality"})
    # idempotent re-attach (reference swallows AlreadyExists)
    attach_tag(spark, "t_tags.t", template, {"zone": "quality"})
    props = get_table_properties(spark, "t_tags.t")
    assert props["tag.zone"] == "quality"
    assert props["tag.data_classification"] == "internal"


def test_failure_alert_payload_matches_reference_shape(spark):
    # C5 (helper.py:7-38): a failing stage fires the default formatter with
    # the reference's dag/task/exec-date/log-url payload through the
    # injected transport
    from data_engineer_development_spark.pipeline import Pipeline, make_alert_hook

    sent: list[dict] = []
    pipe = Pipeline(
        name="civil_cases_elt",
        on_failure=make_alert_hook(
            sent.append,
            "civil_cases_elt",
            headline="Task failed",
            log_url_base="https://logs.example",
            clock=lambda: "2026-01-02T03:04:05+00:00",
        ),
    )

    @pipe.stage("boom")
    def boom(s):
        raise RuntimeError("stage exploded")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        pipe.run(spark)

    assert len(sent) == 1
    p = sent[0]
    assert p["dag"] == "civil_cases_elt"
    assert p["task"] == "boom"
    assert p["exec_date"] == "2026-01-02T03:04:05+00:00"
    assert p["log_url"] == "https://logs.example/civil_cases_elt/boom"
    assert p["username"] == "pipeline"
    for line in (
        "[prod] Task failed",
        "*Dag*: civil_cases_elt",
        "*Task*: boom",
        "*Execution Datetime*: 2026-01-02T03:04:05+00:00",
        "*Log Url*: https://logs.example/civil_cases_elt/boom",
        "*Error*: stage exploded",
    ):
        assert line in p["message"]
