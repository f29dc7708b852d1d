"""The reference's flagship flow, Spark-first: FJC civil-cases medallion ELT
(RAW → QUALITY → TRUSTED → DIMENSIONS).

Reference: /root/reference/airflow-dags/export_svg.py — 46-col typed CSV
ingest (:143-205), sentinel-cleansing typed projection (:207-253), identity
promotion (:255-268), and 15 DISTINCT+CASE-decode dimension CTAS (:270-701).
The semantics here are re-expressed as DataFrame expressions; decode tables
are data extracted from the reference SQL (cited per dim below).

Scale notes (100 TB stance):
- ingest declares the schema (no inference scan) and repartitions right
  after the (non-splittable .gz) landing read;
- quality/trusted are narrow projections — no shuffle at all;
- every dim build is DISTINCT over a low-cardinality key: the partial
  aggregate collapses each map task's output to ≤|domain| rows, so the
  shuffle is bytes per partition regardless of fact-table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from data_engineer_development_spark.cache import overlap
from data_engineer_development_spark.catalog import create_zone, materialize
from data_engineer_development_spark.functions import (
    decode_map,
    sentinel_to_null,
    split_date_parts_to_date,
)
from data_engineer_development_spark.pipeline import Pipeline
from data_engineer_development_spark.sources import read_typed_csv

# --------------------------------------------------------------------------
# Schemas (export_svg.py:150-197 — 46 STRING NULLABLE columns)
# --------------------------------------------------------------------------
RAW_COLUMNS = (
    "CIRCUIT DISTRICT OFFICE DOCKET ORIGIN FILEDATE FDATEUSE JURIS NOS TITL "
    "SECTION SUBSECT RESIDENC JURY CLASSACT DEMANDED FILEJUDG FILEMAG COUNTY "
    "ARBIT MDLDOCK PLT DEF TRANSDAT TRANSOFF TRANSDOC TRANSORG TERMDATE "
    "TDATEUSE TRCLACT TERMJUDG TERMMAG PROCPROG DISP NOJ AMTREC JUDGMENT "
    "DJOINED PRETRIAL TRIBEGAN TRIALEND TRMARB PROSE IFP STATUSCD TAPEYEAR"
).split()

RAW_SCHEMA = StructType(
    [StructField(c, StringType(), True) for c in RAW_COLUMNS]
)

#: quality-zone projection spec (export_svg.py:210-244): 34 columns in SQL
#: order; 12 raw columns dropped. kind ∈ {int, str, date}; sentinels is the
#: IN-list mapped to NULL before the cast.
_BASE = ("-8",)
_LETTERS = ("-8", "J", "A", "B", "C", "H", "S", "W", "P", "F", "M", "G", "s")
QUALITY_SPEC: list[tuple[str, str, tuple[str, ...]]] = [
    ("CIRCUIT", "int", _BASE),
    ("DISTRICT", "str", _BASE),
    ("OFFICE", "str", _BASE),
    ("DOCKET", "int", _BASE),
    ("ORIGIN", "int", _BASE),
    ("FILEDATE", "date", ()),
    ("FDATEUSE", "date", ()),
    ("JURIS", "int", _BASE),
    ("NOS", "int", _BASE),
    ("RESIDENC", "int", _BASE),
    ("JURY", "str", _BASE),
    ("CLASSACT", "int", _BASE),
    ("DEMANDED", "int", _BASE),
    ("COUNTY", "int", _BASE),
    ("MDLDOCK", "str", _BASE),
    ("PLT", "str", _BASE),
    ("DEF", "str", _BASE),
    ("TRANSDAT", "date", ()),
    ("TRANSOFF", "int", _LETTERS),
    ("TRANSDOC", "int", _LETTERS),
    ("TRANSORG", "int", _LETTERS),
    ("TERMDATE", "date", ()),
    ("TDATEUSE", "date", ()),
    ("TRCLACT", "int", _BASE),
    ("PROCPROG", "int", _BASE),
    ("DISP", "int", _BASE),
    ("NOJ", "int", _BASE),
    ("AMTREC", "int", ("-8", "0")),
    ("JUDGMENT", "int", ("-8", "0")),
    ("TRMARB", "str", _BASE),
    ("PROSE", "int", _BASE),
    ("IFP", "str", _BASE),
    ("STATUSCD", "str", _BASE),
    ("TAPEYEAR", "int", _BASE),
]


def quality_select(raw: DataFrame) -> DataFrame:
    """The typed 34-column projection (export_svg.py:210-244): sentinel→NULL
    (P5+F1), CAST INT64 (F2), M/D/YYYY→DATE via split/concat (F3+F4+F5).
    Pure projection — zero shuffles at any scale."""
    cols = []
    for name, kind, sentinels in QUALITY_SPEC:
        if kind == "date":
            cols.append(split_date_parts_to_date(name).alias(name))
        elif kind == "int":
            cols.append(
                sentinel_to_null(name, sentinels).cast("long").alias(name)
            )
        else:
            cols.append(sentinel_to_null(name, sentinels).alias(name))
    return raw.select(*cols)


def build_dim(trusted: DataFrame, key: str, mapping: dict) -> DataFrame:
    """One dimension table (export_svg.py:275-293 shape):
    SELECT DISTINCT(key), CASE decode ... WHERE key IS NOT NULL ORDER BY key.
    CASE has no ELSE ⇒ unknown codes decode to NULL (A1+F1+P4+O1)."""
    return (
        trusted.filter(F.col(key).isNotNull())
        .select(F.col(key), decode_map(key, mapping).alias(f"{key}_NAME"))
        .distinct()
        .orderBy(key)
    )


def run_civil_cases_pipeline(
    spark: SparkSession,
    landing_path: str,
    zone_prefix: str = "",
    on_failure=None,
) -> Pipeline:
    """The export_svg.py DAG as a Spark pipeline (C1 chain, K1/K2 writes).

    ``zone_prefix`` namespaces the four zones (raw/quality/trusted/dims) so
    tests and parallel deployments don't collide.
    """
    z = {
        name: f"{zone_prefix}{name}"
        for name in ("raw", "quality", "trusted", "dimensions")
    }
    pipe = Pipeline(name="civil_cases_elt", on_failure=on_failure)

    @pipe.stage("create_zones")
    def _zones(s: SparkSession) -> None:  # export_svg.py:115-141
        for zone in z.values():
            create_zone(s, zone)

    @pipe.stage("ingestion_raw_zone")
    def _raw(s: SparkSession) -> None:  # export_svg.py:143-205
        df = read_typed_csv(s, landing_path, RAW_SCHEMA, sep="\t", header=True)
        # the landing file is one (gz) blob — spread before any downstream
        # work. Hash-repartition on the key COLUMN (not a fixed width): an
        # explicit repartition(N) pins N and disables AQE, so a 10k-row
        # daily file would write 32 near-empty parquet files that every
        # downstream zone then re-opens; hashing on DOCKET lets AQE
        # coalesce to the data's natural width at small volume while still
        # fanning out to the full shuffle width on a 100× day.
        materialize(df.repartition(F.col("DOCKET")),
                    f"{z['raw']}.civil_cases")

    @pipe.stage("data_quality_zone")
    def _quality(s: SparkSession) -> None:  # export_svg.py:207-253
        materialize(
            quality_select(s.table(f"{z['raw']}.civil_cases")),
            f"{z['quality']}.civil_cases",
        )

    @pipe.stage("trusted_data_zone")
    def _trusted(s: SparkSession) -> None:  # export_svg.py:255-268 (SELECT *)
        materialize(
            s.table(f"{z['quality']}.civil_cases"),
            f"{z['trusted']}.civil_cases",
        )

    @pipe.stage("create_dimensions_tables")
    def _dims(s: SparkSession) -> None:  # export_svg.py:270-701 (15 CTAS)
        # The reference DAG runs the 15 dim CTAS as independent parallel
        # Airflow tasks — mirror that by submitting the (independent) write
        # jobs from a thread pool; Spark's scheduler interleaves them. The
        # shared trusted scan is cached once instead of 15 disk scans, and
        # each ≤100-row code→name dim coalesces to a single part file — the
        # layout a broadcast-joined dim wants at any scale.
        trusted = s.table(f"{z['trusted']}.civil_cases").persist()
        trusted.count()  # materialize the cache before the parallel fan-out

        def _write_dim(key: str, mapping: dict):
            dim = build_dim(trusted, key, mapping).coalesce(1)
            table = f"{z['dimensions']}.Dim{key.capitalize()}"
            return lambda: materialize(dim, table)

        try:
            overlap([_write_dim(k, m) for k, m in DIM_DECODES.items()])
        finally:
            trusted.unpersist()

    return pipe


# --------------------------------------------------------------------------
# Dimension decode tables — data extracted from the reference's CASE maps.
# --------------------------------------------------------------------------

#: export_svg.py:278-290
CIRCUIT = {
    0: "District of Columbia", 1: "First Circuit", 2: "Second Circuit",
    3: "Third Circuit", 4: "Fourth Circuit", 5: "Fifth Circuit",
    6: "Sixth Circuit", 7: "Seventh Circuit", 8: "Eighth Circuit",
    9: "Ninth Circuit", 10: "Tenth Circuit", 11: "Eleventh Circuit",
}

#: export_svg.py:400-413
ORIGIN = {
    1: "original proceeding", 2: "removed", 3: "remanded for further action",
    4: "reinstated/reopened", 5: "transferred from another district",
    6: "multi district litigation",
    7: "appeal to a district judge of a magistrate judges decision",
    8: "second reopen", 9: "third reopen", 10: "fourth reopen",
    11: "fifth reopen", 12: "sixth reopen",
    13: "multi district litigation originating in the district",
}

#: export_svg.py:421-426
JURIS = {
    1: "US government plaintiff", 2: "US government defendant",
    3: "federal question", 4: "diversity of citizenship", 5: "local question",
}

#: export_svg.py:552-558
RESIDENC = {
    1: "Citizen of this State", 2: "Citizen of another State",
    3: "Citizen or Subject of a Foreign Country",
    4: "Incorporated or principal place of business in this State",
    5: "Incorporated and principal place of business in another State",
    6: "Foreign Nation",
}

#: export_svg.py:566-570
JURY = {
    "B": "Both plaintiff and defendant demand jury",
    "D": "Defendant demands jury",
    "P": "Plaintiff demands jury",
    "N": "Neither plaintiff nor defendant demands jury",
}

#: export_svg.py:578-580
TRCLACT = {2: "denied", 3: "granted"}

#: export_svg.py:588-601
PROCPROG = {
    1: "no court action", 2: "order entered", 3: "no court action",
    4: "judgement on motion", 5: "pretrial conference held",
    6: "during court trial", 7: "during jury trial", 8: "after court trial",
    9: "after jury trial", 10: "other", 11: "hearing held",
    12: "order decided", 13: "request for trial de novo after arbitration",
}

#: export_svg.py:609-630
DISP = {
    0: "transfer to another district", 1: "remanded to state court",
    2: "want of prosecution", 3: "lack of jurisdiction", 4: "default",
    5: "consent", 6: "motion before trial", 7: "jury verdict",
    8: "directed verdict", 9: "court trial",
    10: "multi district litigation transfer", 11: "remanded to U.S. Agency",
    12: "voluntarily", 13: "settled", 14: "other", 15: "award of arbitrator",
    16: "stayed pending bankruptcy", 17: "other", 18: "statistical closing",
    19: "appeal affirmed", 20: "appeal denied",
}

#: export_svg.py:638-645
NOJ = {
    0: "no monetary award", 1: "monetary award only",
    2: "monetary award and other", 3: "injunction",
    4: "forfeiture/foreclosure/condemnation, etc", 5: "costs only",
    6: "costs and attorney fees",
}

#: export_svg.py:653-657
JUDGMENT = {1: "plaintiff", 2: "defendant", 3: "both", 4: "unknown"}

#: export_svg.py:665-668
TRMARB = {"M": "mandatory", "V": "voluntary", "E": "exempt"}

#: export_svg.py:676-680
PROSE = {
    0: "no Pro Se plaintiffs or defendants",
    1: "Pro Se plaintiffs, but no Pro Se defendants",
    2: "Pro Se defendants, but no Pro Se plaintiffs",
    3: "both Pro Se plaintiffs & defendants",
}

#: export_svg.py:688-691
STATUSCD = {"S": "pending record", "L": "terminated record"}

#: export_svg.py:298-392 (94 codes, mechanically extracted)
DISTRICT = {'00': 'Maine',
 '01': 'Massachusetts',
 '02': 'New Hampshire',
 '03': 'Rhode Island',
 '04': 'Puerto Rico',
 '05': 'Connecticut',
 '06': 'New York - Northern',
 '07': 'New York - Eastern',
 '08': 'New York - Southern',
 '09': 'New York - Western',
 '10': 'Vermont',
 '11': 'Delaware',
 '12': 'New Jersey',
 '13': 'Pennsylvania - Eastern',
 '14': 'Pennsylvania - Middle',
 '15': 'Pennsylvania - Western',
 '16': 'Maryland',
 '17': 'North Carolina - Eastern',
 '18': 'North Carolina - Middle',
 '19': 'North Carolina - Western',
 '20': 'South Carolina',
 '22': 'Virginia - Eastern',
 '23': 'Virginia - Western',
 '24': 'West Virginia - Northern',
 '25': 'West Virginia - Southern',
 '26': 'Alabama - Northern',
 '27': 'Alabama - Middle',
 '28': 'Alabama - Southern',
 '29': 'Florida - Northern',
 '3A': 'Florida - Middle',
 '3C': 'Florida - Southern',
 '3E': 'Georgia - Northern',
 '3G': 'Georgia - Middle',
 '3J': 'Georgia - Southern',
 '3L': 'Louisiana - Eastern ',
 '3N': 'Louisiana - Middle',
 '36': 'Louisiana - Western',
 '37': 'Mississippi - Northern',
 '38': 'Mississippi - Southern',
 '39': 'Texas - Northern',
 '40': 'Texas - Eastern',
 '41': 'Texas - Southern',
 '42': 'Texas - Western',
 '43': 'Kentucky - Eastern',
 '44': 'Kentucky - Western',
 '45': 'Michigan - Eastern',
 '46': 'Michigan - Western',
 '47': 'Ohio - Northern',
 '48': 'Ohio - Southern',
 '49': 'Tennessee - Eastern',
 '50': 'Tennessee - Middle',
 '51': 'Tennessee - Western',
 '52': 'Illinois - Northern',
 '53': 'Illinois - Central',
 '54': 'Illinois - Southern',
 '55': 'Indiana - Northern',
 '56': 'Indiana - Southern',
 '57': 'Wisconsin - Eastern',
 '58': 'Wisconsin - Western',
 '60': 'Arkansas - Eastern',
 '61': 'Arkansas - Western',
 '62': 'Iowa - Northern',
 '63': 'Iowa - Southern',
 '64': 'Minnesota',
 '65': 'Missouri - Eastern',
 '66': 'Missouri - Western',
 '67': 'Nebraska',
 '68': 'North Dakota',
 '69': 'South Dakota',
 '7-': 'Alaska',
 '70': 'Arizona',
 '71': 'California - Northern',
 '72': 'California - Eastern',
 '73': 'California - Central',
 '74': 'California - Southern',
 '75': 'Hawaii',
 '76': 'Idaho',
 '77': 'Montana',
 '78': 'Nevada',
 '79': 'Oregon',
 '80': 'Washington - Eastern',
 '81': 'Washington - Western',
 '82': 'Colorado',
 '83': 'Kansas',
 '84': 'New Mexico',
 '85': 'Oklahoma - Northern',
 '86': 'Oklahoma - Eastern',
 '87': 'Oklahoma - Western',
 '88': 'Utah',
 '89': 'Wyoming',
 '90': 'District of Columbia',
 '91': 'Virgin Islands',
 '93': 'Guam',
 '94': 'Northern Mariana Islands'}

#: export_svg.py:434-544 (110 codes, mechanically extracted)
NOS = {110: 'INSURANCE',
 120: 'MARINE CONTRACT ACTIONS',
 130: 'MILLER ACT',
 140: 'NEGOTIABLE INSTRUMENTS',
 150: 'OVERPAYMENTS & ENFORCEMENT OF JUDGMENTS',
 151: 'OVERPAYMENTS UNDER THE MEDICARE ACT',
 152: 'RECOVERY OF DEFAULTED STUDENT LOANS',
 153: 'RECOVERY OF OVERPAYMENTS OF VET BENEFITS',
 160: 'STOCKHOLDER S SUITS',
 190: 'OTHER CONTRACT ACTIONS',
 195: 'CONTRACT PRODUCT LIABILITY',
 196: 'CONTRACT FRANCHISE',
 210: 'LAND CONDEMNATION',
 220: 'FORECLOSURE',
 230: 'RENT, LEASE, EJECTMENT',
 240: 'TORTS TO LAND',
 245: 'TORT PRODUCT LIABILITY',
 290: 'OTHER REAL PROPERTY ACTIONS',
 310: 'AIRPLANE PERSONAL INJURY',
 315: 'AIRPLANE PRODUCT LIABILITY',
 320: 'ASSAULT, LIBEL, AND SLANDER',
 330: 'FEDERAL EMPLOYERS LIABILITY',
 340: 'MARINE PERSONAL INJURY',
 345: 'MARINE - PRODUCT LIABILITY',
 350: 'MOTOR VEHICLE PERSONAL INJURY',
 355: 'MOTOR VEHICLE PRODUCT LIABILITY',
 360: 'OTHER PERSONAL INJURY',
 362: 'MEDICAL MALPRACTICE',
 365: 'PERSONAL INJURY -PRODUCT LIABILITY',
 367: 'HEALTH CARE / PHARM',
 368: 'ASBESTOS PERSONAL INJURY - PROD.LIAB.',
 370: 'OTHER FRAUD',
 371: 'TRUTH IN LENDING',
 375: 'FALSE CLAIMS ACT',
 380: 'OTHER PERSONAL PROPERTY DAMAGE',
 385: 'PROPERTY DAMAGE -PRODUCT LIABILTY',
 400: 'STATE RE-APPORTIONMENT',
 410: 'ANTITRUST',
 422: 'BANKRUPTCY APPEALS RULE 28 USC 158',
 423: 'BANKRUPTCY WITHDRAWAL 28 USC 157',
 430: 'BANKS AND BANKING',
 440: 'OTHER CIVIL RIGHTS',
 441: 'CIVIL RIGHTS VOTING',
 442: 'CIVIL RIGHTS JOBS',
 443: 'CIVIL RIGHTS ACCOMMODATIONS',
 444: 'CIVIL RIGHTS WELFARE',
 445: 'CIVIL RIGHTS ADA EMPLOYMENT',
 446: 'CIVIL RIGHTS ADA OTHER',
 448: 'EDUCATION',
 450: 'INTERSTATE COMMERCE',
 460: 'DEPORTATION',
 462: 'NATURALIZATION, PETITION FOR HEARING OF DENIAL',
 463: 'HABEAS CORPUS – ALIEN DETAINEE',
 465: 'OTHER IMMIGRATION ACTIONS',
 470: 'CIVIL (RICO)',
 480: 'CONSUMER CREDIT',
 490: 'CABLE/SATELLITE TV',
 510: 'PRISONER PETITIONS -VACATE SENTENCE',
 530: 'PRISONER PETITIONS -HABEAS CORPUS',
 535: 'HABEAS CORPUS: DEATH PENALTY',
 540: 'PRISONER PETITIONS -MANDAMUS AND OTHER',
 550: 'PRISONER -CIVIL RIGHTS',
 555: 'PRISONER - PRISON CONDITION',
 560: 'CIVIL DETAINEE',
 610: 'AGRICULTURAL ACTS',
 620: 'FOOD AND DRUG ACTS',
 625: 'DRUG RELATED SEIZURE OF PROPERTY',
 630: 'LIQUOR LAWS',
 640: 'RAILROAD AND TRUCKS',
 650: 'AIRLINE REGULATIONS',
 660: 'OCCUPATIONAL SAFETY/HEALTH',
 690: 'OTHER FORFEITURE AND PENALTY SUITS',
 710: 'FAIR LABOR STANDARDS ACT',
 720: 'LABOR/MANAGEMENT RELATIONS ACT',
 730: 'LABOR/MANAGEMENT REPORT & DISCLOSURE',
 740: 'RAILWAY LABOR ACT',
 751: 'FAMILY AND MEDICAL LEAVE ACT',
 790: 'OTHER LABOR LITIGATION',
 791: 'EMPLOYEE RETIREMENT INCOME SECURITY ACT',
 810: 'SELECTIVE SERVICE',
 820: 'COPYRIGHT',
 830: 'PATENT',
 840: 'TRADEMARK',
 850: 'SECURITIES, COMMODITIES, EXCHANGE',
 860: 'SOCIAL SECURITY',
 861: 'HIA (1395 FF)/ MEDICARE',
 862: 'BLACK LUNG',
 863: 'D.I.W.C./D.I.W.W.',
 864: 'S.S.I.D.',
 865: 'R.S.I.',
 870: 'TAX SUITS',
 871: 'IRS 3RD PARTY SUITS 26 USC 7609',
 875: 'CUSTOMER CHALLENGE 12 USC 3410',
 890: 'OTHER STATUTORY ACTIONS',
 891: 'AGRICULTURAL ACTS',
 892: 'ECONOMIC STABILIZATION ACT',
 893: 'ENVIRONMENTAL MATTERS',
 894: 'ENERGY ALLOCATION ACT',
 895: 'FREEDOM OF INFORMATION ACT OF 1974',
 896: 'ARBITRATION',
 899: 'ADMINISTRATIVE PROCEDURE ACT/REVIEW OR APPEAL OF AGENCY DECISION',
 900: 'APPEAL OF FEE -EQUAL ACCESS TO JUSTICE',
 910: 'DOMESTIC RELATIONS',
 920: 'INSANITY',
 930: 'PROBATE',
 940: 'SUBSTITUTE TRUSTEE',
 950: 'CONSTITUTIONALITY OF STATE STATUTES',
 990: 'OTHER',
 992: 'LOCAL JURISDICTIONAL APPEAL',
 999: 'MISCELLANEOUS'}

#: the 15 dims of export_svg.py:275-693, keyed by trusted-zone column
DIM_DECODES: dict[str, dict] = {
    "CIRCUIT": CIRCUIT, "DISTRICT": DISTRICT, "ORIGIN": ORIGIN,
    "JURIS": JURIS, "NOS": NOS, "RESIDENC": RESIDENC, "JURY": JURY,
    "TRCLACT": TRCLACT, "PROCPROG": PROCPROG, "DISP": DISP, "NOJ": NOJ,
    "JUDGMENT": JUDGMENT, "TRMARB": TRMARB, "PROSE": PROSE,
    "STATUSCD": STATUSCD,
}
