"""Scale-pattern showcase queries.

These entries pin the explicit skew/scale mitigation operators to the
correctness gate: the optimization must not change results, so each runs a
deliberately-forced "hard path" (no broadcast, explicit salt) and its
oracle is the PLAIN equivalent — a hash-match proves the rewritten plan is
semantically identity.

- ``salted_skew_join`` — ``operators/joins.salted_join``: the fact side is
  salted with a per-row hash, the dim side replicated per salt, and the
  join forced to sort-merge (``hint('merge')``) so the salt actually
  changes the shuffle key (under a broadcast there is no shuffle to salt).
  At 100 TB this is the portable fix when one customer owns 1% of all
  orders and a single reducer would otherwise sort that key's multi-GB
  run; locally it is plan-asserted (tests/test_scale_patterns.py) and
  value-asserted here against the unsalted join.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineer_development_spark.cache import local_checkpoint_tracked
from data_engineer_development_spark.operators.joins import salted_join
from data_engineer_development_spark.sources import load_table

_SALT_BUCKETS = 8


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = salted_join(
        orders,
        cust,
        "o_custkey",
        "c_custkey",
        row_salt=F.xxhash64("o_orderkey"),
        salt_buckets=_SALT_BUCKETS,
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("segment_value"),
        )
        .orderBy("c_mktsegment")
    )


_SALTED_SKEW_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE)
       AS segment_value
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Dynamic partition pruning: the fact table is laid out partitioned by the
# join key's category (the layout a 100 TB warehouse actually has), the dim
# side carries a selective filter, and Spark prunes fact PARTITIONS at
# runtime from the dim's build side — the scan never reads the other
# categories' files. Locally the layout is written to scratch per run
# (cost of the entry, not of the operator); the DPP subquery is
# plan-asserted in tests/test_scale_patterns-style checks below via the
# oracle value match + the explicit InSubquery filter assert in
# tests/test_plans.py.
# --------------------------------------------------------------------------
def q_dpp_partition_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.functions import dsum

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    with tempfile.TemporaryDirectory(
        prefix="dpp-", ignore_cleanup_errors=True
    ) as out:
        # fact laid out partitioned by priority (low-cardinality category)
        orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
        fact = spark.read.parquet(out)
        dim = (
            cust.select("c_custkey", "c_mktsegment")
            .join(
                spark.createDataFrame(
                    [("1-URGENT",), ("2-HIGH",)], "p string"
                ),
                how="cross",
            )
            .select(
                F.col("c_custkey"),
                F.col("c_mktsegment"),
                F.col("p").alias("d_priority"),
            )
            .filter(F.col("c_mktsegment") == "BUILDING")
        )
        joined = fact.join(
            dim,
            (fact["o_custkey"] == dim["c_custkey"])
            & (fact["o_orderpriority"] == dim["d_priority"]),
        )
        return local_checkpoint_tracked(
            joined.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice", "total_value"),
            )
            .orderBy("o_orderpriority")
        )[0]


_DPP_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total_value
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


QUERIES = {
    "salted_skew_join": q_salted_skew_join,
    "dpp_partition_join": q_dpp_partition_join,
}

ORACLE = {
    "salted_skew_join": _SALTED_SKEW_JOIN_SQL,
    "dpp_partition_join": _DPP_SQL,
}
