"""SparkSession factory.

The reference delegates all execution to BigQuery's server-side engine
(/root/reference/gcp-python-libs/bigquery.py:92-94 ships SQL verbatim); our
analogue is a well-configured SparkSession where Catalyst plays BigQuery's
optimizer role.

Scale stance (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned partition counts.
- Session timezone pinned to UTC so timestamp semantics are reproducible
  across drivers/executors and match columnar-store (parquet) physical values.
- Arrow enabled for the few pandas-UDF extension operators.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: the directory holding this package: Python workers import it from
#: there, whatever the caller's working directory or PYTHONPATH
_PKG_PARENT = str(Path(__file__).resolve().parent.parent)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "data-engineer-development-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) else all cores.
    ``shuffle_partitions`` defaults to 2x cpus locally — on a real cluster the
    AQE coalescer owns the effective number, so the static value only needs to
    be an upper bound for the local runs.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or int(cpus) * 2

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # JIT code cache: the default 240 MB fills after a few hundred
        # codegen-heavy query runs in one JVM (a 155-query bench sweep
        # compiles thousands of generated classes); once full, silent
        # cold-code flushing + recompile churn inflates late queries 1.5-2x
        # (measured: the bench's alphabetical tail drifted while the same
        # queries ran at anchor in a fresh JVM). Sized 512 MB at 155
        # entries, 768 MB at 193; at 214 entries x min-of-3 768 MB fills
        # again by sweep position ~40 (r17 A/B on an idle box: same
        # 41-entry prefix, dedup_simhash 6.90 s at 768 MB vs 2.81 s at
        # 2 GiB, dedup_modality_overlap 5.00 vs 3.14 — the flush churn,
        # not the plans). Reserve 2 GiB — reserved address space, not
        # committed memory, so it is free until actually used.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:ReservedCodeCacheSize=2g",
            ),
        )
        # Executor parity (VERDICT r17 #6): local mode runs one JVM so this
        # is a no-op here, but on a real cluster codegen-heavy executors hit
        # the same code-cache flush churn the driver did — mirror the
        # reservation so the 100 TB deployment inherits the fix.
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_EXECUTOR_JAVA_OPTS",
                "-XX:ReservedCodeCacheSize=2g",
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ANSI off: BigQuery CAST on already-cleansed data and Spark non-ANSI
        # CAST agree (SURVEY.md §7.3); sentinel cleanup precedes every cast.
        # SPARK_GRAFT_ANSI=1 flips it on to mimic the driver's default Spark 4
        # session (ANSI ON) — run the oracle-parity sweep in BOTH modes; every
        # expression must be ANSI-safe (try_*/F.get/guards), since local
        # ANSI-off green does not imply driver green.
        .config(
            "spark.sql.ansi.enabled",
            "true" if os.environ.get("SPARK_GRAFT_ANSI") == "1" else "false",
        )
        # testdata events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the loader (readers.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
