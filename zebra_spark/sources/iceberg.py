"""Iceberg table input with a parquet-directory fallback.

The production input (BASELINE.json input_hint) is an Iceberg table of
pre-tokenized sequences; resumability is "from the last committed Iceberg
snapshot".  This sandbox ships no Iceberg runtime jar, so the adapter is
capability-gated, honestly:

* when the session has an Iceberg catalog configured (see
  :func:`iceberg_submit_conf` for the exact ``spark-submit`` flags), reads
  go through ``spark.read.table`` with optional ``snapshot-id`` /
  ``as-of-timestamp`` time travel;
* otherwise :func:`read_input` falls back to a plain parquet path — the
  path every test in this repo actually exercises — and resume uses the
  per-unit `_SUCCESS` manifest of ``operators/checkpoint.py``, which is
  the same idea (atomic unit commits + anti-join on the committed set)
  minus the catalog.

Blocks are written as parquet (``operators/checkpoint.py``); there is no
Iceberg sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def iceberg_submit_conf(catalog: str = "zs", warehouse: str = "s3://bucket/wh"):
    """The spark-submit configuration for an Iceberg-backed run.

    Returned as a dict so callers can emit ``--conf k=v`` flags::

        spark-submit --packages {ICEBERG_PACKAGE} \\
            $(python -c "...iceberg_submit_conf()...") \\
            --py-files zebra_spark.zip tools/run_encode_job.py \\
            --input zs.db.tokens --output s3://bucket/blocks/
    """
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def has_iceberg(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog class is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def read_input(
    spark: SparkSession,
    path_or_table: str,
    snapshot_id: int | None = None,
    as_of_timestamp: int | None = None,
) -> DataFrame:
    """Read the encode input from an Iceberg table or a parquet path.

    Anything containing ``/`` (or ending ``.parquet``) is treated as a
    parquet location (the sandbox path); otherwise it must be a catalog
    table name, which requires the Iceberg runtime.  Time-travel options
    pin the read to a snapshot — the resume anchor.
    """
    is_path = "/" in path_or_table or path_or_table.endswith(".parquet")
    if is_path:
        if snapshot_id is not None or as_of_timestamp is not None:
            raise ValueError(
                "snapshot time travel requires an Iceberg table, not a "
                "parquet path; resume over parquet uses the unit manifest "
                "(operators/checkpoint.py)"
            )
        return spark.read.parquet(path_or_table)
    if not has_iceberg(spark):
        raise NotImplementedError(
            "no Iceberg runtime in this environment; submit with "
            f"--packages {ICEBERG_PACKAGE} and the catalog conf from "
            "iceberg_submit_conf(), or pass a parquet path"
        )
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    if as_of_timestamp is not None:
        reader = reader.option("as-of-timestamp", str(as_of_timestamp))
    return reader.format("iceberg").table(path_or_table)

