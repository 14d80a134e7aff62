"""Entry contract of the engine (PySpark target).

``entry`` runs a query of the scene pipeline on sf0.001;
``queries``/``oracle_sql`` declare every registered query with the
DuckDB SQL its result is checked against."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from asid_v2_data_pipeline_spark.queries import all_oracles, all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The clean-patch step of the scene build: tumbling patches over the
    64×64 test raster, keeping only patches without a masked pixel
    (oracle-checked as ``f3_clean_patches``)."""
    from asid_v2_data_pipeline_spark.queries.grid import f3_clean_patches

    return f3_clean_patches(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered query."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same column names/aliases)."""
    return all_oracles()
