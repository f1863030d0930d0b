"""Parquet loaders for the driver's synthetic test tables (TESTDATA.md).

Mirrors the reference's "file-collection source" role
(/root/reference/xml_to_rdb.py:35-37) for the parquet star schema. Columnar
scans go through Spark's vectorized parquet reader, so filters/projections
declared downstream are pushed into the scan by Catalyst (check
``.explain`` for PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, name))
