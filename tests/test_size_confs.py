"""Spark size confs arrive in Spark's own syntax (``'134217728b'``,
``'4mb'``), not only as bare integers; every reader goes through
``conf_bytes``."""

from __future__ import annotations

import pytest

from etl_spark.config import conf_bytes
from etl_spark.ops.text import spread


@pytest.mark.parametrize(
    "value, want",
    [
        ("134217728", 134217728),
        ("134217728b", 134217728),
        ("134217728B", 134217728),
        ("64k", 64 << 10),
        ("64KB", 64 << 10),
        ("4m", 4 << 20),
        ("4mb", 4 << 20),
        ("128M", 128 << 20),
        ("1g", 1 << 30),
        ("2Gb", 2 << 30),
        (" 7 ", 7),
    ],
)
def test_conf_bytes_parses_spark_sizes(value, want):
    assert conf_bytes(value) == want


@pytest.mark.parametrize("value", ["", "mb", "1.5m", "-4m", "4 parsecs", "4tb"])
def test_conf_bytes_rejects_non_sizes(value):
    with pytest.raises(ValueError):
        conf_bytes(value)


def test_spread_reads_suffixed_split_size(spark, tmp_path):
    """A session configured the way stock drivers set it (byte-suffixed
    maxPartitionBytes) must not crash the file-backed ``spread`` probe."""
    path = str(tmp_path / "docs")
    spark.range(100).selectExpr("id AS doc_id", "'x' AS text").coalesce(
        1
    ).write.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "134217728b")
    try:
        out = spread(spark.read.parquet(path))
        assert out.count() == 100
    finally:
        spark.conf.set(key, prev)
