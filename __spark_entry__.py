"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl wave at sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 plus the
training-data-pipeline additions (dedup ladder, ANN, text analysis,
multimodal plumbing). Implementations live in s_crawler_spark/plans/contract.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: one full crawl wave (discover → fetch → parse →
    dedup → store) over the synthetic corpus derived from sf0.001."""
    from s_crawler_spark.plans.contract import q_crawl_catalog
    return q_crawl_catalog(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from s_crawler_spark.plans.contract import CONTRACT
    return {name: build for name, (build, _) in CONTRACT.items()}


def oracle_sql() -> dict[str, str]:
    from s_crawler_spark.plans.contract import CONTRACT
    return {name: sql for name, (_, sql) in CONTRACT.items()}
