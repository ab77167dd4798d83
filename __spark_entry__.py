"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All query builders + oracle SQL live in webextract/queries.py; the
flagship path is the full extraction pipeline (docs→pages adapter →
mapInArrow extraction kernel → boilerplate-stripped main text).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from webextract.docpages import docs_to_pages
from webextract.pipeline import extracted_df
from webextract.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: boilerplate-stripping main-content extraction over
    Common-Crawl-style pages derived from /root/testdata/sf0.001."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs_to_pages(docs)
    return extracted_df(pages).select(
        "url", "status", "fmt", "text", "text_md", "n_blocks", "bytes_in")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + the
    training-data corpus operators (dedup / ANN / text analysis /
    multimodal)."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same tables, same column names,
    same rounding)."""
    return dict(ORACLES)
