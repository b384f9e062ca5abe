"""Layer-B operator packs (SURVEY.md §2.2).

Each module exposes ``QUERIES: dict[name -> (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[name -> DuckDB SQL]``; ``all_queries()`` /
``all_oracles()`` merge them for the driver contract in
``/root/repo/__spark_entry__.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules() -> tuple:
    from eventstream_benchmark_spark.generator import queries as gen_queries
    from eventstream_benchmark_spark.operators import (
        dedup,
        eventstream,
        funnel,
        graph,
        multimodal,
        pipeline,
        relational,
        similarity,
        text,
    )
    from eventstream_benchmark_spark.streaming import queries as streaming_queries

    return (
        relational,
        eventstream,
        funnel,
        graph,
        dedup,
        similarity,
        text,
        multimodal,
        pipeline,
        gen_queries,
        streaming_queries,
    )


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for mod in _modules() for name, fn in mod.QUERIES.items()}


def all_oracles() -> dict[str, str]:
    return {name: sql for mod in _modules() for name, sql in mod.ORACLES.items()}
