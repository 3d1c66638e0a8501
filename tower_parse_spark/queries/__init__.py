"""Named query registry — the engine's public, oracle-checked surface.

Each module contributes ``QUERIES: dict[str, Query]`` entries. A Query
bundles the Spark implementation (a callable ``(spark, sf_dir) -> DataFrame``)
with the ANSI-SQL oracle DuckDB runs on the same parquet tables. Queries
whose semantics are not SQL-expressible (streaming stateful ops) carry
``oracle=None`` and get a rows-only check from the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None
    doc: str = ""


def registry() -> dict[str, Query]:
    """Assemble the full query registry from all modules (import-light)."""
    from tower_parse_spark.queries import (
        curation,
        filtering,
        ingest,
        llm,
        relational,
        relational_ext,
        relational_more,
        streaming_q,
        temporal,
    )

    out: dict[str, Query] = {}
    for mod in (
        relational,
        relational_ext,
        relational_more,
        ingest,
        llm,
        streaming_q,
        temporal,
        curation,
        filtering,
    ):
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(mod.QUERIES)
    return out
