"""Named query registry — the engine's public query catalog.

Every operator from SURVEY §2 ships here as a ``QuerySpec``: a
PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) a DuckDB-ANSI oracle string over the
same parquet tables. ``__spark_entry__.queries()/oracle_sql()`` are
thin views over this registry; ``tools/check_oracle.py`` replays the
row-count + schema + order-insensitive value-hash check locally.

The registry keeps plain registration order. The order those views
list it in is derived from the ``CORRECTNESS_r*.json`` records by
``__spark_entry__.checker_order`` (must-check names, then red or
never-checked rows, then the stalest green rows); nothing in this
package depends on it.

Determinism rules every entry follows (so hashes match across
engines):
  * window/row_number orderings always include a unique tiebreaker;
  * double SUMs go through DECIMAL(18,x) (exact, order-independent)
    and come back as DOUBLE;
  * every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the catalog under ``name``."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags
        )
        return fn

    return wrap


def load_all() -> dict[str, QuerySpec]:
    """Import every catalog module (idempotent) and return the registry
    in registration order."""
    from baronbatch_etl_spark.queries import (  # noqa: F401
        catalog_aggs,
        catalog_core,
        catalog_corpus,
        catalog_curation,
        catalog_graph,
        catalog_heavy,
        catalog_joins,
        catalog_llm,
        catalog_sql,
        catalog_streaming,
        catalog_windows,
    )

    return REGISTRY
