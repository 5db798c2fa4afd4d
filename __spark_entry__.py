"""Driver contract for the spark-graft builder (PySpark target).

Thin view over ``baronbatch_etl_spark.queries.REGISTRY``: every
implemented operator from SURVEY.md §2 is a named QuerySpec with a
PySpark callable and (where SQL-expressible) a DuckDB oracle string.

The view lists the catalog in checker order, derived from the
``CORRECTNESS_r*.json`` records beside this file by
:func:`checker_order`: the ``MUST_CHECK`` names first, then every row
whose latest check was red or that was never checked, then the
remaining rows by the round they were last green (stalest first), with
the name as tiebreak. A checker that verifies the catalog front to
back under a fixed per-round budget therefore always re-checks what is
failing, new or least recently verified, and each new record rotates
the rows it covered to the back with no hand-edited list.
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from baronbatch_etl_spark.queries import QuerySpec, load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: Always at the head of the order: ``mm_features`` runs its feature
#: extraction through ``mapInPandas``, so every round exercises the
#: Arrow-worker path whatever rows are stale.
MUST_CHECK: tuple[str, ...] = ("mm_features",)


def _is_green(row: dict) -> bool:
    """One record row passed: rows, schema and value hash all match
    (records that predate the hash check carry no ``hash_match``)."""
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match", True)
    )


def correctness_records() -> list[dict[str, dict]]:
    """The ``CORRECTNESS_r<N>.json`` records beside this file, oldest
    round first."""
    files = sorted(
        ROOT.glob("CORRECTNESS_r*.json"),
        key=lambda f: int(re.search(r"_r(\d+)\.json$", f.name).group(1)),
    )
    return [json.loads(f.read_text()) for f in files]


def checker_order(records: list[dict[str, dict]], names: list[str]) -> list[str]:
    """``names`` reordered for a front-to-back checker: must-check
    names, then red or never-checked rows, then green rows by the
    round (index into ``records``) they were last green, stalest
    first, each tier broken by name. With no records there is nothing
    to rank, so the rest keep their order in ``names``."""
    last_green: dict[str, int] = {}
    red: set[str] = set()
    for rnd, record in enumerate(records, start=1):
        for name, row in record.items():
            if _is_green(row):
                last_green[name] = rnd
                red.discard(name)
            else:
                red.add(name)

    def key(name: str) -> tuple:
        rank = MUST_CHECK.index(name) if name in MUST_CHECK else len(MUST_CHECK)
        if not records:
            return (rank,)
        settled = name in last_green and name not in red
        return (rank, settled, last_green.get(name, 0), name)

    return sorted(names, key=key)


def _catalog() -> dict[str, QuerySpec]:
    registry = load_all()
    order = checker_order(correctness_records(), list(registry))
    return {name: registry[name] for name in order}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §3.3 read path) on sf0.001."""
    return _catalog()["flagship_player_stats"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in _catalog().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {
        name: spec.oracle
        for name, spec in _catalog().items()
        if spec.oracle is not None
    }
