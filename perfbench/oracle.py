"""DuckDB oracle over the generated tables.

Comparison uses the repository's own correctness gate
(``tools/check_oracle.py``): the same cell normalisation and the same
order-insensitive row hash, imported rather than copied.
"""

from __future__ import annotations

import importlib.util
import os


def _load_check_oracle(root: str):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """The oracle answers for one run's inputs. The inputs are fixed for
    the run, so each answer is computed once."""

    def __init__(self, root: str, data_dir: str, registry) -> None:
        import duckdb

        from baronbatch_etl_spark.io import TABLES, table_path

        self._hash_rows = _load_check_oracle(root)._hash_rows
        self._registry = registry
        self._con = duckdb.connect()
        self._answers: dict[str, tuple[list[str], list[tuple]]] = {}
        self._gold: dict[tuple, tuple] | None = None
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')"
            )

    def close(self) -> None:
        self._con.close()

    def _answer(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._answers:
            res = self._con.execute(self._registry[name].oracle)
            self._answers[name] = ([d[0] for d in res.description], res.fetchall())
        return self._answers[name]

    def compare(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the rows match query ``name``'s oracle, else what
        differs."""
        if self._registry[name].oracle is None:
            return None if rows else "0 rows and no oracle"
        dcols, drows = self._answer(name)
        if sorted(cols) != sorted(dcols):
            return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"{len(rows)} rows != oracle {len(drows)}"
        if self._hash_rows(cols, rows) != self._hash_rows(dcols, drows):
            return "value hash differs from oracle"
        return None

    def gold_fold(self) -> dict[tuple, tuple]:
        """Batch fold of ``events`` into the gold table's keys:
        (user_id, event_type) → (games, value_sum)."""
        if self._gold is None:
            rows = self._con.execute(
                "SELECT user_id, event_type, count(*), sum(value) FROM events GROUP BY ALL"
            ).fetchall()
            self._gold = {(u, t): (n, s) for u, t, n, s in rows}
        return self._gold
