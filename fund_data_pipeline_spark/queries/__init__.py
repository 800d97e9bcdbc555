"""Harness query catalog: every SURVEY §2 operator as a (Spark, oracle-SQL) pair.

Each entry is a :class:`QuerySpec`: a Spark callable ``(spark, sf_dir) ->
DataFrame`` built on the engine's library operators, plus (where
SQL-expressible) an equivalent ANSI-SQL string for the DuckDB oracle.
Column names are aliased identically on both sides; aggregates over doubles
go through explicit DECIMAL casts so both engines produce bit-identical
values (float summation order is otherwise engine-dependent).
"""

from __future__ import annotations

from .registry import QUERIES, QuerySpec, register, table  # noqa: F401
from . import relational  # noqa: E402,F401
from . import advanced  # noqa: E402,F401
from . import etl  # noqa: E402,F401
from . import events  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import vectors  # noqa: E402,F401
from . import stream_queries  # noqa: E402,F401
from . import mlops  # noqa: E402,F401


def _order_catalog() -> None:
    """Headliners first, then oracle-checked queries, then rows-only ones,
    each group in registration order. The harness oracle-checks the first
    50 entries, so they must all carry an oracle."""
    specs = sorted(QUERIES.values(), key=lambda s: (not s.headline, s.oracle is None))
    QUERIES.clear()
    QUERIES.update((s.name, s) for s in specs)


_order_catalog()


def queries():
    return {name: spec.spark for name, spec in QUERIES.items()}


def oracle_sql():
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}


def headline_queries():
    return {name: spec.spark for name, spec in QUERIES.items() if spec.headline}
