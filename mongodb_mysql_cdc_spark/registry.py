"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as
(name → query callable) plus, when DuckDB can express the same semantics,
(name → oracle SQL). ``__spark_entry__.py`` re-exports these verbatim.

Rules enforced by convention (SURVEY.md §5):
- alias every computed column identically in the Spark query and oracle SQL;
- round floating aggregates identically on both sides (summation order
  differs across engines);
- deterministic top-k: break ties with a unique key;
- no nondeterministic functions in checked queries.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query, optionally with its DuckDB oracle SQL.

    Queries without an oracle get the driver's weaker rows-only check —
    reserve that for genuinely non-SQL-expressible ops (stateful streaming,
    approx sketches, arbitrary-Python UDF surfaces).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    """Every registered query in registration order: the order in which
    ``suite.load_all`` imports the suite modules and they define queries."""
    _load_suite()
    return dict(_QUERIES)


def oracles() -> dict[str, str]:
    """The oracle SQL of every query that has one, in registration order."""
    _load_suite()
    return dict(_ORACLES)


_LOADED = False


def _load_suite() -> None:
    """Import every suite module exactly once (imports run the decorators)."""
    global _LOADED
    if _LOADED:
        return
    from mongodb_mysql_cdc_spark import suite  # noqa: F401

    suite.load_all()
    _LOADED = True
