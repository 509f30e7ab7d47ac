"""Query registry — the single source of truth for the harness contract.

Every operator from SURVEY.md §2 registers one named query here, together
with (where SQL-expressible) an equivalent DuckDB oracle. The driver runs
both sides at sf0.01 and compares row count + schema + order-insensitive
value hash, so:

* column names must match exactly (alias everything on both sides);
* values must be bit-deterministic across engines — see ``determinism.py``
  for the exact-decimal aggregation trick used to make double sums
  order-independent;
* row order never matters (hash is order-insensitive), but any window /
  top-k query must still use a TOTAL order (unique tiebreaker) so the
  selected rows are deterministic.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from test_dataengineer2026_spark.session import apply_runtime_confs

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver does a rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as the Spark side of query ``name``.

    Returns (and registers) a wrapper that pins the runtime confs on the
    caller's session before ``fn`` builds anything, so a query's result
    never depends on the session it is handed: the verification driver
    builds its own (see ``session.apply_runtime_confs``). Bind the
    result to the module-level name, so a direct call gets the same
    confs as a registry lookup."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(name=name, fn=run, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return run

    return deco


def _load_all() -> None:
    """Import every query module so registration side effects run."""
    from test_dataengineer2026_spark import queries  # noqa: F401

    queries.load_all()


def all_specs() -> dict[str, QuerySpec]:
    """Registry in driver order: DRIVER_PRIORITY names first (the driver
    verifies only the first 50 entries per round), then the rest in plain
    registration order."""
    _load_all()
    from test_dataengineer2026_spark.queries import DRIVER_PRIORITY

    prio = {name: i for i, name in enumerate(DRIVER_PRIORITY)}
    reg_pos = {name: i for i, name in enumerate(_REGISTRY)}
    ordered = sorted(
        _REGISTRY,
        key=lambda n: (prio.get(n, len(prio) + reg_pos[n]), reg_pos[n]),
    )
    return {name: _REGISTRY[name] for name in ordered}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
