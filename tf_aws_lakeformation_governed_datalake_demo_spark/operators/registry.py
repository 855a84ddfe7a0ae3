"""Query registry — the driver-facing operator inventory.

Every implemented operator registers a :class:`QuerySpec`: a Spark
DataFrame builder plus (where SQL-expressible) the equivalent DuckDB
oracle SQL. ``__spark_entry__.py`` exposes the registry to the driver,
which cross-checks row-count + schema + order-insensitive value hash at
sf0.01.

Conventions that keep the two engines hash-equal:
- alias every computed column identically in builder and oracle;
- round floating aggregates to a fixed scale in BOTH engines (summation
  order differs, so raw double sums drift in the last bits);
- cast computed integers to BIGINT in both (DuckDB's sum(int) is
  HUGEINT, Spark's is long);
- make every LIMIT deterministic with a unique-key tiebreak.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    description: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def _require(cond, msg="invariant violated") -> None:
    """A builder's self-check: raise instead of ``assert``, which
    ``python -O`` strips."""
    if not cond:
        raise RuntimeError(msg)


def query(
    name: str,
    oracle: str | None,
    description: str = "",
    *,
    replace: bool = False,
):
    """Decorator registering a (spark, sf_dir) -> DataFrame builder.

    Duplicate names raise: last-wins registration once silently
    shadowed a refactored ``dedup_phash_index_probe`` with a stale
    inline copy (round-15 finding) — edits to the dead first copy
    would have been no-ops. An intentional override must say so with
    ``replace=True``.
    """

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY and not replace:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                "registered; pass replace=True to override intentionally"
            )
        REGISTRY[name] = QuerySpec(name, fn, oracle, description or (fn.__doc__ or ""))
        return fn

    return wrap
