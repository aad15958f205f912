"""Query registry: the correctness contract surface.

Every operator from SURVEY.md §2B registers here as a ``Query`` binding

- a Spark builder ``(SparkSession, sf_dir) -> DataFrame``  (the engine), and
- an optional ANSI-SQL oracle string for DuckDB            (the referee).

``__spark_entry__.py`` exposes the registry to the driver verbatim;
``tests/test_oracle_differential.py`` runs the same comparison locally
(row count + schema + order-insensitive values, floats compared
bit-exactly — stricter than the driver's hash, so a green local run
implies a green driver run).

Column names MUST match between builder and oracle: alias every computed
column identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    build: Builder
    oracle: str | None  # DuckDB SQL; None → driver records rows-only check
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator: register a query builder under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, build=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco

