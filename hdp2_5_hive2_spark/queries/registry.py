"""Registry for the correctness corpus.

Mirrors the reference's q-file test model (SURVEY.md §5: 2353 clientpositive
scripts diffed against golden files) but oracle-checked: each query carries
an ANSI-SQL string that DuckDB runs on the same parquet inputs, and the
driver hash-compares both result sets order-insensitively.

Oracle discipline (critical for exact hash-matches):
  - Column names must be identical on both sides — alias everything.
  - Floating-point aggregates are computed EXACTLY via decimal casts and only
    cast to DOUBLE at the end, so the result bytes are identical regardless
    of partition/accumulation order on either engine.
  - Queries whose semantics aren't ANSI-SQL-expressible (MinHash LSH,
    streaming state) register with oracle=None → driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a corpus query.

    The decorated function takes (spark, sf_dir) and returns a DataFrame.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            tags=tuple(tags),
            doc=fn.__doc__ or "",
        )
        return fn

    return deco
