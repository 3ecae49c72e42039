"""Query registry — the driver-facing correctness surface.

Every operator from SURVEY.md §2 that is SQL-expressible registers a
``QuerySpec`` here: a Spark callable ``(spark, sf_dir) -> DataFrame``
plus an equivalent DuckDB oracle SQL string. Entries come in two
kinds:

- **SQL-defined** (:func:`register_sql`): a plain relational query
  has ONE text, which names its tables as ``{lineitem}``-style
  placeholders. Spark runs that text through ``spark.sql`` with each
  placeholder bound to its ``tables.load`` frame; the oracle is the
  same text with bare table names. The DuckDB check is then a
  two-engine test of one text, not a comparison with an independent
  twin (COVERAGE.md lists these entries).
- **body plus oracle** (:func:`register`): a DataFrame body for
  queries where Spark does more than the SQL says — kernels,
  salting, bucketed range joins, footer/fan-out gates, checkpoints —
  next to an oracle SQL that states the result independently.

The driver runs both sides at sf=0.01 and compares row count +
schema + order-insensitive value hash, so every registered query:

- aliases every computed column identically on both sides,
- renders timestamps as ISO strings (removes tz-representation
  ambiguity between engines),
- rounds floating aggregates (sum→2dp, avg/stddev/ratios→4-6dp) so
  summation-order noise cannot flip the hash.
"""

from __future__ import annotations

import string
import sys
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.tables import load


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}
# names registered through register_sql (one text, two engines)
SQL_DEFINED: set[str] = set()


def register(name: str, sql: str | None, doc: str = ""):
    """Decorator: add a (spark_fn, oracle_sql) pair to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(fn=fn, sql=sql, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def register_sql(name: str, text: str, doc: str) -> None:
    """Register a query whose single definition is ``text``.

    Tables appear in ``text`` as ``{table}`` placeholders (literal
    braces are written ``{{``/``}}``). Spark binds each placeholder
    to its :func:`tables.load` frame through a uniquely named
    temporary view, dropped again once ``spark.sql`` has analyzed the
    text; the oracle SQL is the text rendered with bare table
    names."""
    tables = sorted({f for _, f, _, _ in string.Formatter().parse(text) if f})

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        views = {t: f"_envstac_{t}_{uuid.uuid4().hex}" for t in tables}
        for t, view in views.items():
            load(spark, sf_dir, t).createOrReplaceTempView(view)
        try:
            return spark.sql(text.format(**views))
        finally:
            # the session catalog's name-only drop: Catalog.dropTempView
            # (and so spark.sql(text, **frames)) also uncaches the table
            catalog = spark._jsparkSession.sessionState().catalog()
            for view in views.values():
                catalog.dropTempView(view)

    # the defining query module, as for a decorated body: callers
    # group queries by ``spec.fn.__module__``
    fn.__module__ = sys._getframe(1).f_globals["__name__"]
    fn.__name__ = fn.__qualname__ = name
    register(name, text.format(**{t: t for t in tables}), doc)(fn)
    SQL_DEFINED.add(name)


def load_full_registry() -> dict[str, QuerySpec]:
    """Import all query modules (side-effect: they register) and return
    the full fine-grained registry (every operator as its own entry —
    used by tests and bench for granular checks)."""
    # Imports are inside the function so `import registry` stays cheap.
    from environmental_stac_generator_spark.queries import (  # noqa: F401
        aggregates,
        ann_index,
        arrays,
        curation,
        dedup,
        geo,
        joins,
        kernels,
        scalars,
        similarity,
        sketches,
        skew,
        temporal,
        text,
        windows,
    )

    return REGISTRY


def load_registry() -> dict[str, QuerySpec]:
    """The driver-facing registry: the full inventory consolidated to
    ≤50 entries (the driver's CORRECTNESS window checks the first 50
    ``queries()`` entries) — every SURVEY §2 row and every §2.11
    extension family lands inside the window. See
    ``queries/consolidated.py`` for the merge map."""
    full = load_full_registry()
    from environmental_stac_generator_spark.queries import consolidated

    return consolidated.build(full)
