"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pricing-summary query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every operator registered in
``environmental_stac_generator_spark.registry`` (one entry per
SURVEY.md §2 row that is SQL-expressible, plus rows-only entries for
the non-SQL kernels).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from environmental_stac_generator_spark.registry import load_registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    reg = load_registry()
    return reg["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def _drain_then(fn: Callable) -> Callable:
    """Release the PREVIOUS query's tracked cache pins before building
    the next one. Some registry queries persist a multi-consumed
    relation (dedup.bucket_pairs, similarity.embedding_near_dup) whose
    pin can only be released AFTER the caller's action; a long-lived
    external loop (the correctness driver collects all 50 in one
    session) would otherwise accumulate one corpus-sized pin per query
    with nothing draining them (ADVICE r6). Draining on next-entry
    bounds the outstanding pins to a single query's."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from environmental_stac_generator_spark.operators.lineage import (
            release_tracked,
        )

        release_tracked()
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _drain_then(spec.fn) for name, spec in load_registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each SQL-expressible query."""
    return {
        name: spec.sql for name, spec in load_registry().items() if spec.sql is not None
    }
