"""Engine-agnostic rounding.

``F.round`` (Java BigDecimal HALF_UP on the shortest decimal repr)
and DuckDB/C ``round`` (on the raw binary double) disagree on exact
halves — e.g. round(0.05625, 4) → 0.0563 in Spark but 0.0562 in
DuckDB. Since the driver hash-compares values bit-for-bit, every
rounded column in the oracle surface instead uses

    floor(x * 10^n + 0.5) / 10^n

which is plain IEEE-754 arithmetic evaluated identically by every
engine — deterministic, rule-free, oracle-safe.

SQL texts write the scale as ``1e2``/``1e4``, never ``100.0``: Spark
SQL types a plain decimal literal ``100.0`` as DECIMAL, so
``floor(...) / 100.0`` would return a DECIMAL column where the
DataFrame-side :func:`rnd` returns DOUBLE. An exponent literal is
DOUBLE in both Spark and DuckDB, so one text gives one schema in
both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def rnd(col: Column | str, n: int) -> Column:
    """Half-up rounding to ``n`` decimals via pure double arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**n)
    return F.floor(c * scale + 0.5) / scale


def sql_rnd(expr: str, n: int) -> str:
    """The SQL-text twin of :func:`rnd` (valid in Spark SQL and
    DuckDB)."""
    return f"floor(({expr}) * 1e{n} + 0.5) / 1e{n}"
