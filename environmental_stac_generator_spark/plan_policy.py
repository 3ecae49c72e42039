"""Plan policy: every small-vs-scale and fan-out decision, and the
evidence it reads.

Gated operators carry a cheap plan that is only safe on small input
(window prefix sum, span-dedup window, driver union-find, no-mega
pair routing, driver-side parquet read) and a scale-safe plan; both
sides are property-tested equal, so a gate changes cost, never
results. Degradation posture: **unknown stats are never small** — a
missing, unreadable or directory source, or an absent row bound,
takes the scale-safe plan. The evidence is one cached parquet
:class:`Footer` per ``(path, mtime, size)``, read driver-side with
no Spark job.
"""

from __future__ import annotations

import contextlib
import contextvars
import os
from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame

# Scan fan-out (r16, guide §2.5): a parquet scan splits no finer than
# its row groups, and a one-row-group table runs every map-heavy
# stage fused onto it (shingle md5s, HOF dot products) in one task.
# A round-robin exchange after the read buys task-width compute for
# one small shuffle. The width is FIXED, not the core count: keyless
# repartition is deterministic given (input order, n), so float
# partial aggregates stay bit-stable across core counts; 16 won the
# sweep in OPTIMIZATION_r16.md (32/64 lose on plan-heavy queries).
FAN_OUT_PARTITIONS = 16
# at or under this size a file is cheap to fan out and to read on the
# driver; a production corpus never pays either
SMALL_FILE_MAX_BYTES = 256 * 1024 * 1024


class Footer(NamedTuple):
    rows: int
    row_groups: int
    nbytes: int


# footer record per (path, mtime, size); None = unreadable
_FOOTERS: dict[tuple, Footer | None] = {}


def footer(path: str) -> Footer | None:
    """``path``'s footer record; ``None`` (scale-safe) when it is
    missing, a directory or unreadable. Other errors surface."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _FOOTERS:
        import pyarrow
        import pyarrow.parquet as pq

        try:
            meta = pq.read_metadata(path)
            _FOOTERS[key] = Footer(meta.num_rows, meta.num_row_groups, st.st_size)
        except (OSError, pyarrow.ArrowException):
            _FOOTERS[key] = None
    return _FOOTERS[key]


def table_rows(sf_dir: str, name: str) -> int | None:
    """Row count of table ``name`` from its footer, or ``None``."""
    f = footer(f"{sf_dir}/{name}.parquet")
    return None if f is None else f.rows


_SCALE_PLANS = contextvars.ContextVar("envstac_scale_plans", default=False)


@contextlib.contextmanager
def scale_plans() -> Iterator[None]:
    """Force the scale-safe side of every small-vs-scale gate inside
    the block, for the current context only: other threads (even
    ones started inside it) keep the stats-driven plans. Soak and
    tests use it to run the scale plans on small data."""
    token = _SCALE_PLANS.set(True)
    try:
        yield
    finally:
        _SCALE_PLANS.reset(token)


def provably_small(rows: int | None, threshold: int) -> bool:
    """True only when ``rows`` PROVES at most ``threshold`` rows (never
    for ``None``, never inside :func:`scale_plans`)."""
    if _SCALE_PLANS.get():
        return False
    return rows is not None and rows <= threshold


def measured_small(measure: Callable[[], int], threshold: int) -> bool:
    """:func:`provably_small` for evidence that costs a Spark job:
    inside :func:`scale_plans`, ``measure`` never runs."""
    if _SCALE_PLANS.get():
        return False
    return measure() <= threshold


def driver_readable(path: str | None) -> bool:
    """True when ``path`` is one readable, small parquet file."""
    if path is None:
        return False
    f = footer(path)
    return f is not None and f.nbytes <= SMALL_FILE_MAX_BYTES


def fan_out_scan(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Round-robin the scan to :data:`FAN_OUT_PARTITIONS` when the
    footer PROVES an under-split small table; else return it as is."""
    f = footer(f"{sf_dir}/{name}.parquet")
    if (
        f is None
        or f.row_groups >= FAN_OUT_PARTITIONS
        or f.nbytes > SMALL_FILE_MAX_BYTES
    ):
        return df
    return df.repartition(FAN_OUT_PARTITIONS)


def fan_out_frame(df: DataFrame) -> DataFrame:
    """:func:`fan_out_scan` for an in-memory frame (e.g. a staged
    curate-chain checkpoint), gated on its ACTUAL partition count: a
    corpus-scale frame (>= the fan width) returns unchanged."""
    try:
        n = df.rdd.getNumPartitions()
    except NotImplementedError:
        # a backend without the RDD API (Spark Connect raises
        # PySparkNotImplementedError): no partition count, no fan
        return df
    return df.repartition(FAN_OUT_PARTITIONS) if n < FAN_OUT_PARTITIONS else df
