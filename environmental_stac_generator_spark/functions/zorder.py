"""Z-order (Morton) curve for spatial data locality.

The forecast store is spatial (yc, xc): range queries ("this bbox")
touch a 2-D region. Sorting files/row-groups by a Morton interleave
of the quantized coordinates makes parquet min/max column statistics
prune 2-D ranges effectively — the lakehouse Z-ORDER technique,
expressed as a plain deterministic column so any writer
(``sinks/table.py`` ``sortWithinPartitions``) can use it.

The bit-spread uses the classic mask-shift ladder on int64, which is
identical arithmetic in Spark SQL and DuckDB — so the index itself is
oracle-checkable.
"""

from __future__ import annotations

BITS = 8  # quantization: 256 x 256 cells


def _spread_sql(v: str) -> str:
    """Spread an 8-bit value's bits into the even positions of 16
    (abcdefgh -> 0a0b0c0d0e0f0g0h) via mask-shift steps."""
    a = f"(({v} | ({v} << 4)) & 3855)"    # & 0x0F0F
    b = f"(({a} | ({a} << 2)) & 13107)"   # & 0x3333
    c = f"(({b} | ({b} << 1)) & 21845)"   # & 0x5555
    return c


def morton_sql(xq: str, yq: str) -> str:
    """SQL for the interleaved Morton code of two quantized 8-bit
    cells (identical in Spark SQL and DuckDB)."""
    return f"({_spread_sql(xq)} | ({_spread_sql(yq)} << 1))"


def quantize_sql(col: str, lo: float, hi: float, bits: int = BITS) -> str:
    """Map [lo, hi) to integer cells [0, 2^bits). ``bits`` is capped
    at 8: the Morton spread masks are hard-coded 16-bit, so a wider
    cell id would have its high bits silently destroyed — distinct
    cells collapsing onto one z value de-clusters exactly the
    locality Z-ORDER exists to provide."""
    if not 1 <= bits <= BITS:
        raise ValueError(
            f"bits must be in [1, {BITS}] (the Morton spread masks are "
            f"{2 * BITS}-bit), got {bits}"
        )
    n = 1 << bits
    return (
        f"least({n - 1}, greatest(0, "
        f"cast(floor(({col} - {lo}) / (({hi} - {lo}) / {n})) as bigint)))"
    )
