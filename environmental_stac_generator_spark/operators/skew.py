"""Skew mitigation: salted aggregation and salted broadcast-free join.

At 100 TB a handful of hot keys (one collection getting most files,
one return-flag dominating lineitem) turn a single reducer into the
job's critical path. Two standard remedies, expressed so results are
bit-identical to the unsalted plans:

- :func:`salted_agg` — two-stage aggregation: partial aggregate on
  (keys + salt) spreads a hot key over ``n_salt`` reducers, then a
  cheap final aggregate on the true keys combines the partials.
  Exact for algebraic aggregates (sum/count/min/max, avg via
  sum+count).
- :func:`salted_join` — replicate the small side once per salt value
  and join on (key, salt): every hot-key row of the big side lands on
  a different reducer. The salt is ``pmod(hash(...), n)`` over a
  deterministic column, never ``rand()``, so plans are replayable and
  oracle-checkable.

AQE's skew-join splitting (session.py) handles sort-merge skew
adaptively; these operators are for the cases AQE cannot see —
aggregation skew, and joins whose skew appears only after upstream
transforms.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# (partial_expr, final_expr) per supported aggregate: partial runs on
# (keys + salt), final re-combines partials on the true keys.
# count follows SQL null-skipping: count(col) counts non-null values,
# count("*") counts rows — the partial must NOT collapse both to
# count(*) or results diverge from the unsalted plan on null inputs.
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    # the star/None test must be identity-based: Column.__eq__ builds
    # an expression, so an `in`/`==` against a Column argument raises
    # "Cannot convert column into bool"
    "count": (
        lambda c: (
            F.count(F.lit(1))
            if c is None or (isinstance(c, str) and c == "*")
            else F.count(c)
        ),
        F.sum,
    ),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def with_salt(df: DataFrame, from_col: str, n_salt: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt in [0, n_salt): pmod(hash(col), n)."""
    return df.withColumn(salt_col, F.pmod(F.hash(F.col(from_col)), F.lit(n_salt)))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_from: str,
    n_salt: int = 32,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs`` maps output column -> (agg_name, input_column) with
    agg_name in {sum, count, min, max, avg}. avg decomposes into
    sum+count so the final division is exact regardless of how rows
    were spread over salts.
    """
    partials = []
    finals = []
    post = []
    for out, (name, col) in aggs.items():
        if name == "avg":
            # AVG skips nulls in numerator AND denominator: the count
            # partial must be count(col), not count(*), or a null row
            # deflates the mean vs the unsalted plan
            partials += [F.sum(col).alias(f"__s_{out}"), F.count(col).alias(f"__c_{out}")]
            finals += [F.sum(f"__s_{out}").alias(f"__s_{out}"), F.sum(f"__c_{out}").alias(f"__c_{out}")]
            post.append((F.col(f"__s_{out}") / F.col(f"__c_{out}")).alias(out))
        elif name in _ALGEBRAIC:
            p, f = _ALGEBRAIC[name]
            partials.append(p(col).alias(out))
            finals.append(f(out).alias(out))
            post.append(F.col(out))
        else:
            raise ValueError(f"unsupported salted aggregate {name!r}")
    salted = with_salt(df, salt_from, n_salt)
    stage1 = salted.groupBy(*keys, "_salt").agg(*partials)
    stage2 = stage1.groupBy(*keys).agg(*finals)
    return stage2.select(*[F.col(k) for k in keys], *post)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_from: str,
    n_salt: int = 32,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the small side is replicated ``n_salt``
    times (explode of a sequence literal — map-side, no shuffle of the
    big side beyond the join's own exchange on (key, salt)).

    Only join types where an UNMATCHED small-side row emits nothing
    are allowed: for right/full outer the n_salt replicas of an
    unmatched small row would each emit a null-padded output row
    (n_salt duplicates vs the unsalted plan), so those raise."""
    if how.replace("_", "").lower() not in (
        "inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti"
    ):
        raise ValueError(
            f"salted_join cannot preserve {how!r} semantics: unmatched "
            "replicated small-side rows would duplicate the output"
        )
    replicated = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return (
        with_salt(big, salt_from, n_salt)
        .join(replicated, [key, "_salt"], how)
        .drop("_salt")
    )


def blocked_self_pairs(
    members: DataFrame,
    key_cols: list[str],
    id_col: str,
    n_col: str,
    max_block: int,
) -> DataFrame:
    """All unordered intra-key row pairs, triangle-blocked: a key with
    ``n`` rows is split into ``S = ceil(n / max_block)`` deterministic
    hash blocks and its O(n²) pair generation runs as S·(S+1)/2
    independent block-pair reducers instead of one.

    This is the correct mega-bucket fallback shape for a hot key at
    100 TB. A plain self-join on ``key_cols`` is NOT skew-safe even
    though it avoids collect_list: the join hash-partitions on the
    key, so every candidate pair of a viral bucket — O(n²) of them —
    is enumerated by the single reducer that owns that key, and both
    join sides buffer the full bucket there. Here each side is
    replicated ~S/2× with explicit block coordinates and the join key
    is (key, block_i, block_j), so every reducer holds exactly two
    ~max_block-row blocks regardless of which side the planner
    buffers, and work per reducer is ≤ max_block² pairs.

    ``members`` must be distinct on (key_cols, id_col) and carry an
    ``n_col`` column with the key's (distinct) row count — callers
    already know it from the size gate that routed them here. Every
    other column is treated as payload and returned twice, prefixed
    ``a_`` / ``b_``, oriented so ``a_<id_col> < b_<id_col>`` — the
    exact pair set a naive self-join with an id-ordering filter
    emits, property-tested equal in tests/test_properties.py.

    The block id is ``pmod(xxhash64(id), S)`` — deterministic, so
    plans replay identically and results stay oracle-checkable.
    """
    payload = [c for c in members.columns if c not in {*key_cols, n_col}]
    if id_col not in payload:
        raise ValueError(f"id_col {id_col!r} must be a non-key column")
    m = members.withColumn(
        "_blocks",
        F.greatest(
            F.lit(1), F.ceil(F.col(n_col) / F.lit(max_block))
        ).cast("int"),
    ).withColumn(
        "_g", F.pmod(F.xxhash64(F.col(id_col)), F.col("_blocks")).cast("int")
    )
    # left side: a block-g row participates in block pairs (g, j) for
    # j in [g, S); right side: in pairs (i, g) for i in [0, g]. Each
    # unordered block pair (i, j), i <= j, meets at exactly one join
    # key, so cross-block row pairs appear once; same-block pairs
    # (i == j) appear in both orientations and the id filter keeps one.
    lhs = m.withColumn(
        "_bj", F.explode(F.sequence(F.col("_g"), F.col("_blocks") - F.lit(1)))
    ).select(
        *key_cols,
        F.col("_g").alias("_bi"),
        "_bj",
        *[F.col(c).alias(f"_l_{c}") for c in payload],
    )
    rhs = m.withColumn(
        "_bi", F.explode(F.sequence(F.lit(0), F.col("_g")))
    ).select(
        *key_cols,
        "_bi",
        F.col("_g").alias("_bj"),
        *[F.col(c).alias(f"_r_{c}") for c in payload],
    )
    lid, rid = F.col(f"_l_{id_col}"), F.col(f"_r_{id_col}")
    joined = lhs.join(rhs, [*key_cols, "_bi", "_bj"]).filter(
        (F.col("_bi") < F.col("_bj")) | (lid < rid)
    )
    asc = lid < rid
    return joined.select(
        *[
            F.when(asc, F.col(f"_l_{c}"))
            .otherwise(F.col(f"_r_{c}"))
            .alias(f"a_{c}")
            for c in payload
        ],
        *[
            F.when(asc, F.col(f"_r_{c}"))
            .otherwise(F.col(f"_l_{c}"))
            .alias(f"b_{c}")
            for c in payload
        ],
    )
