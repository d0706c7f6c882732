"""Reusable column-expression builders.

Everything here is a pure Catalyst expression (no UDFs): predicates and
projections that whole-stage codegen compiles to JVM bytecode, so they run
vectorized on every executor with zero Python in the hot path.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Six emoji blocks, mirroring the reference's detector
# (reference project/data_quality_checker.py:202-217). Java regex used by
# rlike supports supplementary codepoints via surrogate-free \x{...}.
EMOJI_PATTERN = (
    "[\\x{1F600}-\\x{1F64F}"  # emoticons
    "\\x{1F300}-\\x{1F5FF}"  # symbols & pictographs
    "\\x{1F680}-\\x{1F6FF}"  # transport & map
    "\\x{1F1E0}-\\x{1F1FF}"  # flags
    "\\x{2702}-\\x{27B0}"  # dingbats
    "\\x{24C2}-\\x{1F251}]"  # enclosed characters
)


def money_cents(col: Column | str) -> Column:
    """Exact integer cents of a NONNEGATIVE, exactly-2-decimal money
    double (TPC-H prices/discounts): ``trunc(x*100 + 0.5)`` via a plain
    bigint cast.

    Equivalent to ``round(x*100)`` for this value class — the true
    product is an integer n, the double lands within ±ulp of n, and
    n+0.5±ulp truncates to n — but ~2× cheaper in the aggregate hot
    path: Spark's ``Round`` on DoubleType allocates a ``BigDecimal``
    per row (valueOf + setScale HALF_UP), while this is a codegen
    multiply-add-cast with no allocation (measured 0.36 s → 0.17 s for
    the sf0.1 lineitem revenue sum; oracle-parity bit-identical on
    every row, and the DuckDB oracle keeps ``round()``).

    NOT valid for negative values (cast truncates toward zero — the
    +0.5 would round them the wrong way) or for columns that are not
    exactly 2-decimal (e.g. ``events.value``): those keep ``F.round``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (c * 100 + F.lit(0.5)).cast("bigint")


def any_null(cols: list[str]) -> Column:
    """True when ANY of ``cols`` is NULL.

    Re-expresses the reference's ``table[required].isnull().any(axis=1)``
    (reference project/data_quality_checker.py:102,254) as a single
    codegen'd predicate.
    """
    return reduce(or_, [F.col(c).isNull() for c in cols])


def row_differs(left_prefix: str, right_prefix: str, cols: list[str]) -> Column:
    """True when any column differs between two sides of a PK-aligned join,
    treating NULL==NULL as equal (null-safe ``<=>``).

    This is the engine's changed-row detector, replacing the reference's
    ``DataFrame.compare`` diff (reference project/etl2.py:270-296): an
    order-free join predicate instead of index alignment.
    """
    return reduce(
        or_,
        [
            ~F.col(f"{left_prefix}.{c}").eqNullSafe(F.col(f"{right_prefix}.{c}"))
            for c in cols
        ],
    )


def keep_first(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into (first-per-key, later-duplicates) deterministically.

    The reference's ``duplicated()`` keep-first semantics (reference
    project/data_quality_checker.py:108-127) depend on file order; at scale
    row order is not reproducible, so the engine demands an explicit
    ``order_by`` tie-break. One shuffle on ``keys``; map-side nothing else.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
    ranked = df.withColumn("__rn", F.row_number().over(w))
    kept = ranked.filter(F.col("__rn") == 1).drop("__rn")
    dups = ranked.filter(F.col("__rn") > 1).drop("__rn")
    return kept, dups


def keep_first_agg(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """The KEPT side of :func:`keep_first` as a hash aggregate:
    ``min_by(struct(payload), struct(order_by))`` per key.

    Same result, different physical shape: the window form shuffles
    every row and sorts each key's partition; the aggregate form
    partial-aggregates MAP-SIDE, so the shuffle carries one candidate
    row per (key, input-partition) — at 100 TB with a duplication
    factor d, that is ~1/d of the bytes and no sort at all. Spark's
    struct ordering compares fields left-to-right with NULLS FIRST,
    matching the window's default ascending order (pinned by test with
    null tie-break values).

    Ascending ``order_by`` only, and the tie-break must be UNIQUE per
    key (the house oracle-determinism requirement anyway — with a
    non-unique tie-break ``min_by`` picks an arbitrary tied row where
    ``row_number`` picks a stable-but-arbitrary one; neither survives
    an engine comparison). Use :func:`keep_first` when the duplicate
    side is needed too."""
    payload = [c for c in df.columns if c not in keys]
    agg = df.groupBy(*keys).agg(
        F.min_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(*[F.col(c) for c in order_by]),
        ).alias("__first")
    )
    return agg.select(
        *[
            F.col(c) if c in keys else F.col(f"__first.{c}").alias(c)
            for c in df.columns
        ]
    )


def chronology_violation_expr(ts_cols: list[str]) -> Column:
    """Issue-string array for out-of-order lifecycle timestamps.

    Reference semantics (project/data_quality_checker.py:295-328): walk the
    timestamp columns in declared order, SKIPPING nulls, and flag each
    column that is earlier than the previous non-null one, emitting
    '<prev> > <cur>' pair descriptions. The reference does this with an
    ``iterrows`` Python loop; here it is a pure expression: the "previous
    non-null timestamp" chain is a ``coalesce`` over the reversed prefix of
    earlier columns, evaluated per row with no shuffle at all.

    Returns an array<string> column of issue descriptions (empty = OK).
    """
    issues = []
    for i, cur in enumerate(ts_cols):
        if i == 0:
            continue
        # previous non-null among ts_cols[0..i-1], nearest first
        prev_known = F.coalesce(*[F.col(c) for c in reversed(ts_cols[:i])])
        # which column name supplied prev_known (for the issue string)
        prev_name = F.lit(None).cast("string")
        for c in ts_cols[:i]:
            prev_name = F.when(
                F.col(c).eqNullSafe(prev_known) & F.col(c).isNotNull(), F.lit(c)
            ).otherwise(prev_name)
        issues.append(
            F.when(
                F.col(cur).isNotNull()
                & prev_known.isNotNull()
                & (F.col(cur) < prev_known),
                F.concat(prev_name, F.lit(" > "), F.lit(cur)),
            )
        )
    arr = F.array(*issues) if issues else F.array().cast("array<string>")
    return F.filter(arr, lambda x: x.isNotNull())


def normalize_null_tokens(
    df: DataFrame, tokens: tuple[str, ...] = ("nan", "?", "")
) -> DataFrame:
    """Map multiple string null-tokens to real NULLs across all string cols.

    The reference passes ``na_values=['nan','?']`` to every CSV read
    (reference project/etl2.py:35-40); Spark's csv reader supports a single
    ``nullValue`` token, so the engine normalizes post-read with one
    codegen'd projection (no shuffle, fused into the scan stage).
    """
    token_list = list(tokens)
    exprs = []
    for f in df.schema.fields:
        if f.dataType.typeName() == "string":
            c = F.col(f.name)
            exprs.append(
                F.when(F.trim(c).isin(token_list), F.lit(None)).otherwise(c).alias(f.name)
            )
        else:
            exprs.append(F.col(f.name))
    return df.select(*exprs)
