"""Data-layout optimization: Z-order (Morton curve) clustering.

Why this is an operator and not a nicety: at 100 TB the dominant cost of a
selective query is how many files its filters can SKIP. Parquet min/max
stats prune perfectly when the data is sorted by the filtered column — but
a single sort order only serves one column. Interleaving the bits of two
(or more) columns' rank-bucketed values puts rows that are close in BOTH
dimensions into the same files, so box predicates on either or both
columns prune well — this is exactly what Delta/Iceberg `OPTIMIZE ZORDER
BY` does. Implemented as pure integer column arithmetic (no UDF; a
writer clusters on the z-value with one range partition plus a
per-partition sort), and the bucket/interleave math is md5-free exact
integer ops, so it replays bit-for-bit in any engine.

The reference framework has no layout control beyond fixed-size byte
shards (SURVEY.md O6); this is the scale-era replacement for that design
space.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rank_bucket(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map a value into [0, 2^bits) by linear min/max scaling — the
    monotone coordinate quantization of the Z-curve. Degenerate ranges
    (min == max) collapse to bucket 0. The float expression is a fixed
    chain of IEEE ops, so any engine reproduces the exact bucket."""
    k = (1 << bits) - 1
    scaled = F.floor(
        (col.cast("double") - cmin.cast("double"))
        / (cmax.cast("double") - cmin.cast("double"))
        * F.lit(float(k))
    ).cast("long")
    return F.when(cmax > cmin, F.least(F.lit(k).cast("long"), scaled)).otherwise(
        F.lit(0).cast("long")
    )


def interleave2(x: Column, y: Column, bits: int) -> Column:
    """Morton interleave of two ``bits``-wide non-negative ints: bit b of x
    lands at position 2b, bit b of y at 2b+1. Expanded at plan-build time
    into a flat integer expression (literal shifts — no lambda, fully
    codegen-able), summed exactly, so the z-value is engine-portable."""
    terms = []
    for b in range(bits):
        terms.append(
            F.shiftright(x, b).bitwiseAND(F.lit(1)).cast("long")
            * F.lit(1 << (2 * b))
        )
        terms.append(
            F.shiftright(y, b).bitwiseAND(F.lit(1)).cast("long")
            * F.lit(1 << (2 * b + 1))
        )
    return reduce(add, terms)


def with_zvalue(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bits: int = 8,
    out_prefix: str = "z",
) -> DataFrame:
    """Attach (``{p}x``, ``{p}y``, ``{p}``): each dimension's rank bucket
    and the interleaved z-value. The min/max bounds ride along via a
    broadcast cross join of a one-row aggregate — O(1) rows moved, and at
    scale the bounds come from table statistics for free."""
    bounds = df.groupBy().agg(
        F.min(col_x).alias("__minx"),
        F.max(col_x).alias("__maxx"),
        F.min(col_y).alias("__miny"),
        F.max(col_y).alias("__maxy"),
    )
    zx = rank_bucket(F.col(col_x), F.col("__minx"), F.col("__maxx"), bits)
    zy = rank_bucket(F.col(col_y), F.col("__miny"), F.col("__maxy"), bits)
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(f"{out_prefix}x", zx)
        .withColumn(f"{out_prefix}y", zy)
        .withColumn(
            out_prefix,
            interleave2(F.col(f"{out_prefix}x"), F.col(f"{out_prefix}y"), bits),
        )
        .drop("__minx", "__maxx", "__miny", "__maxy")
    )
