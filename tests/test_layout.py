"""Z-order layout: value semantics + the property the layout exists for —
per-file min/max stats prune box predicates better than an unclustered
write."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.operators import layout as L


def test_interleave2_hand_examples(spark):
    df = spark.range(1).select(
        L.interleave2(F.lit(0b101).cast("long"), F.lit(0b011).cast("long"), 3).alias(
            "z"
        )
    )
    # x=5 (101), y=3 (011): bits of x at even positions -> 1,0,1 at 0,2,4;
    # bits of y at odd -> 1,1,0 at 1,3,5: z = 1 + 2 + 8 + 16 = 27? check:
    # pos0=x0=1, pos1=y0=1, pos2=x1=0, pos3=y1=1, pos4=x2=1, pos5=y2=0
    # => 1 + 2 + 0 + 8 + 16 + 0 = 27
    assert df.collect()[0]["z"] == 27


def test_zvalue_buckets_cover_range(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    z = L.with_zvalue(orders, "o_custkey", "o_totalprice", bits=8)
    agg = z.agg(
        F.min("zx"), F.max("zx"), F.min("zy"), F.max("zy"), F.max("z")
    ).collect()[0]
    assert agg[0] == 0 and agg[1] == 255
    assert agg[2] == 0 and agg[3] == 255
    assert agg[4] < (1 << 16)


def _files_overlapping_box(spark, path, x_col, y_col, x_lo, x_hi, y_lo, y_hi):
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    n_overlap = 0
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(
                F.min(x_col).alias("x0"),
                F.max(x_col).alias("x1"),
                F.min(y_col).alias("y0"),
                F.max(y_col).alias("y1"),
            )
            .collect()[0]
        )
        if r["x1"] >= x_lo and r["x0"] <= x_hi and r["y1"] >= y_lo and r["y0"] <= y_hi:
            n_overlap += 1
    return n_overlap, len(files)


def test_zorder_write_prunes_box_predicates(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    zpath = str(tmp_path / "zordered")
    npath = str(tmp_path / "naive")
    # clustered layout: range-partition on the z-value, sort within files
    (
        L.with_zvalue(orders, "o_custkey", "o_totalprice", bits=8)
        .repartitionByRange(16, "z")
        .sortWithinPartitions("z")
        .drop("zx", "zy", "z")
        .write.parquet(zpath)
    )
    # naive layout: hash-scatter on the primary key (what a plain ETL
    # write produces) — every file spans ~the full (custkey, price) space
    orders.repartition(16, "o_orderkey").write.mode("overwrite").parquet(npath)

    # a box covering ~1/16 of each dimension
    x_lo, x_hi = 100, 190
    y_lo, y_hi = 100000.0, 130000.0
    z_hit, z_total = _files_overlapping_box(
        spark, zpath, "o_custkey", "o_totalprice", x_lo, x_hi, y_lo, y_hi
    )
    n_hit, n_total = _files_overlapping_box(
        spark, npath, "o_custkey", "o_totalprice", x_lo, x_hi, y_lo, y_hi
    )
    assert n_total == 16 and z_total >= 8
    # the unclustered layout cannot skip anything; z-order must skip most
    assert n_hit == n_total
    assert z_hit <= z_total // 2, (z_hit, z_total)

    # and the clustered write loses no rows
    assert spark.read.parquet(zpath).count() == orders.count()
