"""global_running_agg property tests: the two-pass literal-cut slice
running aggregate must agree EXACTLY with the naive single-reducer
window on randomized inputs — duplicates in the order prefix, skewed
key distributions, desc / null / string keys, empty slices, negative
values, and every supported kind (sum / max / count) at once — and must
leave nothing persisted behind."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _naive(df, order_cols):
    w = Window.orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.select(
        "id",
        F.sum("v").over(w).alias("run_sum"),
        F.max("v").over(w).alias("run_max"),
        F.row_number().over(Window.orderBy(*order_cols)).alias("run_rn"),
    )


def _scalable(df, order_cols, num_partitions):
    from spark_clustering_spark.operators.windows import global_running_agg

    out, totals = global_running_agg(
        df,
        order_cols,
        {
            "run_sum": ("sum", F.col("v")),
            "run_max": ("max", F.col("v")),
            "run_rn": ("count", None),
        },
        num_partitions=num_partitions,
    )
    return out.select("id", "run_sum", "run_max", "run_rn"), totals


@pytest.mark.parametrize("seed,n,num_partitions", [(7, 200, 8), (11, 37, 16)])
def test_matches_naive_window_on_random_data(spark, seed, n, num_partitions):
    import random

    rng = random.Random(seed)
    # duplicate-heavy sort key (k) exercises tie handling across slice
    # boundaries; id is the unique tiebreaker making the order total
    rows = [(i, rng.randint(0, 9), rng.randint(-50, 50)) for i in range(n)]
    df = spark.createDataFrame(rows, "id bigint, k int, v bigint")
    order_cols = [F.col("k"), F.col("id")]
    got, totals = _scalable(df, order_cols, num_partitions)
    want = _naive(df, order_cols)
    g = {r["id"]: (r["run_sum"], r["run_max"], r["run_rn"]) for r in got.collect()}
    w = {r["id"]: (r["run_sum"], r["run_max"], r["run_rn"]) for r in want.collect()}
    assert g == w
    assert totals["run_sum"] == sum(v for _, _, v in rows)
    assert totals["run_max"] == max(v for _, _, v in rows)
    assert totals["run_rn"] == n


def test_more_partitions_than_rows(spark):
    rows = [(0, 1, 10), (1, 1, -5), (2, 0, 7)]
    df = spark.createDataFrame(rows, "id bigint, k int, v bigint")
    got, totals = _scalable(df, [F.col("k"), F.col("id")], 16)
    want = _naive(df, [F.col("k"), F.col("id")])
    assert sorted(got.collect()) == sorted(want.collect())
    assert totals["run_rn"] == 3


def _desc_nulls(spark):
    # desc leading key with nulls (desc puts them last), plus the
    # explicit opposite placements on the same data
    rows = [(i, None if i % 7 == 0 else i % 5, i % 13 - 6) for i in range(90)]
    df = spark.createDataFrame(rows, "id bigint, k int, v bigint")
    return df, [F.col("k").desc(), F.col("id")]


def _desc_nulls_first(spark):
    df, _ = _desc_nulls(spark)
    return df, [F.col("k").desc_nulls_first(), F.col("id").desc()]


def _asc_nulls_last(spark):
    df, _ = _desc_nulls(spark)
    return df, [F.col("k").asc_nulls_last(), F.col("id")]


def _string_mono_id(spark):
    # the CSV ingest shape: a string leading key (file name) tied over
    # many rows, broken by monotonically_increasing_id
    rows = [(f"part-{i % 3:05d}.csv", (i * 37) % 101 - 50) for i in range(150)]
    df = spark.createDataFrame(rows, "f string, v bigint")
    df = df.withColumn("id", F.monotonically_increasing_id())
    return df, [F.col("f"), F.col("id")]


def _dominant_value(spark):
    # the q_text_zipf shape: one leading value holds most rows
    rows = [(i, 1 if i % 20 else i, i % 9 - 4) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, k int, v bigint")
    return df, [F.col("k").desc(), F.col("id")]


def _empty(spark):
    df = spark.createDataFrame([], "id bigint, k int, v bigint")
    return df, [F.col("k").desc(), F.col("id")]


@pytest.mark.parametrize(
    "shape",
    [_desc_nulls, _desc_nulls_first, _asc_nulls_last, _string_mono_id,
     _dominant_value, _empty],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_key_shapes_match_naive_window(spark, shape):
    df, order_cols = shape(spark)
    got, totals = _scalable(df, order_cols, 8)
    want = _naive(df, order_cols)
    g = {r["id"]: tuple(r) for r in got.collect()}
    w = {r["id"]: tuple(r) for r in want.collect()}
    assert g == w
    vs = [r["v"] for r in df.collect()]
    assert totals == {
        "run_sum": sum(vs) if vs else None,
        "run_max": max(vs) if vs else None,
        "run_rn": len(vs) or None,
    }


def test_dominant_value_still_splits_on_tiebreaker(spark):
    """Cuts are full order-key tuples, so a leading value that holds
    95% of the rows still splits across slices on the tiebreaker: no
    slice exceeds twice its fair share."""
    from spark_clustering_spark.operators.windows import _slice_ids

    df, order_cols = _dominant_value(spark)
    n, parts = df.count(), 8
    sizes = [
        r["count"]
        for r in df.groupBy(_slice_ids(df, order_cols, parts)).count().collect()
    ]
    assert sum(sizes) == n
    assert max(sizes) <= 2 * n / parts, sizes


def test_rerun_is_identical_and_pins_nothing(spark):
    """Re-executing a built result gives identical rows, and neither
    building nor executing leaves a persisted RDD behind."""
    from spark_clustering_spark.operators.windows import ntile_scalable

    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    rows = [(i, i % 11, i % 7 - 3) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, k int, v bigint")
    before = persisted()
    got, _ = _scalable(df, [F.col("k").desc(), F.col("id")], 8)
    tiles = ntile_scalable(df, ["k", "id"], 5, num_partitions=8)
    first = (sorted(got.collect()), sorted(tiles.collect()))
    second = (sorted(got.collect()), sorted(tiles.collect()))
    assert first == second
    assert persisted() - before == set()
