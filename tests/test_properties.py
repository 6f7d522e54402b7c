"""Property-based tests (SURVEY.md §5.7, hypothesis): random inputs →
engine primitives agree with numpy / satisfy their invariants."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_clustering_spark.functions.rng import py_lcg_uniform

matrices = st.integers(min_value=2, max_value=20).flatmap(
    lambda rows: st.integers(min_value=1, max_value=8).flatmap(
        lambda cols: st.lists(
            st.lists(
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
                min_size=cols,
                max_size=cols,
            ),
            min_size=rows,
            max_size=rows,
        )
    )
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(matrices)
def test_csv_roundtrip_matches_numpy(spark, tmp_path_factory, mat):
    """R1/R2: CSV ingest reproduces the matrix; per-dim min/max agree
    with numpy (values written at 6 decimals round-trip exactly)."""
    from pyspark.sql import functions as F

    from spark_clustering_spark.sources.csv_numeric import read_numeric_csv

    arr = np.round(np.array(mat, dtype=np.float64), 6)
    p = tmp_path_factory.mktemp("csv") / "m.csv"
    with open(p, "w") as f:
        for row in arr:
            f.write(",".join(f"{v:.6f}" for v in row) + "\n")
    df = read_numeric_csv(spark, str(p))
    got = np.array(
        [r["features"] for r in df.orderBy("id").collect()], dtype=np.float64
    )
    assert got.shape == arr.shape
    assert np.array_equal(got, arr)
    mins = (
        df.select(F.posexplode("features").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("pos")
        .collect()
    )
    assert np.array_equal(np.array([r["lo"] for r in mins]), arr.min(axis=0))
    assert np.array_equal(np.array([r["hi"] for r in mins]), arr.max(axis=0))


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=10**9), st.integers(min_value=0, max_value=1000))
def test_lcg_uniform_range_and_determinism(key, seed):
    u = py_lcg_uniform(key, seed)
    assert 0.0 <= u < 1.0
    assert u == py_lcg_uniform(key, seed)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.floats(min_value=1e-3, max_value=1e6, allow_nan=False),
        min_size=2,
        max_size=50,
    )
)
def test_roulette_cdf_is_valid(objectives):
    """R10 invariant: the normalized wheel over 1/objective is sorted,
    positive, and ends at exactly 1 (same arithmetic as ml/gka.py)."""
    fits = [1.0 / o for o in objectives]
    total = sum(fits)
    cdf, acc = [], 0.0
    for f in fits:
        acc += f / total
        cdf.append(acc)
    assert all(b >= a for a, b in zip(cdf, cdf[1:]))
    assert all(c > 0 for c in cdf)
    assert math.isclose(cdf[-1], 1.0, rel_tol=1e-9)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        min_size=4,
        max_size=64,
    )
)
def test_kernel_distance_matches_math(vec):
    """ml/kernels.py distance identity == direct numpy norm (within
    the expanded-identity's conditioning tolerance)."""
    from spark_clustering_spark.ml.kernels import _dist_matrix

    V = np.array([vec], dtype=np.float64)
    C = np.zeros((1, len(vec)))
    d = _dist_matrix(V, C)[0, 0]
    expected = float(np.linalg.norm(V[0]))
    assert math.isclose(d, expected, rel_tol=1e-9, abs_tol=1e-9)


import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@pytest.mark.parametrize(
    "n_rows,n_tiles,n_parts",
    [
        (0, 4, 4),    # empty input
        (3, 4, 2),    # fewer rows than tiles (degenerates to rank)
        (12, 4, 4),   # exact multiple
        (13, 4, 4),   # remainder → first tile gets the extra row
        (100, 7, 16), # remainder spread over several tiles
        (5, 1, 3),    # single tile
    ],
)
def test_ntile_scalable_matches_exact_ntile(spark, n_rows, n_tiles, n_parts):
    """The sliced ntile must reproduce F.ntile exactly for
    every remainder/degenerate shape (including more partitions than
    rows and more tiles than rows)."""
    from spark_clustering_spark.operators.windows import ntile_scalable

    df = spark.range(n_rows).select(
        F.col("id").alias("k"), (F.col("id") * 37 % 11).alias("v")
    )
    got = {
        (r["k"], r["t"])
        for r in ntile_scalable(
            df, ["v", "k"], n_tiles, num_partitions=n_parts, out_col="t"
        ).collect()
    }
    w = Window.orderBy("v", "k")
    want = {
        (r["k"], r["t"])
        for r in df.select("k", F.ntile(n_tiles).over(w).alias("t")).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_porthash_matches_duckdb(spark, strings):
    """functions/porthash.py: Spark's conv(md5) path and DuckDB's
    unrolled hex-digit sum produce the same 32-bit integers (lo and hi
    halves) for arbitrary printable-ASCII strings — the base-hash
    parity the dedup oracles stand on."""
    import duckdb

    from pyspark.sql import functions as F

    from spark_clustering_spark.functions.porthash import md5_int32, sql_hex_int

    df = spark.createDataFrame([(s,) for s in strings], "s STRING")
    got = {
        r["s"]: (r["lo"], r["hi"])
        for r in df.select(
            "s",
            md5_int32(F.col("s")).alias("lo"),
            md5_int32(F.col("s"), hi=True).alias("hi"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in strings])
    want = {
        s: (lo, hi)
        for s, lo, hi in con.execute(
            "SELECT s, "
            + sql_hex_int("md5(s)")
            + " AS lo, "
            + sql_hex_int("md5(s)", 9, 8)
            + " AS hi FROM t"
        ).fetchall()
    }
    assert got == want


rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),      # duplicate-heavy key
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=0,
    max_size=60,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows_strategy, st.integers(min_value=2, max_value=12))
def test_global_running_agg_matches_sequential_fold(spark, rows, nparts):
    """global_running_agg's slice/carry-in composition equals a plain
    sequential fold for sum/max/rank on arbitrary duplicate-heavy
    inputs and any partition count (the two-pass machinery behind
    every former single-reducer window)."""
    from pyspark.sql import functions as F

    from spark_clustering_spark.operators.windows import global_running_agg

    data = [(i, k, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id bigint, k int, v bigint") if data else (
        spark.createDataFrame([], "id bigint, k int, v bigint")
    )
    out, totals = global_running_agg(
        df,
        [F.col("k"), F.col("id")],
        {
            "rsum": ("sum", F.col("v")),
            "rmax": ("max", F.col("v")),
            "rnk": ("count", None),
        },
        num_partitions=nparts,
    )
    got = {
        r["id"]: (r["rsum"], r["rmax"], r["rnk"]) for r in out.collect()
    }
    ordered = sorted(data, key=lambda t: (t[1], t[0]))
    acc, mx = 0, None
    for rank, (i, _k, v) in enumerate(ordered, start=1):
        acc += v
        mx = v if mx is None else max(mx, v)
        assert got[i] == (acc, mx, rank), (i, got[i], (acc, mx, rank))
    assert totals["rnk"] == (len(data) or None)
    if data:
        assert totals["rsum"] == sum(v for _, _, v in data)
        assert totals["rmax"] == max(v for _, _, v in data)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.binary(min_size=0, max_size=200))
def test_png_decoder_rejects_garbage_loudly(b):
    """Arbitrary bytes (including ones starting with the PNG magic)
    must raise ValueError/zlib.error — never hang, never return
    garbage pixels."""
    import pytest
    import zlib

    from spark_clustering_spark.sources.multimodal import png_decode_pixels

    with pytest.raises((ValueError, zlib.error, OverflowError)):
        png_decode_pixels(b"\x89PNG\r\n\x1a\n" + b)
    with pytest.raises((ValueError, zlib.error)):
        png_decode_pixels(b)  # missing magic entirely
