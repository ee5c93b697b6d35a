"""Cube golden-identity tests (reference test_datasets.py:58-121 parity)."""

from __future__ import annotations

import math
from datetime import date

import numpy as np
import pytest
from pyspark.sql import functions as F

from skope_api_spark.operators import windows as wops
from skope_api_spark.operators.zonal import summary_stats, zonal_series
from skope_api_spark.sources.cube import analytic_cube, full_dev_cube

ANNUAL = "annual_5x5x5_dataset"
MONTHLY = "monthly_5x5x60_dataset"


def _point(spark, ds, var, row, col):
    return (
        analytic_cube(spark, ds, var)
        .where((F.col("row") == row) & (F.col("col") == col))
        .orderBy("band")
    )


class TestPointGoldens:
    def test_origin_point_is_band_times_100(self, spark):
        """Reference golden assert (test_datasets.py:88): the cube origin
        series equals [band·100 for band in band_range]."""
        for var in ("float32_variable", "uint16_variable"):
            rows = _point(spark, ANNUAL, var, 0, 0).collect()
            assert [r.value for r in rows] == [100.0, 200.0, 300.0, 400.0, 500.0]

    def test_interior_point_float32(self, spark):
        """Point (−120, 42.5) → row 2, col 3: value = b·100 + 23.3 (float32)."""
        rows = _point(spark, ANNUAL, "float32_variable", 2, 3).collect()
        expected = [np.float64(np.float32(b * 100 + 2 * 10 + 3 * 1.1)) for b in range(1, 6)]
        assert [r.value for r in rows] == expected

    def test_null_cells(self, spark):
        cube = analytic_cube(spark, ANNUAL, "float32_variable")
        nulls = cube.where(F.col("value").isNull()).select("band", "row", "col").collect()
        got = sorted((r.band, r.row, r.col) for r in nulls)
        expected = sorted([(b, 3, 4) for b in range(1, 6)] + [(3, 2, 4)])
        assert got == expected

    def test_time_column_ancient_dates(self, spark):
        rows = _point(spark, ANNUAL, "float32_variable", 0, 0).select("band", "time").collect()
        assert [(r.band, r.time) for r in rows] == [
            (b, date(b, 1, 1)) for b in range(1, 6)
        ]
        mrows = (
            _point(spark, MONTHLY, "float32_variable", 0, 0)
            .where(F.col("band").isin(1, 2, 13, 60))
            .select("band", "time")
            .collect()
        )
        assert {(r.band, r.time) for r in mrows} == {
            (1, date(1, 1, 1)),
            (2, date(1, 2, 1)),
            (13, date(2, 1, 1)),
            (60, date(5, 12, 1)),
        }


class TestZonalGoldens:
    def test_zonal_mean_skips_nulls(self, spark):
        """Full 5×5 zonal mean: 24 valid cells per band (23 in band 3)."""
        cube = analytic_cube(spark, ANNUAL, "float32_variable")
        out = {r.band: r for r in zonal_series(cube, "mean").collect()}
        for b in range(1, 6):
            assert out[b].n_cells == 25
            vals = [
                float(np.float32(b * 100 + r * 10 + c * 1.1))
                for r in range(5)
                for c in range(5)
                if not ((r == 3 and c == 4) or (b == 3 and r == 2 and c == 4))
            ]
            assert out[b].n_valid == len(vals)
            assert out[b].value == pytest.approx(np.mean(vals), rel=1e-12)

    def test_exact_median(self, spark):
        # uint16 carries the same nodata holes as float32 (r12 parity fix:
        # verified against the real shipped raster, 65535 sentinels at
        # (3,4) all bands + (2,4) band 3) — the median is over VALID cells
        cube = analytic_cube(spark, ANNUAL, "uint16_variable")
        out = {r.band: r.value for r in zonal_series(cube, "median").collect()}
        for b in range(1, 6):
            vals = [
                b * 100 + r * 10 + c
                for r in range(5)
                for c in range(5)
                if not ((r == 3 and c == 4) or (b == 3 and r == 2 and c == 4))
            ]
            assert out[b] == np.median(vals)

    def test_median_equals_spark_median(self, spark):
        """The sort-based median equals ``F.median`` (Spark ``Percentile``)
        under ``==`` on 1200 random groups: ties, NULLs, NaN, infinities,
        ±1e308 and the subnormal 5e-324, n_valid of 0 (all-NULL), 1, 2, 3,
        even, odd and 700. A zero result may differ in sign only:
        ``F.median`` keeps -0.0 and 0.0 as separate hash-map keys that
        compare equal, so which one it returns follows hash-map order;
        Python's ``==`` treats the two zeros as equal."""
        import pyarrow as pa

        rng = np.random.default_rng(20261017)
        pool = [
            0.0, -0.0, 1.0, 2.0, 2.0, -3.5, 1e308, -1e308, 5e-324, -5e-324,
            math.nan, math.inf, -math.inf,
        ]
        sizes = (0, 1, 2, 3, "even", "odd", 700)
        groups, values = [], []
        for g in range(1200):
            size = sizes[g % len(sizes)]
            if size == "even":
                size = 2 * int(rng.integers(2, 40))
            elif size == "odd":
                size = 2 * int(rng.integers(2, 40)) + 1
            n_null = int(rng.integers(1, 4)) if size == 0 else int(rng.integers(0, 3))
            vals = [
                pool[i] if rng.random() < 0.3 else float(rng.integers(-4, 5) / 4)
                for i in rng.integers(0, len(pool), size)
            ]
            vals += [None] * n_null
            groups += [g] * len(vals)
            values += vals
        df = spark.createDataFrame(
            pa.table({"g": pa.array(groups, pa.int32()), "v": pa.array(values, pa.float64())})
        )
        got = {
            r.g: (r.value, r.n_valid)
            for r in zonal_series(df, "median", keys=("g",), value_col="v").collect()
        }
        want = {
            r.g: (r.m, r.n)
            for r in df.groupBy("g")
            .agg(F.median("v").alias("m"), F.count("v").alias("n"))
            .collect()
        }
        assert len(got) == len(want) == 1200
        assert {n for _, n in want.values()} >= {0, 1, 2, 3, 700}
        for g, (m, n) in want.items():
            value, n_valid = got[g]
            assert n_valid == n
            if m is None:
                assert value is None and n == 0
            elif math.isnan(m):
                assert math.isnan(value)
            else:
                assert value == m, (g, value, m)

    def test_summary_stats_all_null_series_is_null(self, spark):
        cube = analytic_cube(spark, ANNUAL, "float32_variable")
        stats = {
            (r.row, r.col): r for r in summary_stats(cube, keys=("row", "col")).collect()
        }
        dead = stats[(3, 4)]
        assert dead.n_valid == 0
        assert dead.mean is None and dead.median is None and dead.stddev is None
        live = stats[(0, 0)]
        assert live.mean == pytest.approx(300.0)
        assert live.stddev == pytest.approx(np.std([100, 200, 300, 400, 500]))


class TestWindowLabelGolden:
    """Reference test_datasets.py:91-121: years 1–4, trailing w=2 → years
    3–4 with [mean(y1,y2), mean(y2,y3)]; centered w=3 → years 2–4."""

    def test_trailing_w2(self, spark):
        series = zonal_series(_point(spark, ANNUAL, "float32_variable", 0, 0), "mean")
        out = (
            wops.trailing_moving_average(
                series, "value", order_by=("band",), width=2, out_col="sm"
            )
            .where(F.col("sm").isNotNull() & F.col("band").between(1, 4))
            .orderBy("band")
            .collect()
        )
        assert [(r.band, r.sm) for r in out] == [(3, 150.0), (4, 250.0)]

    def test_centered_w3(self, spark):
        series = zonal_series(_point(spark, ANNUAL, "float32_variable", 0, 0), "mean")
        out = (
            wops.centered_moving_average(
                series, "value", order_by=("band",), width=3, out_col="sm"
            )
            .where(F.col("sm").isNotNull() & F.col("band").between(1, 4))
            .orderBy("band")
            .collect()
        )
        assert [(r.band, r.sm) for r in out] == [(2, 200.0), (3, 300.0), (4, 400.0)]

    def test_centered_requires_odd_width(self, spark):
        series = zonal_series(_point(spark, ANNUAL, "float32_variable", 0, 0), "mean")
        with pytest.raises(ValueError):
            wops.centered_moving_average(series, "value", order_by=("band",), width=4)


class TestFullCube:
    def test_row_counts(self, spark):
        counts = dict(
            full_dev_cube(spark).groupBy("dataset_id").count().collect()
        )
        assert counts[ANNUAL] == 3 * 5 * 25  # 3 annual variables × 5 bands × 25 cells
        assert counts[MONTHLY] == 2 * 60 * 25
