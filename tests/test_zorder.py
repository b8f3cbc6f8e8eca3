"""Z-order clustering: ``sources/layout`` has no registered caller, so
these tests are its only contract. They pin the layout-theoretic
guarantees: the interleave matches a Python bit-reference, quadtree
cells bound BOTH dimensions, and a z-ordered file layout beats a
1-D-sorted layout on two-dimensional file pruning (the reason the
technique exists)."""

import pytest
from pyspark.sql import functions as F

from keras_ocr_spark.sources import layout as L


def _py_z(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@pytest.fixture(scope="module")
def grid(spark):
    # Deterministic 96x96 grid: uniform in both dims.
    rows = [(x * 7 % 96, y * 11 % 96) for x in range(96) for y in range(96)]
    return spark.createDataFrame(rows, "x long, y long")


class TestZOrder:
    def test_interleave_matches_python_reference(self, spark):
        vals = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]
        df = spark.createDataFrame(vals, "x long, y long")
        got = df.select("x", "y", L.zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
        for r in got:
            assert r.z == _py_z(r.x, r.y), (r.x, r.y)

    def test_cells_bound_both_dimensions(self, spark, grid):
        k = 4
        stats = L.zcell_stats(grid, "x", "y", cell_bits=k).collect()
        bound = 1 << (16 - k)
        for r in stats:
            assert r.max_x - r.min_x < bound
            assert r.max_y - r.min_y < bound

    def test_zorder_files_prune_in_both_dims(self, spark, grid, tmp_path):
        # Write the same data z-ordered and x-sorted into 16 files each
        # (16 = a 4x4 quadtree grid, so z cells are square), then
        # measure what min/max footer pruning would read for every
        # possible single-value predicate on EACH dimension. The x-sort
        # is optimal for x-predicates but reads ALL files for any
        # y-predicate; z-order pays a little on x to stay sublinear on
        # BOTH — its worst dimension must beat x-sort's worst (= every
        # file) by 2x. That asymmetry is the whole point of the layout.
        zdir, xdir = str(tmp_path / "z"), str(tmp_path / "x")
        L.zorder_write(grid, zdir, "x", "y", n_files=16)
        (
            grid.repartitionByRange(16, "x")
            .sortWithinPartitions("x")
            .write.mode("overwrite")
            .parquet(xdir)
        )

        def footer_ranges(path):
            per_file = (
                spark.read.parquet(path)
                .groupBy(F.input_file_name().alias("f"))
                .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
                .collect()
            )
            assert len(per_file) >= 4  # layout actually split into files
            return per_file

        def avg_files_hit(ranges, lo_col, hi_col):
            hits = [
                sum(1 for r in ranges if r[lo_col] <= v <= r[hi_col])
                for v in range(96)
            ]
            return sum(hits) / len(hits)

        z_r, x_r = footer_ranges(zdir), footer_ranges(xdir)
        z_worst = max(avg_files_hit(z_r, "min(x)", "max(x)"), avg_files_hit(z_r, "min(y)", "max(y)"))
        x_worst = max(avg_files_hit(x_r, "min(x)", "max(x)"), avg_files_hit(x_r, "min(y)", "max(y)"))
        assert z_worst * 2 < x_worst, (z_worst, x_worst)

    def test_validation(self, spark, grid):
        with pytest.raises(ValueError):
            L.zcell_stats(grid, "x", "y", cell_bits=0)
