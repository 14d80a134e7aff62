"""format("netcdf") Python DataSource (S1 idiomatic surface): equality
with the binaryFile+mapInPandas path, one-partition-per-file planning
and name pruning at planning time (sources/netcdf_datasource.py)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from asid_v2_data_pipeline_spark.sources.netcdf import read_scenes
from asid_v2_data_pipeline_spark.sources.netcdf_classic import write_classic
from asid_v2_data_pipeline_spark.sources.netcdf_datasource import (
    read_scenes_ds,
)

VARS = ["sar_primary", "sar_secondary"]


def _scene_payload(side: int = 4) -> bytes:
    grid = np.arange(side * side, dtype=np.float32).reshape(side, side)
    prim = grid.copy()
    prim[0, 0] = -999.0
    sec = grid * 2.0
    sec[1, 1] = 9.9692099683868690e36  # default NC_FLOAT fill
    return write_classic(
        {"line": side, "sample": side},
        {
            "sar_primary": (
                ("line", "sample"),
                prim,
                {"_FillValue": np.float32(-999.0)},
            ),
            "sar_secondary": (("line", "sample"), sec, {}),
        },
    )


def _write_scenes(tmp_path):
    files = {"20180410T084537_a.nc": 4, "20180110T120000_b.nc": 6}
    for name, side in files.items():
        (tmp_path / name).write_bytes(_scene_payload(side))
    return files


def _canon(df):
    return sorted(
        (r["scene"], r["var"], r["line"], r["sample"], r["value"])
        for r in df.collect()
    )


def test_datasource_matches_binaryfile_path(spark, tmp_path):
    _write_scenes(tmp_path)
    via_binary = read_scenes(spark, str(tmp_path), VARS)
    via_ds = read_scenes_ds(spark, str(tmp_path), VARS)
    assert via_ds.schema == via_binary.schema
    assert _canon(via_ds) == _canon(via_binary)


def test_one_partition_per_file(spark, tmp_path):
    _write_scenes(tmp_path)
    df = read_scenes_ds(spark, str(tmp_path), VARS)
    assert df.rdd.getNumPartitions() == 2


def test_names_prune_at_planning_time(spark, tmp_path):
    _write_scenes(tmp_path)
    df = read_scenes_ds(
        spark, str(tmp_path), VARS, names=["20180410T084537_a.nc"]
    )
    # pruning happens in partitions(): the excluded file yields no task
    assert df.rdd.getNumPartitions() == 1
    assert df.select("scene").distinct().collect()[0]["scene"] == "20180410T084537"
    assert df.count() == 2 * 16


def test_empty_selections_yield_empty_dataframe(spark, tmp_path):
    """No matching files (empty dir) and names=[] (select ZERO files —
    distinct from names=None meaning no filter) must both return an
    empty DataFrame, like the binaryFile path, not crash the scheduled
    empty-partitions task."""
    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_scenes_ds(spark, str(empty), VARS).count() == 0

    _write_scenes(tmp_path)
    assert read_scenes_ds(spark, str(tmp_path), VARS, names=[]).count() == 0
    assert read_scenes_ds(spark, str(tmp_path), VARS).count() > 0


def test_masked_values_surface_as_null(spark, tmp_path):
    _write_scenes(tmp_path)
    df = read_scenes_ds(spark, str(tmp_path), VARS)
    assert df.filter(F.col("value").isNull()).count() == 4  # 2 fills/file
    got = df.filter(
        (F.col("scene") == "20180410T084537")
        & (F.col("var") == "sar_primary")
        & (F.col("line") == 3)
        & (F.col("sample") == 3)
    ).collect()
    assert got[0]["value"] == 15.0

