"""The build-path pipeline (SURVEY.md §3.1) — Spark shape of
/root/reference/asip_v2/build_dataset.py + archive.py:294-303:

    scenes → F2 health filter
    polygon_codes → C1-C3 encode → J1 broadcast decode join onto icechart
    amsr2 → J4 bilinear regrid onto the SAR grid
    all vars → W1 tumbling patch assignment → F3 NaN-free filter
    → J2 align variables → partitioned patch sink (S6) + ledger (S4)

Everything is lazy until the sink; Catalyst orders the filters/pruning.
The patch table is written partitioned by scene — at 100 TB that layout
gives partition pruning for the per-scene apply path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.encoding import encode_polygon_codes
from ..operators.filters import healthy_scenes
from ..operators.patching import (
    align_variables,
    assign_sliding,
    assign_tumbling,
    clean_patches,
)
from ..operators.regrid import bilinear_regrid, target_points


def decode_icechart(icechart_px: DataFrame, codes: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """J1 — broadcast decode join: every pixel's polygon_id -> 4-vector.

    Unmatched ids stay NULL (reference: stays NaN, archive.py:133).
    The build side is dozens of rows per scene -> broadcast hash join."""
    enc = encode_polygon_codes(
        codes, cfg.encoding, strict=cfg.strict_reference_semantics
    )
    return icechart_px.join(
        F.broadcast(enc),
        (icechart_px.scene == enc.scene) & (icechart_px.polygon_id == enc.id),
        "left",
    ).select(
        icechart_px.scene,
        "line",
        "sample",
        "oh0",
        "oh1",
        "oh2",
        "oh3",
    )


def build_patches(
    scenes: DataFrame,
    sar_px: DataFrame,
    icechart_px: DataFrame,
    codes: DataFrame,
    amsr2_px: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """Full build path -> clean aligned patch keys + per-variable pixels.

    Returns the long-form patch-pixel DataFrame (scene, i, j, var, prow,
    pcol, value) for all variables that survived F3+J2.
    """
    w = cfg.window_sar
    stride = cfg.stride_sar
    tumbling = stride == w
    ok_scenes = healthy_scenes(scenes, w).select("scene")

    sar = sar_px.join(ok_scenes, "scene", "left_semi")
    ice = icechart_px.join(ok_scenes, "scene", "left_semi")
    # SAR extent per scene: sliding patch bounds and the regrid's targets
    dims = sar.groupBy("scene").agg(
        (F.max("line") + 1).alias("height"), (F.max("sample") + 1).alias("width")
    )

    # J1 decode
    decoded = decode_icechart(ice, codes, cfg)

    # W1 (tumbling: pure arithmetic; sliding: explode duplication) + F3
    if tumbling:
        sar_t = assign_tumbling(sar, w)
        out_t = assign_tumbling(decoded, w)
    else:
        sdims = F.broadcast(dims)
        sar_t = assign_sliding(
            sar.join(sdims, "scene"), w, stride, F.col("height"), F.col("width")
        ).drop("height", "width")
        out_t = assign_sliding(
            decoded.join(sdims, "scene"), w, stride, F.col("height"), F.col("width")
        ).drop("height", "width")

    sar_keys = clean_patches(sar_t, w, ["sar_primary", "sar_secondary"])
    out_keys = clean_patches(out_t, w, ["oh0", "oh1", "oh2", "oh3"])

    # J4 regrid (AMSR2 on its own window grid = w / resample_step)
    spark = sar_px.sparkSession
    tgt = target_points(spark, dims, cfg.resample_step_amsr2)
    regridded = bilinear_regrid(amsr2_px.join(ok_scenes, "scene", "left_semi"), tgt)
    w2 = cfg.window_amsr2
    s2 = cfg.stride_amsr2
    amsr_t = regridded.withColumnsRenamed({"ti": "line", "tj": "sample"})
    if tumbling:
        amsr_t = assign_tumbling(amsr_t, w2)
    else:
        adims = amsr_t.groupBy("scene").agg(
            (F.max("line") + 1).alias("_h"), (F.max("sample") + 1).alias("_w")
        )
        amsr_t = assign_sliding(
            amsr_t.join(F.broadcast(adims), "scene"), w2, s2, F.col("_h"), F.col("_w")
        ).drop("_h", "_w")
    # F3 for amsr2: every channel fully populated
    amsr_pivot = (
        amsr_t.groupBy("scene", "i", "j")
        .agg(
            F.count("value").alias("_n_nonnull"),
            (F.count(F.lit(1))).alias("_n"),
            F.countDistinct("ch").alias("_nch"),
        )
        .filter(
            (F.col("_n_nonnull") == F.col("_n"))
            & (F.col("_n") == F.col("_nch") * w2 * w2)
        )
        .select("scene", "i", "j")
    )

    # J2 alignment across variable groups; the aligned keys are a subset of
    # every group's clean keys, so one semi-join per group keeps its patches
    aligned = align_variables(sar_keys, out_keys, amsr_pivot)

    # long-form patch pixels (scene, i, j, var, value, prow, pcol) per group
    def long_form(patched: DataFrame, s: int, *var_value: str) -> DataFrame:
        return patched.join(aligned, ["scene", "i", "j"], "left_semi").selectExpr(
            "scene", "i", "j", *var_value, f"line - i * {s} as prow", f"sample - j * {s} as pcol"
        )

    sar_long = long_form(
        sar_t,
        stride,
        "stack(2, 'nersc_sar_primary', sar_primary, 'nersc_sar_secondary', sar_secondary)"
        " as (var, value)",
    )
    out_long = long_form(
        out_t,
        stride,
        "stack(4, 'ice_type_0', oh0, 'ice_type_1', oh1, 'ice_type_2', oh2, 'ice_type_3', oh3)"
        " as (var, value)",
    )
    amsr_long = long_form(amsr_t, s2, r"regexp_replace(ch, '\\.', '_') as var", "value")  # C8
    return (
        sar_long.unionByName(out_long)
        .unionByName(amsr_long)
        .select("scene", "i", "j", "var", "prow", "pcol", "value")
    )


def write_patch_sink(patch_px: DataFrame, out_dir: str) -> None:
    """S6 — partitioned patch sink (one parquet partition per scene;
    replaces one-npz-per-patch)."""
    patch_px.write.mode("overwrite").partitionBy("scene").parquet(out_dir)


def write_patch_table_bucketed(
    patch_px: DataFrame,
    table: str,
    num_buckets: int = 64,
    path: str | None = None,
) -> None:
    """S6 scale variant — the patch table bucketed AND sorted by
    ``(scene, i, j)`` via ``saveAsTable``.

    Downstream ``pivot_patches`` / ``assemble_batches`` group on exactly
    these keys: a bucketed scan reports ``HashPartitioning(scene, i, j)``,
    which satisfies the aggregations' clustering requirement, so the
    pivot runs with NO Exchange at all — at 100 TB that removes the one
    big shuffle of the feeding path.  Works against any warehouse
    (in-memory catalog locally, Hive metastore on a cluster); ``path``
    makes it an external table."""
    w = (
        patch_px.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, "scene", "i", "j")
        .sortBy("scene", "i", "j")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
