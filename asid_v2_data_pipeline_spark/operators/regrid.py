"""J4 — AMSR2→SAR bilinear regrid as a Spark-first neighbor join.

The reference (/root/reference/asip_v2/archive.py:250-263) builds target
coordinates ``step/2 + k*step`` over the SAR extent and evaluates a
``RegularGridInterpolator((line, sample), x, bounds_error=False,
fill_value=None)`` — bilinear interpolation with *linear extrapolation*
outside the coarse grid (fill_value=None ⇒ extrapolate from the edge
segment).

Spark-first design (no SciPy, no UDF):

1. per scene+axis, collect the sorted coarse coordinates into one array row
   (a few hundred values — tiny) and compute, for every target coordinate,
   the bracketing segment index via a broadcast **range join**
   (``c_k <= t < c_{k+1}``, clamped to the edge segments for extrapolation);
2. explode each target point into its 4 corner keys and join the coarse
   pixel values once (broadcast — the coarse side is small relative to SAR);
3. bilinear value = Σ corner_weight · corner_value, where the axis weight
   ``w = (t - c_k)/(c_{k+1} - c_k)`` may lie outside [0,1] (that *is* the
   extrapolation).  Any NULL corner ⇒ NULL result (RegularGridInterpolator
   propagates NaN).

At 100 TB: the coarse table is ~(1/resample_step²) of the SAR table; both
joins broadcast the small side, so the op is a scan + two broadcast joins +
one groupBy on the target key — no wide shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _axis_segments(amsr2: DataFrame, coord: str, idx: str, out_prefix: str) -> DataFrame:
    """Distinct (scene, segment) rows: [c_k, c_{k+1}) with index k, plus the
    segment count so edge segments can extrapolate."""
    ax = amsr2.select("scene", F.col(idx).alias(f"{out_prefix}_k"), F.col(coord).alias(f"{out_prefix}_c")).distinct()
    n = ax.groupBy("scene").agg(F.max(f"{out_prefix}_k").alias(f"{out_prefix}_kmax"))
    nxt = ax.select(
        "scene",
        (F.col(f"{out_prefix}_k") - 1).alias(f"{out_prefix}_k"),
        F.col(f"{out_prefix}_c").alias(f"{out_prefix}_c1"),
    )
    seg = (
        ax.join(F.broadcast(nxt), ["scene", f"{out_prefix}_k"], "inner")
        .join(F.broadcast(n), "scene")
    )
    return seg  # columns: scene, k, c (lower coord), c1 (upper coord), kmax


def target_points(spark, scenes_dims: DataFrame, resample_step: int) -> DataFrame:
    """Target SAR-grid coordinates ``step/2 + k*step`` per axis
    (archive.py:255-256).  ``scenes_dims``: (scene, height, width)."""
    half = int(resample_step / 2)
    tl = scenes_dims.select(
        "scene",
        F.posexplode(
            F.sequence(F.lit(half), F.col("height") - 1, F.lit(resample_step))
        ).alias("ti", "tline"),
    )
    ts = scenes_dims.select(
        "scene",
        F.posexplode(
            F.sequence(F.lit(half), F.col("width") - 1, F.lit(resample_step))
        ).alias("tj", "tsample"),
    )
    # full target grid per scene; the sample-axis list is tiny (width/step
    # rows per scene) -> broadcast instead of shuffling both sides
    return tl.join(F.broadcast(ts), "scene")


def bilinear_regrid(
    amsr2: DataFrame,
    targets: DataFrame,
    value_col: str = "btemp",
) -> DataFrame:
    """Interpolate every channel of ``amsr2`` onto ``targets``.

    ``amsr2``: (scene, ch, aline, asample, line, sample, btemp) — coarse
    cells with their SAR-grid coordinates.  ``targets``: (scene, ti, tj,
    tline, tsample).  Returns (scene, ch, ti, tj, value).
    """
    lseg = _axis_segments(amsr2, "line", "aline", "l")
    sseg = _axis_segments(amsr2, "sample", "asample", "s")

    # bracketing segment per target coordinate; clamp to edge segments for
    # extrapolation (fill_value=None semantics)
    t = targets.join(F.broadcast(lseg), "scene").filter(
        (
            (F.col("tline") >= F.col("l_c")) & (F.col("tline") < F.col("l_c1"))
        )
        | ((F.col("l_k") == 0) & (F.col("tline") < F.col("l_c")))
        | ((F.col("l_k") == F.col("l_kmax") - 1) & (F.col("tline") >= F.col("l_c1")))
    )
    t = t.join(F.broadcast(sseg), "scene").filter(
        (
            (F.col("tsample") >= F.col("s_c")) & (F.col("tsample") < F.col("s_c1"))
        )
        | ((F.col("s_k") == 0) & (F.col("tsample") < F.col("s_c")))
        | (
            (F.col("s_k") == F.col("s_kmax") - 1)
            & (F.col("tsample") >= F.col("s_c1"))
        )
    )
    # 4 corners per target point, (dl, ds) in (0,0), (0,1), (1,0), (1,1)
    # order; axis weight of the lower corner is 1 - w, of the upper w
    corners = t.select(
        "scene",
        "ti",
        "tj",
        F.col("l_k"),
        F.col("s_k"),
        ((F.col("tline") - F.col("l_c")) / (F.col("l_c1") - F.col("l_c"))).alias("wl"),
        ((F.col("tsample") - F.col("s_c")) / (F.col("s_c1") - F.col("s_c"))).alias("ws"),
        F.expr("stack(4, 0, 0, 0, 1, 1, 0, 1, 1)").alias("dl", "ds"),
    )
    corners = corners.select(
        "scene",
        "ti",
        "tj",
        (F.col("l_k") + F.col("dl")).alias("aline"),
        (F.col("s_k") + F.col("ds")).alias("asample"),
        (
            F.when(F.col("dl") == 0, 1 - F.col("wl")).otherwise(F.col("wl"))
            * F.when(F.col("ds") == 0, 1 - F.col("ws")).otherwise(F.col("ws"))
        ).alias("w"),
    )

    # corners is target-grid-sized (big); the coarse values are
    # 1/resample_step² of it — broadcast them so the big side never shuffles
    vals = amsr2.select("scene", "ch", "aline", "asample", F.col(value_col).alias("_v"))
    joined = corners.join(F.broadcast(vals), ["scene", "aline", "asample"], "inner")

    out = joined.groupBy("scene", "ch", "ti", "tj").agg(
        F.sum(F.col("w") * F.col("_v")).alias("_num"),
        F.max(F.col("_v").isNull().cast("int")).alias("_has_null"),
        F.count(F.lit(1)).alias("_n"),
    )
    # NaN corners propagate (RegularGridInterpolator on NaN data -> NaN)
    return out.select(
        "scene",
        "ch",
        "ti",
        "tj",
        F.when((F.col("_has_null") == 1) | (F.col("_n") < 4), F.lit(None)).otherwise(
            F.col("_num")
        ).alias("value"),
    )
