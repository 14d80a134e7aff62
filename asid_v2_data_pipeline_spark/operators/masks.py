"""Old-API mask pipeline (SURVEY.md §2.2 F4/F5, §2.4 W6/W7).

The reference's older generation computes an explicit boolean mask instead
of the NaN-skip filter.  Composition order pinned at
/root/reference/asip_v2/tests/test_archive.py:397-414 (``calculate_mask``):

    sar_mask  = OR(sar vars masked, icechart masked, distance < threshold)
    amsr_mask = amsr2 mask upsampled by aspect_ratio
    padded    = pad sar_mask (centered, constant True) to amsr-upsampled size
    full_mask = mask_or(padded, amsr_mask)
    amsr2_sized_mask = any-pool downsample of full_mask

In the long-form pixel model a mask is just a boolean column, so OR / pad /
downsample are column ops — no data movement beyond one groupBy for the
downsample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sar_size_mask(
    sar_cols: list[str],
    icechart_col: str = "polygon_id",
    distance_col: str = "distance_map",
    distance_threshold: int | None = None,
) -> Column:
    """F4+F5 — union of per-variable masks plus the distance-to-land test
    (get_the_mask_of_sar_size_data, pinned tests/test_archive.py:305-326).

    NULL = masked (the engine's convention for the reference's masked/NaN
    pixels), so ``IS NULL`` is the per-variable mask.
    """
    m = F.col(icechart_col).isNull()
    for c in sar_cols:
        m = m | F.col(c).isNull()
    if distance_threshold is not None:
        m = m | (F.col(distance_col) < F.lit(distance_threshold))
    return m


def upsample_mask(
    df: DataFrame,
    factor: int,
    mask_col: str = "mask",
    row: str = "line",
    col: str = "sample",
) -> DataFrame:
    """Upsample a coarse mask by ``factor`` (get_the_mask_of_amsr2_data,
    pinned tests/test_archive.py:328-343 — np.kron-style block repeat).

    explode(sequence) of the within-block offsets: factor² rows out per row
    in, pure narrow op after the explode.
    """
    offs = F.sequence(F.lit(0), F.lit(factor - 1))
    out = (
        df.withColumn("_dr", F.explode(offs))
        .withColumn("_dc", F.explode(offs))
        .withColumn(row, F.col(row) * factor + F.col("_dr"))
        .withColumn(col, F.col(col) * factor + F.col("_dc"))
        .drop("_dr", "_dc")
    )
    return out


def combine_masks(padded_sar_mask: Column, amsr_mask: Column) -> Column:
    """F5 — ``np.ma.mask_or`` composition (calculate_mask order pinned at
    tests/test_archive.py:397-414)."""
    return padded_sar_mask | amsr_mask
