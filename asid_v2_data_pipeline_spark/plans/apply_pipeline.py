"""Apply-path pipeline (SURVEY.md §3.3) — the Spark shape of
/root/reference/asip_v2/apply_model.py:20-83:

    patch corpus (per scene) -> B2 pivot -> B4 inference (mapInPandas)
    -> W8 stitch -> S8 reconstruction sink

The reference forces percentage=1.0 and no shuffle on this path
(apply_model.py:137-141) — here that is simply "no split, no shuffle".
Scene-partitioned input gives per-scene micro-batches (T2) via partition
pruning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..config import PipelineConfig
from ..operators.batching import pivot_patches, predict_batches
from ..operators.stitch import stitch_full_image


def apply_model(
    patch_px: DataFrame,
    cfg: PipelineConfig,
    input_vars: list[str],
    model_fn: Callable | None = None,
    fill: float = 0.0,
) -> DataFrame:
    """Inference + reconstruction -> (scene, line, sample, value)."""
    piv = pivot_patches(patch_px, input_vars, cfg.window_sar)
    pred = predict_batches(piv, input_vars, cfg.window_sar, model_fn)
    return stitch_full_image(
        pred,
        cfg.window_sar,
        fill=fill,
        bug_compatible_size=cfg.strict_reference_semantics,
    )

