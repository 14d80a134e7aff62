"""The encoder and the build path compile as generated code.

With ``spark.sql.codegen.fallback=false`` a failed Janino compile raises
instead of silently falling back to interpreted evaluation.  A failed
compile is never cached, so a fallback there would be paid again on every
op.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from asid_v2_data_pipeline_spark import fixtures
from asid_v2_data_pipeline_spark.config import PipelineConfig
from asid_v2_data_pipeline_spark.functions.encoding import encode_polygon_codes
from asid_v2_data_pipeline_spark.plans.build_pipeline import build_patches


@contextmanager
def no_codegen_fallback(spark):
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize(
    "encoding,strict", [("binary", True), ("binary", False), ("continous", True)]
)
def test_encoder_compiles(spark, encoding, strict):
    with no_codegen_fallback(spark):
        rows = encode_polygon_codes(
            fixtures.polygon_codes(spark), encoding, strict=strict
        ).collect()
    assert len(rows) == fixtures.polygon_codes(spark).count()


def test_build_patches_compiles(spark):
    cfg = PipelineConfig(window_sar=8, stride_sar=8, window_amsr2=2)
    with no_codegen_fallback(spark):
        px = build_patches(
            fixtures.scenes(spark),
            fixtures.sar_pixels(spark),
            fixtures.icechart_pixels(spark),
            fixtures.polygon_codes(spark),
            fixtures.amsr2_pixels(spark),
            cfg,
        )
        counts = {r["var"]: r["count"] for r in px.groupBy("var").count().collect()}
    assert counts["nersc_sar_primary"] == 832
    assert counts["ice_type_0"] == 832
