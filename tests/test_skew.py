"""Salted aggregation / replicated join correctness on a skewed key,
plus the giant-scene stress tests pinning SCALE.md's skew claims:
the patch path completes correctly under ~400x scene skew, and AQE's
skew-join split demonstrably engages when a scene-keyed join goes
sort-merge (runtime plan evidence, not prose)."""

from __future__ import annotations

import contextlib

from pyspark.sql import functions as F

from asid_v2_data_pipeline_spark.operators.skew import replicated_join, salted_sum


def _skewed_scene_pixels(spark, giant_side=320, small_side=32, n_small=4):
    """One scene with giant_side^2 pixels next to n_small scenes of
    small_side^2 — ~100x-400x the median, SCALE.md's 'single giant
    scene' case."""
    giant = (
        spark.range(giant_side * giant_side)
        .select(
            F.lit("S0").alias("scene"),
            (F.col("id") / giant_side).cast("int").alias("line"),
            (F.col("id") % giant_side).cast("int").alias("sample"),
            (F.col("id") % 251).cast("float").alias("sar_primary"),
        )
    )
    smalls = [
        spark.range(small_side * small_side).select(
            F.lit(f"S{i + 1}").alias("scene"),
            (F.col("id") / small_side).cast("int").alias("line"),
            (F.col("id") % small_side).cast("int").alias("sample"),
            (F.col("id") % 13).cast("float").alias("sar_primary"),
        )
        for i in range(n_small)
    ]
    out = giant
    for s in smalls:
        out = out.unionByName(s)
    return out


@contextlib.contextmanager
def _conf(spark, **kv):
    old = {}
    try:
        for k, v in kv.items():
            key = k.replace("__", ".")
            old[key] = spark.conf.get(key, None)
            spark.conf.set(key, v)
        yield
    finally:
        for key, v in old.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)


def test_patch_path_completes_under_giant_scene(spark):
    """The real patch path (tumbling assign -> NaN-free filter -> patch
    pixels) on the skewed fixture: correct patch counts for both the
    giant and the median scenes.  (scene, i, j) keys are fine-grained, so
    no single shuffle partition holds the giant scene — SCALE.md's first
    skew claim."""
    from asid_v2_data_pipeline_spark.operators.patching import (
        assign_tumbling,
        clean_patches,
        patch_pixels,
    )

    px = _skewed_scene_pixels(spark)
    w = 16
    t = assign_tumbling(px, w)
    keys = clean_patches(t, w, ["sar_primary"])
    out = patch_pixels(t, w, ["sar_primary"])
    per_scene = {
        r["scene"]: r["n"]
        for r in keys.groupBy("scene").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_scene["S0"] == (320 // w) ** 2  # 400 patches
    assert all(per_scene[f"S{i}"] == (32 // w) ** 2 for i in range(1, 5))
    assert out.count() == px.count()  # every pixel in exactly one patch


def test_aqe_splits_skewed_scene_join(spark):
    """When a scene-keyed join DOES go sort-merge (dimension too big to
    broadcast), AQE's skew split engages: the final adaptive plan marks
    the join skew=true and the result is correct — the runtime safety
    net SCALE.md promises, with plan evidence."""
    px = _skewed_scene_pixels(spark)
    # dims must be an independent table: OptimizeSkewedJoin only matches
    # SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) — a dim side derived
    # through an aggregation (extra node between sort and shuffle)
    # defeats the rule entirely.  That constraint is itself a scale
    # lesson: derived dimensions should be broadcast (as the pipeline
    # does) or materialized, or AQE's skew net silently can't catch them.
    dims = px.sparkSession.createDataFrame(
        [("S0", 320, 320)] + [(f"S{i}", 32, 32) for i in range(1, 5)],
        "scene string, h int, w int",
    )
    with _conf(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        },
    ):
        joined = px.join(dims, "scene").filter(
            (F.col("line") < F.col("h")) & (F.col("sample") < F.col("w"))
        )
        # run THIS DataFrame's execution to completion, then read its own
        # (now finalized) adaptive plan — a count() would plan separately
        n = len(joined.collect())
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert n == px.count()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, f"AQE skew split did not engage:\n{plan[:2000]}"


def _skewed(spark):
    # key 'hot' has 10k rows, others 10 each
    hot = spark.range(10_000).select(
        F.lit("hot").alias("k"), F.col("id").cast("double").alias("v")
    )
    cold = spark.range(10).select(
        F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").cast("double").alias("v")
    )
    return hot.unionByName(cold)


def test_salted_sum_matches_plain(spark):
    df = _skewed(spark)
    plain = {
        r["k"]: (r["s"], r["n"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    salted = {
        r["k"]: (r["sum_v"], r["n"]) for r in salted_sum(df, ["k"], ["v"]).collect()
    }
    assert salted == plain


def test_replicated_join_matches_plain(spark):
    fact = _skewed(spark)
    dim = spark.createDataFrame(
        [("hot", 1), ("c1", 2), ("c2", 3)], "k string, attr int"
    )
    plain = fact.join(dim, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.sum("attr").alias("s")
    )
    salted = replicated_join(fact, dim, "k", salt_buckets=4).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("attr").alias("s")
    )
    a = {r["k"]: (r["n"], r["s"]) for r in plain.collect()}
    b = {r["k"]: (r["n"], r["s"]) for r in salted.collect()}
    assert a == b


def test_salted_canvas_spreads_giant_scene(spark):
    """Round-5: the canvas join's dim side is agg-DERIVED, so AQE's
    OptimizeSkewedJoin can't split it; the explicit salted variant must
    (a) produce the identical canvas and (b) actually spread the giant
    scene's rows over multiple shuffle partitions."""
    from asid_v2_data_pipeline_spark.operators.stitch import build_canvas

    dims = spark.createDataFrame(
        [("S0", 320, 320)] + [(f"S{i}", 32, 32) for i in range(1, 5)],
        "scene string, height int, width int",
    )
    with _conf(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            # tiny fixture: AQE would coalesce everything to one
            # partition and mask the spread we are demonstrating
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        plain = build_canvas(dims, salt_buckets=0)
        salted = build_canvas(dims, salt_buckets=8)

        # (b) spread evidence: giant-scene canvas rows land in >1
        # partition when salted, exactly 1 when not
        def giant_parts(df):
            return (
                df.filter(F.col("scene") == "S0")
                .select(F.spark_partition_id().alias("p"))
                .distinct()
                .count()
            )

        assert giant_parts(plain) == 1
        assert giant_parts(salted) > 1

        # (a) identical canvas
        a = plain.groupBy("scene").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("line") * 1000 + F.col("sample")).alias("chk"),
        )
        b = salted.groupBy("scene").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("line") * 1000 + F.col("sample")).alias("chk"),
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_stitch_full_image_salted_equals_plain(spark):
    """End-to-end: stitch_full_image with salt_buckets produces the
    byte-identical reconstruction under the giant-scene fixture."""
    from asid_v2_data_pipeline_spark.operators.patching import (
        assign_tumbling,
        patch_pixels,
    )
    from asid_v2_data_pipeline_spark.operators.stitch import (
        stitch_full_image,
    )

    px = _skewed_scene_pixels(spark, giant_side=96, small_side=32)
    w = 16
    t = assign_tumbling(px, w)
    pp = patch_pixels(t, w, ["sar_primary"])
    plain = sorted(
        map(tuple, stitch_full_image(pp, w, value_col="sar_primary").collect())
    )
    salted = sorted(
        map(
            tuple,
            stitch_full_image(
                pp, w, value_col="sar_primary", salt_buckets=8
            ).collect(),
        )
    )
    assert plain == salted and len(plain) > 0
