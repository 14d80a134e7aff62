"""Differential tests: the engine's operators vs the reference
implementation executed directly (ground truth), over randomized inputs.

The reference at /root/reference is imported read-only as the oracle; these
tests are skipped where it isn't available.
"""

from __future__ import annotations

import random
import sys

import numpy as np
import pytest

REF = "/root/reference/asip_v2"


def _ref_encoders():
    sys.path.insert(0, REF)
    try:
        import hot_encoding_utils as h

        return h
    finally:
        sys.path.remove(REF)


try:
    href = _ref_encoders()
except ImportError:  # pragma: no cover
    href = None

needs_ref = pytest.mark.skipif(href is None, reason="reference not available")


def _random_code_rows(n: int, seed: int = 123):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        def conc():
            return rng.choice([-9, 0, 5, 10, 30, 40, 50, 80, 90, 92, 100])

        def stage():
            return rng.choice([-9, 0, 80, 81, 83, 85, 86, 90, 93, 94, 95, 96, 97, 98, 99])

        rows.append(
            (
                i,
                rng.choice([0, 5, 9, 10, 11, 50, 85, 92, 100]),  # ct
                conc(), stage(), 1,  # ca, sa, fa
                conc(), stage(), 2,  # cb, sb, fb
                conc(), stage(), 3,  # cc, sc, fc
            )
        )
    return rows


@needs_ref
def test_one_hot_binary_differential(spark):
    from asid_v2_data_pipeline_spark.functions.encoding import encode_polygon_codes
    from asid_v2_data_pipeline_spark.schemas import POLYGON_CODES

    rows = _random_code_rows(300)
    df = spark.createDataFrame([("s", r[0], *r[1:], "I") for r in rows], POLYGON_CODES)
    got = {
        r["id"]: [r["oh0"], r["oh1"], r["oh2"], r["oh3"]]
        for r in encode_polygon_codes(df, "binary", strict=True).collect()
    }
    for r in rows:
        pid, (ct, ca, sa, fa, cb, sb, fb, cc, sc, fc) = r[0], r[1:]
        exp = href.one_hot_binary(ct, ca, sa, fa, cb, sb, fb, cc, sc, fc)
        assert got[pid] == list(exp), f"row {r}: {got[pid]} != {exp}"


@needs_ref
def test_one_hot_continous_differential(spark):
    from asid_v2_data_pipeline_spark.functions.encoding import encode_polygon_codes
    from asid_v2_data_pipeline_spark.schemas import POLYGON_CODES

    rows = _random_code_rows(300, seed=321)
    df = spark.createDataFrame([("s", r[0], *r[1:], "I") for r in rows], POLYGON_CODES)
    got = {
        r["id"]: [r["oh0"], r["oh1"], r["oh2"], r["oh3"]]
        for r in encode_polygon_codes(df, "continous").collect()
    }
    for r in rows:
        pid, (ct, ca, sa, fa, cb, sb, fb, cc, sc, fc) = r[0], r[1:]
        exp = href.one_hot_continous(ct, ca, sa, fa, cb, sb, fb, cc, sc, fc)
        assert got[pid] == pytest.approx(list(exp), abs=1e-9), f"row {r}"


def _tie_rows(start: int):
    """Rows whose per-type sums tie (np.argmax takes the first maximum)."""
    return [
        (start, 50, 40, 83, 1, 40, 88, 2, -9, 0, 3),  # f0 == f1
        (start + 1, 50, 40, 86, 1, 40, 96, 2, 5, 99, 3),  # f1 == f2
        (start + 2, 50, 30, 81, 1, 30, 90, 2, 30, 95, 3),  # f0 == f1 == f2
        (start + 3, 50, 20, 0, 1, 20, 97, 2, 0, 94, 3),  # strict wrap: f2 doubled
    ]


@pytest.mark.parametrize(
    "encoding,strict,seed",
    [("binary", True, 11), ("binary", False, 12), ("continous", True, 13)],
)
def test_encoder_matches_duckdb_oracle(spark, encoding, strict, seed):
    """Per row, the engine encoder against DuckDB evaluating the oracle's
    own CASE text (queries.encoders) on the same seeded rows."""
    import duckdb
    import pandas as pd

    from asid_v2_data_pipeline_spark.functions.encoding import encode_polygon_codes
    from asid_v2_data_pipeline_spark.queries.encoders import binary_sql, continous_sql
    from asid_v2_data_pipeline_spark.schemas import POLYGON_CODES

    rows = _random_code_rows(400, seed=seed)
    rows += _tie_rows(len(rows))
    df = spark.createDataFrame([("s", r[0], *r[1:], "I") for r in rows], POLYGON_CODES)
    got = {
        r["id"]: [r["oh0"], r["oh1"], r["oh2"], r["oh3"]]
        for r in encode_polygon_codes(df, encoding, strict=strict).collect()
    }
    codes = pd.DataFrame(  # noqa: F841 (read by the DuckDB query below)
        rows, columns=["id", "ct", "ca", "sa", "fa", "cb", "sb", "fb", "cc", "sc", "fc"]
    )
    ohs = binary_sql(strict) if encoding == "binary" else continous_sql()
    sel = ", ".join(f"{oh} AS oh{k}" for k, oh in enumerate(ohs))
    exp = {
        r[0]: list(r[1:]) for r in duckdb.sql(f"SELECT id, {sel} FROM codes").fetchall()
    }
    assert got.keys() == exp.keys()
    for pid in exp:
        assert got[pid] == pytest.approx(exp[pid], abs=1e-9), f"row {rows[pid]}"


@needs_ref
def test_ice_type_differential(spark):
    from pyspark.sql import functions as F

    from asid_v2_data_pipeline_spark.functions.encoding import ice_type

    stages = list(range(-10, 120))
    df = spark.createDataFrame([(s,) for s in stages], "stage int")
    got = {
        r["stage"]: r["it"]
        for r in df.select("stage", ice_type(F.col("stage")).alias("it")).collect()
    }
    for s in stages:
        assert got[s] == href.ice_type(s), f"stage {s}"


def test_decimation_differential(spark):
    """Engine decimate vs the reference resize semantics (slice + edge
    drop) over random shapes/steps."""
    from asid_v2_data_pipeline_spark.operators.resize import decimate

    rng = np.random.RandomState(7)
    for _ in range(6):
        n = int(rng.randint(4, 12))
        step = int(rng.randint(1, 4))
        arr = rng.randint(0, 100, size=(n, n)).astype(float)

        # reference semantics (archive.py:40-48)
        ref = arr[::step, ::step]
        if step != 1 and ref.shape[0] % step:
            ref = ref[:-1, :-1]

        rows = [
            ("s", i, j, float(v))
            for i, row in enumerate(arr)
            for j, v in enumerate(row)
        ]
        df = spark.createDataFrame(rows, "scene string, line int, sample int, value double")
        out = decimate(df, step, n, row="line", col="sample").collect()
        got = np.full(ref.shape, np.nan)
        for r in out:
            got[r["line"], r["sample"]] = r["value"]
        np.testing.assert_equal(got, ref), (n, step)


def test_avgpool_differential_dividable():
    """Block-mean == reference uniform_filter+decimate for step | size."""
    from asid_v2_data_pipeline_spark.operators.resize import uniform_filter_parity

    rng = np.random.RandomState(11)
    for size, step in [(8, 2), (12, 3), (16, 4)]:
        arr = rng.rand(size, size)
        ref = uniform_filter_parity(arr, step, -(step // 2))[::step, ::step]
        blocks = arr.reshape(size // step, step, size // step, step).mean(axis=(1, 3))
        np.testing.assert_allclose(ref, blocks, rtol=1e-12)
