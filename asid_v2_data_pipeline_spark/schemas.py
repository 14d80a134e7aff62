"""StructType catalog for the engine's canonical tables.

Replaces the reference's schema-by-convention + runtime probing
(`/root/reference/asip_v2/archive.py:205-221` health check,
`/root/reference/asip_v2/train_model.py:59-67` "open the first npz" dims
probe) with explicit schemas.  Masked pixels are SQL NULL (the reference
conflates mask and NaN at `archive.py:20`).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- domain tables (SURVEY.md §1.4) -----------------------------------------

SCENES = T.StructType(
    [
        T.StructField("scene", T.StringType(), False),
        T.StructField("path", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("aoi_ul_sample", T.IntegerType(), True),
        T.StructField("aoi_lr_sample", T.IntegerType(), True),
        T.StructField("aoi_ul_line", T.IntegerType(), True),
        T.StructField("aoi_lr_line", T.IntegerType(), True),
        T.StructField("rm_swath", T.IntegerType(), True),
        T.StructField("has_icechart", T.BooleanType(), True),
        T.StructField("has_amsr2", T.BooleanType(), True),
    ]
)

SAR_PIXELS = T.StructType(
    [
        T.StructField("scene", T.StringType(), False),
        T.StructField("line", T.IntegerType(), False),
        T.StructField("sample", T.IntegerType(), False),
        T.StructField("sar_primary", T.FloatType(), True),  # NULL = masked
        T.StructField("sar_secondary", T.FloatType(), True),
        T.StructField("distance_map", T.FloatType(), True),
    ]
)

ICECHART_PIXELS = T.StructType(
    [
        T.StructField("scene", T.StringType(), False),
        T.StructField("line", T.IntegerType(), False),
        T.StructField("sample", T.IntegerType(), False),
        T.StructField("polygon_id", T.IntegerType(), True),  # NULL = outside chart
    ]
)

# header pinned at /root/reference/asip_v2/tests/test_archive.py:287-289
# id;CT;CA;SA;FA;CB;SB;FB;CC;SC;FC (-9 = "no value")
POLYGON_CODES = T.StructType(
    [
        T.StructField("scene", T.StringType(), False),
        T.StructField("id", T.IntegerType(), False),
        T.StructField("ct", T.IntegerType(), True),
        T.StructField("ca", T.IntegerType(), True),
        T.StructField("sa", T.IntegerType(), True),
        T.StructField("fa", T.IntegerType(), True),
        T.StructField("cb", T.IntegerType(), True),
        T.StructField("sb", T.IntegerType(), True),
        T.StructField("fb", T.IntegerType(), True),
        T.StructField("cc", T.IntegerType(), True),
        T.StructField("sc", T.IntegerType(), True),
        T.StructField("fc", T.IntegerType(), True),
        T.StructField("poly_type", T.StringType(), True),
    ]
)

AMSR2_PIXELS = T.StructType(
    [
        T.StructField("scene", T.StringType(), False),
        T.StructField("ch", T.StringType(), False),  # e.g. 'btemp_6.9h'
        T.StructField("aline", T.IntegerType(), False),
        T.StructField("asample", T.IntegerType(), False),
        T.StructField("line", T.DoubleType(), True),  # SAR-grid coordinate
        T.StructField("sample", T.DoubleType(), True),
        T.StructField("btemp", T.FloatType(), True),
    ]
)

LEDGER = T.StructType([T.StructField("name", T.StringType(), False)])

# --- driver testdata tables (TESTDATA.md) ------------------------------------


def load_table(spark, sf_dir: str, name: str):
    """Load one driver testdata table; Parquet gives column pruning +
    predicate pushdown for free.

    events.ts has varied across driver testdata generations: TIMESTAMP(NANOS)
    (Spark reads it as long under legacy.parquet.nanosAsLong; we divide to
    micros — integer division keeps it exact, ns epoch values overflow double
    precision) or plain no-tz timestamp[us] (Spark 4 infers TIMESTAMP_NTZ; we
    cast to TIMESTAMP, which under the UTC session zone is value-identical to
    what DuckDB reads).  Either way downstream queries see one stable type:
    TIMESTAMP, microsecond precision, UTC semantics.

    Both confs are set defensively at read time: the harness may run these
    queries in a session it built itself (without session.py's defaults),
    and timestamp formatting/oracle parity depend on them."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")

    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

