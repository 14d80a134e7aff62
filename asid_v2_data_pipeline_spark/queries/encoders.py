"""Encoder queries (C1-C3) — the engine's column-expression encoders run
over stage/concentration columns derived from lineitem; the DuckDB oracle
is an independent SQL transliteration of the reference semantics
(/root/reference/asip_v2/hot_encoding_utils.py:10-145), so a hash match
checks the Spark expressions against a second implementation.

Derivation rules (identical arithmetic both sides; all inputs BIGINT so
``%`` behaves identically):
    ct = floor(l_quantity) % 101
    ca = -9 if l_partkey % 7 == 0 else l_partkey % 101
    sa = 94  if l_suppkey % 11 == 0 else (l_suppkey * 13) % 100
    cb/sb, cc/sc: same with other multipliers
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.encoding import ONE_HOT, ice_type, one_hot_binary, one_hot_continous
from ..schemas import load_table


def _derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: measured, left WITHOUT a _parallel repartition — the encoder
    # chains are codegen'd native expressions; shuffling 600K wide rows
    # cost more than the single-core evaluation it saved (c2
    # 0.66 -> 1.14 s in the in-situ A/B)
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor("l_quantity").cast("long") % 101).alias("ct"),
        F.when(F.col("l_partkey") % 7 == 0, F.lit(-9))
        .otherwise(F.col("l_partkey") % 101)
        .cast("long")
        .alias("ca"),
        F.when(F.col("l_suppkey") % 11 == 0, F.lit(94))
        .otherwise((F.col("l_suppkey") * 13) % 100)
        .cast("long")
        .alias("sa"),
        F.when(F.col("l_partkey") % 5 == 0, F.lit(-9))
        .otherwise((F.col("l_partkey") * 3) % 101)
        .cast("long")
        .alias("cb"),
        ((F.col("l_suppkey") * 29) % 100).cast("long").alias("sb"),
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(-9))
        .otherwise((F.col("l_orderkey") * 7) % 101)
        .cast("long")
        .alias("cc"),
        ((F.col("l_orderkey") * 31) % 100).cast("long").alias("sc"),
    )


_DERIVED_CTE = """
WITH d AS (
  SELECT l_orderkey, l_linenumber,
         CAST(FLOOR(l_quantity) AS BIGINT) % 101 AS ct,
         CASE WHEN l_partkey % 7 = 0 THEN -9 ELSE l_partkey % 101 END AS ca,
         CASE WHEN l_suppkey % 11 = 0 THEN 94 ELSE (l_suppkey * 13) % 100 END AS sa,
         CASE WHEN l_partkey % 5 = 0 THEN -9 ELSE (l_partkey * 3) % 101 END AS cb,
         (l_suppkey * 29) % 100 AS sb,
         CASE WHEN l_orderkey % 3 = 0 THEN -9 ELSE (l_orderkey * 7) % 101 END AS cc,
         (l_orderkey * 31) % 100 AS sc
  FROM lineitem
)
"""


def _it_sql(s: str) -> str:
    return (
        f"(CASE WHEN {s} = 0 THEN 0 WHEN {s} BETWEEN 81 AND 85 THEN 1 "
        f"WHEN {s} BETWEEN 86 AND 93 THEN 2 WHEN {s} BETWEEN 95 AND 97 THEN 3 END)"
    )


def c1_ice_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — stage -> ice-type index, counted per index (NULL = unmapped)."""
    d = _derived(spark, sf_dir)
    return (
        d.select(ice_type(F.col("sa")).alias("ice_idx"))
        .groupBy("ice_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("ice_idx").asc_nulls_first())
    )


C1_SQL = _DERIVED_CTE + f"""
SELECT {_it_sql('sa')} AS ice_idx, COUNT(*) AS n
FROM d
GROUP BY 1
ORDER BY ice_idx ASC NULLS FIRST
"""


def _f_sql(idx: int, strict: bool = True) -> str:
    """f[idx] accumulation; ``strict`` keeps the f[-1] wrap (icetype 0 -> f[2])."""
    terms = []
    for ci, si in (("ca", "sa"), ("cb", "sb"), ("cc", "sc")):
        it = _it_sql(si)
        if idx == 2:
            hit = f"({it} = 3 OR {it} = 0)" if strict else f"{it} = 3"
        else:
            hit = f"{it} = {idx + 1}"
        terms.append(f"CASE WHEN {ci} <> -9 AND {hit} THEN {ci} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def c2_one_hot_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — one_hot_binary over the derived columns; distribution of the
    4-vector (sum per component + count per vector)."""
    return (
        one_hot_binary(_derived(spark, sf_dir))
        .groupBy(*ONE_HOT)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(*ONE_HOT)
    )


def binary_sql(strict: bool = True) -> list[str]:
    """The oracle's one_hot_binary: SQL for oh0..oh3 over ct, ca..sc."""
    f0, f1, f2 = (_f_sql(k, strict) for k in range(3))
    it_sa = _it_sql("sa")
    icetype = (
        f"(CASE WHEN GREATEST({f0}, {f1}, {f2}) = 0 THEN {it_sa} "
        f"ELSE (CASE WHEN {f0} = GREATEST({f0}, {f1}, {f2}) THEN 1 "
        f"WHEN {f1} = GREATEST({f0}, {f1}, {f2}) THEN 2 ELSE 3 END) END)"
    )
    return [
        f"(CASE WHEN ct < 10 THEN {1 if k == 0 else 0} "
        f"ELSE (CASE WHEN {icetype} = {k} THEN 1 ELSE 0 END) END)"
        for k in range(4)
    ]


def _c2_sql() -> str:
    ohs = ", ".join(f"{oh} AS oh{k}" for k, oh in enumerate(binary_sql()))
    return _DERIVED_CTE + f"""
, enc AS (SELECT {ohs} FROM d)
SELECT oh0, oh1, oh2, oh3, COUNT(*) AS n
FROM enc GROUP BY 1, 2, 3, 4 ORDER BY oh0, oh1, oh2, oh3
"""


def c3_one_hot_continous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — one_hot_continous; per-component rounded sums (value-level
    check across all rows) + row count."""
    return one_hot_continous(_derived(spark, sf_dir)).agg(
        *[F.round(F.sum(oh), 4).alias(f"sum_r{k}") for k, oh in enumerate(ONE_HOT)],
        F.count(F.lit(1)).alias("n"),
    )


def _acc_sql(k: int) -> str:
    terms = []
    for ci, si in (("ca", "sa"), ("cb", "sb"), ("cc", "sc")):
        terms.append(
            f"CASE WHEN {ci} <> -9 AND {_it_sql(si)} = {k} THEN {ci} / 100.0 ELSE 0.0 END"
        )
    return "(" + " + ".join(terms) + ")"


def continous_sql() -> list[str]:
    """The oracle's one_hot_continous: SQL for r0..r3 over ct, ca..sc."""
    a = [_acc_sql(k) for k in range(4)]
    allzero = f"GREATEST({a[0]}, {a[1]}, {a[2]}, {a[3]}) = 0"
    it_sa = _it_sql("sa")
    r0 = (
        f"(CASE WHEN {allzero} THEN (CASE WHEN {it_sa} = 0 THEN ct / 100.0 "
        f"ELSE 1.0 - ct / 100.0 END) ELSE 1.0 - ({a[1]} + {a[2]} + {a[3]}) END)"
    )
    return [r0] + [
        f"(CASE WHEN {allzero} THEN (CASE WHEN {it_sa} = {k} THEN ct / 100.0 "
        f"ELSE 0.0 END) ELSE {a[k]} END)"
        for k in (1, 2, 3)
    ]


def _c3_sql() -> str:
    sel = ", ".join(f"{r} AS r{k}" for k, r in enumerate(continous_sql()))
    return _DERIVED_CTE + f"""
, enc AS (SELECT {sel} FROM d)
SELECT {', '.join(f'ROUND(SUM(r{k}), 4) AS sum_r{k}' for k in range(4))},
       COUNT(*) AS n
FROM enc
"""


def a7_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — np.argmax tie rule (first max, 1-based via array_position)
    over a derived 3-array."""
    li = load_table(spark, sf_dir, "part")
    arr = F.array(
        (F.col("p_size") % 7).cast("long"),
        (F.col("p_partkey") % 7).cast("long"),
        ((F.col("p_partkey") * 3) % 7).cast("long"),
    )
    return (
        li.select(
            F.array_position(arr, F.array_max(arr)).cast("int").alias("argmax_1based")
        )
        .groupBy("argmax_1based")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("argmax_1based")
    )


A7_SQL = """
WITH d AS (
  SELECT [p_size % 7, p_partkey % 7, (p_partkey * 3) % 7] AS arr
  FROM part
)
SELECT CAST(list_position(arr, list_max(arr)) AS INT) AS argmax_1based, COUNT(*) AS n
FROM d GROUP BY 1 ORDER BY argmax_1based
"""


REGISTRY = {
    "c1_ice_type": (c1_ice_type, C1_SQL),
    "c2_one_hot_binary": (c2_one_hot_binary, _c2_sql()),
    "c3_one_hot_continous": (c3_one_hot_continous, _c3_sql()),
    "a7_argmax": (a7_argmax, A7_SQL),
}
