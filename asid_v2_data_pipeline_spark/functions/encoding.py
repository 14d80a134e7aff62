"""Ice-type one-hot encoders as staged Spark projections.

Re-expresses /root/reference/asip_v2/hot_encoding_utils.py:10-145
(``ice_type``, ``one_hot_binary``, ``one_hot_continous``) as
``when``/``greatest`` column algebra, JVM-side, with no Python UDF.  The
encoders take a DataFrame with the reference's ``ct, ca, sa, cb, sb, cc,
sc`` columns and append ``oh0..oh3``.  They build the vector in staged
projections: ``ice_type`` once per (concentration, stage) pair, then the
per-type sums, then the winning ice type, then the 4 one-hot columns.
Each stage refers to the previous one's columns more than once, so
Catalyst keeps the projections apart.  Written as one fully inlined
expression, ``ice_type`` is repeated in every term and the generated Java
exceeds Janino's 64 KB method limit: the compile fails, Spark falls back
to interpreted evaluation, and since a failed compile is not cached every
query pays it again.

Bug-compatibility (SURVEY.md §7.3 item 2, guarded by ``strict``):

- ``one_hot_binary`` accumulates ``f[icetype-1]``; when ``ice_type(si) == 0``
  (ice-free) Python's ``f[-1]`` wraps to index 2 = multi-year
  (hot_encoding_utils.py:84-87).  ``strict=True`` reproduces the wrap;
  ``strict=False`` skips ice-free stages in the accumulation.
- ``one_hot_continous`` overwrites any accumulated index-0 mass with
  ``1 - sum(result[1:])`` (hot_encoding_utils.py:142-143) — inherent in the
  formula, reproduced exactly.
- np.argmax tie rule = first maximum; ``when`` chains naturally match it.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ONE_HOT = [f"oh{k}" for k in range(4)]
# (concentration, stage, staged ice type of that stage) per partial-ice pair
_PAIRS = (("ca", "sa", "_it_a"), ("cb", "sb", "_it_b"), ("cc", "sc", "_it_c"))


def ice_type(stage: Column) -> Column:
    """Stage-of-development -> ice-type index (C1).

    0 -> 0 (ice free), 81-85 -> 1 (young), 86-93 -> 2 (first-year),
    95-97 -> 3 (multi-year), anything else (incl. 94, >=98) -> NULL.
    Mirrors hot_encoding_utils.py:10-41 exactly.
    """
    return (
        F.when(stage == 0, F.lit(0))
        .when((stage >= 81) & (stage <= 85), F.lit(1))
        .when((stage >= 86) & (stage <= 93), F.lit(2))
        .when((stage >= 95) & (stage <= 97), F.lit(3))
    )  # no .otherwise -> NULL


def _with_ice_types(df: DataFrame) -> DataFrame:
    """Stage 1: ``ice_type(sa|sb|sc)`` once per pair."""
    return df.select("*", *[ice_type(F.col(s)).alias(it) for _, s, it in _PAIRS])


def _sum_pairs(term) -> Column:
    """Σ over the three pairs of ``term(concentration, ice_type)``."""
    return reduce(add, (term(F.col(c), F.col(it)) for c, _, it in _PAIRS))


def one_hot_binary(df: DataFrame, min_ct: int = 10, strict: bool = True) -> DataFrame:
    """Binary one-hot encode (C2): ``df`` + int columns ``oh0..oh3``.

    Semantics of hot_encoding_utils.py:44-95:
    ``ct < min_ct`` -> [1,0,0,0]; else accumulate partial concentrations into
    f by ice type; if ``max(f)==0`` fall back to ``ice_type(sa)`` (may be
    NULL -> all-zero vector) else ``argmax(f)+1`` (first max wins, as
    np.argmax); set result[icetype]=1.
    """

    def f(idx: int):
        # f[icetype-1]: icetype 1->f0, 2->f1, 3->f2 and, strict, the
        # ice-free icetype 0 wraps to f2 (hot_encoding_utils.py:84-87)
        def term(ci: Column, it: Column) -> Column:
            if idx == 2:
                hit = (it == 3) | (it == 0) if strict else it == 3
            else:
                hit = it == idx + 1
            return F.when((ci != -9) & hit, ci).otherwise(F.lit(0))

        return _sum_pairs(term).alias(f"_f{idx}")

    d = _with_ice_types(df).select("*", *[f(k) for k in range(3)])
    f0, f1, f2 = F.col("_f0"), F.col("_f1"), F.col("_f2")
    m = F.greatest(f0, f1, f2)
    d = d.select(
        "*",
        F.when(m == 0, F.col("_it_a"))
        .otherwise(F.when(f0 == m, F.lit(1)).when(f1 == m, F.lit(2)).otherwise(F.lit(3)))
        .alias("_icetype"),
    )
    low = F.col("ct") < min_ct
    d = d.select(
        "*",
        *[
            F.when(low, F.lit(1 if k == 0 else 0))
            .otherwise(F.when(F.col("_icetype") == k, F.lit(1)).otherwise(F.lit(0)))
            .cast("int")
            .alias(oh)
            for k, oh in enumerate(ONE_HOT)
        ],
    )
    return d.drop("_it_a", "_it_b", "_it_c", "_f0", "_f1", "_f2", "_icetype")


def one_hot_continous(df: DataFrame) -> DataFrame:
    """Concentration one-hot encode (C3): ``df`` + double columns ``oh0..oh3``.

    Semantics of hot_encoding_utils.py:98-145: accumulate ``ci/100`` into
    ``result[ice_type(si)]`` (ice-free index 0 included, no wrap here); if
    all accumulators are zero: ``result[0] = 1 - ct/100`` then, when
    ``ice_type(sa)`` is non-NULL, ``result[ice_type(sa)] = ct/100`` (which
    overwrites index 0 when sa is ice-free); otherwise
    ``result[0] = 1 - sum(result[1:])`` — overwriting any accumulated
    index-0 mass (the reference's quirk, kept verbatim).
    """

    def acc(k: int) -> Column:
        return _sum_pairs(
            lambda ci, it: F.when((ci != -9) & (it == k), ci / F.lit(100.0)).otherwise(F.lit(0.0))
        ).alias(f"_a{k}")

    d = _with_ice_types(df).select("*", *[acc(k) for k in range(4)])
    a0, a1, a2, a3 = (F.col(f"_a{k}") for k in range(4))
    allzero = F.greatest(a0, a1, a2, a3) == 0
    it_sa = F.col("_it_a")
    ctf = F.col("ct") / F.lit(100.0)
    r0 = F.when(
        allzero, F.when(it_sa == 0, ctf).otherwise(F.lit(1.0) - ctf)
    ).otherwise(F.lit(1.0) - (a1 + a2 + a3))
    rest = [
        F.when(allzero, F.when(it_sa == k, ctf).otherwise(F.lit(0.0))).otherwise(a)
        for k, a in ((1, a1), (2, a2), (3, a3))
    ]
    d = d.select("*", *[r.cast("double").alias(oh) for r, oh in zip([r0, *rest], ONE_HOT)])
    return d.drop("_it_a", "_it_b", "_it_c", "_a0", "_a1", "_a2", "_a3")


def encode_polygon_codes(codes_df: DataFrame, encoding: str = "binary", strict: bool = True):
    """Encode a polygon_codes DataFrame -> (scene, id, oh0..oh3).

    This is the broadcast build side of the polygon-decode join J1
    (reference: map built at archive.py:233-248, applied at
    archive.py:124-142).  Dispatch mirrors archive.py:241-245 (C4).
    """
    if encoding == "binary":
        enc = one_hot_binary(codes_df, strict=strict)
    elif encoding == "continous":  # misspelling is the reference API
        enc = one_hot_continous(codes_df)
    else:
        raise ValueError(f"unknown encoding {encoding!r}")
    return enc.select("scene", "id", *ONE_HOT)
