"""2-D patch (window) operators — the reference's core "window functions".

Re-expresses ``view_as_windows``-based patch extraction
(/root/reference/asip_v2/archive.py:25-32, 50-72) over long-form pixel
tables.  Scale design:

- **Tumbling** (stride == window — the reference's supported inference
  config, README.md:94-99): patch assignment is pure arithmetic
  ``i = floor(line/w)`` — zero data duplication, one shuffle on
  ``(scene, i, j)`` that every downstream patch op reuses.
- **Sliding** (stride < window): each pixel belongs to up to
  ``(w/s)^2`` patches; we ``explode(sequence(...))`` the valid patch
  indices — the same duplication Spark's own sliding ``window()`` does for
  streams.  Documented blow-up, tumbling is the default.

NULL = masked pixel.  The NaN-free patch filter (archive.py:62-67) becomes
an aggregation predicate: a patch survives iff every variable has
``window*window`` non-null pixels (this also drops partial edge windows,
which ``view_as_windows`` never emits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_patch_ids(window: int, line: str = "line", sample: str = "sample"):
    """W1/W2 tumbling — patch grid indices as pure column arithmetic."""
    i = (F.col(line) / window).cast("int")
    j = (F.col(sample) / window).cast("int")
    return i, j


def assign_tumbling(df: DataFrame, window: int) -> DataFrame:
    """Tag each pixel row with its (i, j) tumbling patch id.  No shuffle."""
    i, j = tumbling_patch_ids(window)
    return df.withColumns({"i": i, "j": j})


def assign_sliding(
    df: DataFrame,
    window: int,
    stride: int,
    height: int | Column,
    width: int | Column,
) -> DataFrame:
    """W1 sliding — explode each pixel into every overlapping patch.

    Patch i covers lines [i*stride, i*stride + window); valid i range is
    0..floor((H - window)/stride) (``view_as_windows`` semantics: only full
    windows).  Duplication factor (window/stride)^2 — see module note.
    ``height``/``width`` may be columns for per-scene extents (join scene
    dims first).
    """
    h = F.lit(height) if isinstance(height, int) else height
    w = F.lit(width) if isinstance(width, int) else width
    i_max = F.floor((h - window) / stride).cast("int")
    j_max = F.floor((w - window) / stride).cast("int")

    def rng(coord: Column, mx: Column) -> Column:
        lo = F.greatest(F.ceil((coord - window + 1) / stride).cast("int"), F.lit(0))
        hi = F.least(F.floor(coord / stride).cast("int"), mx)
        return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<int>")
        )

    out = df.withColumn("i", F.explode(rng(F.col("line"), i_max)))
    out = out.withColumn("j", F.explode(rng(F.col("sample"), j_max)))
    return out


def clean_patches(
    patched: DataFrame,
    window: int,
    value_cols: list[str],
    keys: tuple[str, ...] = ("scene", "i", "j"),
) -> DataFrame:
    """F3 — NaN-free filter: keys of patches where every variable is fully
    populated (count of non-null == window²).  Returns the distinct clean
    patch keys; semi-join pixel tables against it to materialize patches.

    One map-side-combinable aggregation; at 100 TB this is the partial-agg
    pattern (count per key), no wide rows.
    """
    conds = [
        (F.count(c) == window * window).alias(f"_ok_{c}") for c in value_cols
    ]
    agg = patched.groupBy(*keys).agg(*conds)
    pred = None
    for c in value_cols:
        p = F.col(f"_ok_{c}")
        pred = p if pred is None else pred & p
    return agg.filter(pred).select(*keys)


def patch_pixels(patched: DataFrame, window: int, value_cols: list[str]) -> DataFrame:
    """Pixels of tumbling-window patches that survive F3, with patch-local
    coordinates ``prow = line - i*window`` and ``pcol`` (0..window-1)."""
    out = patched.join(clean_patches(patched, window, value_cols), ["scene", "i", "j"], "left_semi")
    return out.withColumns(
        {"prow": F.col("line") - F.col("i") * window, "pcol": F.col("sample") - F.col("j") * window}
    )


def align_variables(*patch_key_dfs: DataFrame) -> DataFrame:
    """J2 — keep only (scene, i, j) present in every variable's clean set
    (write_batches existence check, archive.py:271-289).

    Multi-way inner join on the patch key; all inputs are key-only
    DataFrames so this stays a cheap shuffle (or broadcast under AQE).
    """
    it = iter(patch_key_dfs)
    out = next(it)
    for df in it:
        out = out.join(df, ["scene", "i", "j"], "inner")
    return out


def patch_sequence_numbers(
    keys_df: DataFrame, first_var_keys: DataFrame | None = None
) -> DataFrame:
    """S6 — the reference numbers patch files by the enumeration index over
    the FIRST variable's loc list (archive.py:275,291): locs missing from
    any other variable are *skipped but still consume an index*, so
    reference filenames can have gaps.

    - ``first_var_keys`` given (strict filename parity): number the first
      variable's clean keys per scene in (i, j) order, then inner-join the
      aligned ``keys_df`` — gap indices are preserved exactly as the
      reference writes them.  (Aligned keys are a subset of the first
      variable's keys, since alignment is the intersection.)
    - ``first_var_keys`` omitted: dense row_number over the aligned keys.
      This DEVIATES from the reference whenever variables' clean-patch sets
      differ (dense renumbering, no gaps) — a deliberate non-strict
      convenience, kept because most pipelines only need a deterministic
      unique id, not byte-parity filenames.

    Both modes: one window per scene partition, no global sort.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("scene").orderBy("i", "j")
    if first_var_keys is None:
        return keys_df.withColumn("seq", F.row_number().over(w) - 1)
    numbered = first_var_keys.withColumn("seq", F.row_number().over(w) - 1)
    return keys_df.join(numbered, ["scene", "i", "j"], "inner")
