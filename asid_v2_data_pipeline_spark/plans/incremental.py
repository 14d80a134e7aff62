"""Incremental build driver (SURVEY.md §3.1 outer loop) — the Spark shape
of /root/reference/asip_v2/build_dataset.py:20-34:

    list input files -> anti-join ledger (S3) -> decode new scenes (S1)
    -> build pipeline -> patch sink (S6) -> ledger commit (S4)

One call processes every file the ledger has not seen yet, through the
``binaryFile`` scan and the scene decoder in ``sources/netcdf.py``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..sources.ledger import commit, list_files, read_ledger, unprocessed
from ..sources.netcdf import REJECT_VAR, DecodeFn, decode_netcdf_scene, read_scenes


def run_incremental_build(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    ledger_path: str,
    cfg: PipelineConfig,
    decode_fn: DecodeFn = decode_netcdf_scene,
    on_error: str = "raise",
) -> int:
    """Process only files not yet in the ledger; returns #files processed.

    Decoded pixels are written partitioned by scene, then the ledger
    commits the processed names — a crash before commit re-processes (at
    least once), matching the reference's JSON-ledger contract
    (archive.py:197-203).

    ``on_error="quarantine"`` (r10): a corrupt scene contributes no
    pixel rows (its sentinel reject row is filtered before the sink)
    but its name still commits to the ledger — TERMINAL, so a poison
    file is skipped on every later run instead of retry-looping the
    incremental build forever.  The default ``"raise"`` keeps the
    fail-fast contract (crash before commit → retried next run)."""
    files = list_files(spark, input_dir)
    ledger = read_ledger(spark, ledger_path)
    todo = unprocessed(files, ledger).cache()
    n = todo.count()
    if n == 0:
        return 0

    # restrict the binaryFile listing to the todo names BEFORE decode
    # (broadcast semi-join): already-processed files are never decoded,
    # and a processed file sharing a scene prefix with a new one can't
    # re-append its pixels.  No collect / isin literal list in the plan.
    px = read_scenes(
        spark, input_dir, cfg.names_sar, decode_fn,
        names=todo.select("name"), on_error=on_error,
    )
    if on_error == "quarantine":
        px = px.filter(F.col("var") != REJECT_VAR)
    px.write.mode("append").partitionBy("scene").parquet(out_dir)
    commit(todo, ledger_path)
    todo.unpersist()
    return n
