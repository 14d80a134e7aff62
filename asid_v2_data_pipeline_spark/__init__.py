"""asid_v2_data_pipeline_spark — the sea-ice scene pipeline of
nansencenter/ASID-v2-data-pipeline on Spark.

The reference (``asip_v2`` of that repository) is a single-node
NumPy/netCDF ETL + ML-feed pipeline over Arctic sea-ice scenes.  This package
runs the same per-scene path as Spark DataFrame transformations:

- incremental ingest: list new ``.nc`` files, anti-join the ledger, decode
  the scenes (classic netCDF and netCDF-4/HDF5) and commit the ledger
  (``plans/incremental.py``, ``sources/``);
- build: clean-patch extraction, one-hot ice-chart decode and the
  AMSR2→SAR bilinear regrid (``plans/build_pipeline.py``);
- feed: exact-count train/val split and drop-last batches
  (``plans/train_pipeline.py``);
- apply: model prediction per batch and stitching the scene back together
  (``plans/apply_pipeline.py``).

Rasters are long-form pixel tables ``(scene, line, sample, value)`` with SQL
NULL as the mask; patch extraction and stitching are key arithmetic +
groupBy, the polygon decode is a broadcast hash join, and the one-hot
encoders are native column expressions (no UDFs).

Outside the scene path the package also carries large-scale training-data
operators the reference lacks — dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard), similarity search, media and container decoders,
curation, and streaming forms of several of them.
"""

__version__ = "0.1.0"
