"""The benchmark workloads.

Each workload has the same life cycle:

- ``setup()`` makes the inputs from the seed (untimed, part of ``setup_s``);
- ``prepare(k)`` lays out op ``k``'s fresh input and output directories;
- ``run(op)`` is the timed op: public engine calls only, output forced;
- ``run_traced(op, tracer)`` is the same work split into one span per public
  call, each call's output forced (and cached for the next call) at the
  span's end;
- ``check(op)`` compares the op's output with what ``generate`` computes
  from its own arrays; returns ``{check: passed}`` and the op's input and
  output bytes;
- ``cleanup(op)`` removes the op's directories, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import generate as gen
from asid_v2_data_pipeline_spark.config import PipelineConfig
from asid_v2_data_pipeline_spark.functions.encoding import encode_polygon_codes
from asid_v2_data_pipeline_spark.operators.batching import (
    assemble_batches,
    pivot_patches,
    predict_batches,
)
from asid_v2_data_pipeline_spark.operators.filters import healthy_scenes
from asid_v2_data_pipeline_spark.operators.patching import assign_tumbling, clean_patches
from asid_v2_data_pipeline_spark.operators.regrid import bilinear_regrid, target_points
from asid_v2_data_pipeline_spark.operators.split import fraction_split
from asid_v2_data_pipeline_spark.operators.stitch import stitch_full_image
from asid_v2_data_pipeline_spark.plans.apply_pipeline import apply_model
from asid_v2_data_pipeline_spark.plans.build_pipeline import (
    build_patches,
    decode_icechart,
    write_patch_sink,
)
from asid_v2_data_pipeline_spark.plans.incremental import run_incremental_build
from asid_v2_data_pipeline_spark.plans.train_pipeline import (
    select_training_patches,
    train_val_feeds,
)
from asid_v2_data_pipeline_spark.sources.ledger import (
    commit,
    list_files,
    read_ledger,
    unprocessed,
    write_reconstruction,
)
from asid_v2_data_pipeline_spark.sources.netcdf import decode_netcdf_scene, read_scenes
from spans import CountingDecode

FEED_VARS = gen.SAR_VARS + gen.ICE_VARS
APPLY_VARS = gen.SAR_VARS


@dataclass
class Op:
    k: int
    dir: str
    out: str = ""
    expected: dict = field(default_factory=dict)
    result: object = None
    counts: dict = field(default_factory=dict)  # traced run: layer counts
    cached: list = field(default_factory=list)  # traced run: forced results


def parquet_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def sink_counts(path: str) -> dict:
    files = sum(f.endswith(".parquet") for _, _, names in os.walk(path) for f in names)
    return {"sink.files": files, "sink.mb": parquet_bytes(path) / 1e6}


def read_back(path: str) -> pa.Table:
    return pads.dataset(path, format="parquet", partitioning="hive").to_table()


def force(df):
    """Cache ``df`` and run it, so the next public call reads the result."""
    df = df.cache()
    df.count()
    return df


def close(a: float, b: float, rtol: float = 1e-6) -> bool:
    return abs(a - b) <= rtol * max(1.0, abs(a), abs(b))


class Workload:
    name = ""
    settings: gen.GenSettings

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark, self.work, self.seed = spark, work_dir, seed
        self.cfg = PipelineConfig(
            window_sar=self.settings.window, stride_sar=self.settings.window,
            window_amsr2=self.settings.window // 4, **self.cfg_extra(),
        )

    def cfg_extra(self) -> dict:
        return {}

    def setup(self) -> None:
        pass

    def prepare(self, k: int) -> Op:
        d = os.path.join(self.work, f"op{k}")
        os.makedirs(d)
        return Op(k, d, out=os.path.join(d, "out"))

    def cleanup(self, op: Op) -> None:
        for df in op.cached:
            df.unpersist()
        shutil.rmtree(op.dir, ignore_errors=True)


class Ingest(Workload):
    """New scene files land; one ``run_incremental_build`` per batch."""

    name = "ingest"
    # 2 files of 512^2 pixels x 3 float32 variables, about 3.1 MB each
    settings = gen.GenSettings(side=512, scenes_per_op=2, masked_share=0.01, polygons=8)
    history = 4  # already-processed files present in the directory and ledger

    def setup(self) -> None:
        # processed files are never decoded; one payload serves them all
        self.old_payload = gen.nc_bytes(gen.make_scene(self.seed, 900_000, self.settings))

    def prepare(self, k: int) -> Op:
        op = super().prepare(k)
        src, led = os.path.join(op.dir, "in"), os.path.join(op.dir, "ledger")
        os.makedirs(src)
        old = [gen.scene_name(self.seed, 500_000 + k * self.history + h) for h in range(self.history)]
        for name in old:
            with open(os.path.join(src, f"{name}_S1B_AMSR2_Icechart.nc"), "wb") as f:
                f.write(self.old_payload)
        os.makedirs(led)
        names = [f"{n}_S1B_AMSR2_Icechart.nc" for n in old]
        pq.write_table(pa.table({"name": names}), os.path.join(led, "part-0.parquet"))
        n = self.settings.scenes_per_op
        scenes = [gen.make_scene(self.seed, k * n + s, self.settings) for s in range(n)]
        nbytes = {}
        for sc in scenes:
            payload = gen.nc_bytes(sc)
            with open(os.path.join(src, sc.file_name), "wb") as f:
                f.write(payload)
            nbytes[sc.name] = len(payload)
        op.expected = gen.expected_ingest(scenes)
        op.expected.update(
            new={sc.name for sc in scenes}, nbytes=nbytes,
            ledger=set(names) | {sc.file_name for sc in scenes},
        )
        op.src, op.ledger = src, led
        return op

    def run(self, op: Op) -> None:
        op.result = run_incremental_build(self.spark, op.src, op.out, op.ledger, self.cfg)

    def run_traced(self, op: Op, tr) -> None:
        with tr.span("op", op.k):
            files = list_files(self.spark, op.src)
            ledger = read_ledger(self.spark, op.ledger)
            with tr.span("sources.ledger.unprocessed", op.k):
                todo = unprocessed(files, ledger).cache()
                # counted before the commit: the commit's write refreshes
                # every cached plan that reads the ledger
                op.result = todo.count()
            with tr.span("sources.netcdf.read_scenes", op.k):
                op.decode = CountingDecode(self.spark.sparkContext, decode_netcdf_scene)
                px = read_scenes(self.spark, op.src, self.cfg.names_sar, op.decode,
                                 names=todo.select("name")).cache()
                op.counts["rows"] = px.count()
            with tr.span("sink.write", op.k):
                px.write.mode("append").partitionBy("scene").parquet(op.out)
            with tr.span("sources.ledger.commit", op.k):
                commit(todo, op.ledger)
        op.cached = [todo, px]

    def layer_counts(self, op: Op, self_s: dict) -> dict:
        files, nbytes = op.decode.files.value, op.decode.bytes.value
        read_s = self_s.get("sources.netcdf.read_scenes_s", 0.0)
        return {
            "sources.netcdf.files": files,
            "sources.netcdf.rows": op.counts["rows"],
            "sources.netcdf.decode_mb_per_s": nbytes / 1e6 / read_s if read_s > 0 else 0.0,
            "sources.ledger.decoded_per_new": files / len(op.expected["new"]),
            **sink_counts(op.out),
        }

    def check(self, op: Op) -> tuple[dict, int, int]:
        e = op.expected
        t = read_back(op.out)
        values = t.column("value")
        led = set(pq.read_table(op.ledger).column("name").to_pylist())
        checks = {
            "files processed": op.result == len(e["new"]),
            "pixel rows": t.num_rows == e["rows"],
            "masked pixels": values.null_count == e["nulls"],
            "value sum": close(pc.sum(values.cast(pa.float64())).as_py() or 0.0, e["value_sum"]),
            "scenes": set(pc.unique(t.column("scene")).to_pylist()) == e["new"],
            "ledger": led == e["ledger"],
        }
        return checks, sum(e["nbytes"].values()), parquet_bytes(op.out)




class Pipeline(Workload):
    """The paper's path after decode, one batch of scenes per op:
    ``build_patches`` -> ``write_patch_sink`` over pre-decoded pixel
    tables, one training epoch of ``train_val_feeds`` over the patch sink
    just written, consumed to the last batch, and one per-scene
    ``apply_model`` -> ``write_reconstruction`` request that reads its
    scene from that sink through partition pruning."""

    name = "pipeline"
    settings = gen.GenSettings(side=128, scenes_per_op=2, masked_share=0.001, polygons=12)
    batch_size = 8

    def cfg_extra(self) -> dict:
        return {"batch_size": self.batch_size, "percentage": 0.8}

    def setup(self) -> None:
        s = self.settings
        scenes = [gen.make_scene(self.seed, i, s) for i in range(s.scenes_per_op)]
        self.paths = gen.write_pixel_tables(scenes, s, os.path.join(self.work, "tables"))
        self.in_bytes = sum(parquet_bytes(p) for p in self.paths.values())
        self.expected = gen.expected_build(scenes, s.window)
        self.corpus = gen.patch_corpus(scenes, s.window)
        self.expected_feed = gen.expected_feed(
            self.corpus, self.seed, self.cfg.percentage, self.batch_size, FEED_VARS)

    def prepare(self, k: int) -> Op:
        op = super().prepare(k)
        op.sink, op.recon = os.path.join(op.dir, "patches"), os.path.join(op.dir, "reconstruction")
        op.scene = self.corpus.scenes[k % len(self.corpus.scenes)]
        op.expected = gen.expected_apply(self.corpus, op.scene, self.settings.window, APPLY_VARS)
        return op

    def inputs(self):
        read = self.spark.read.parquet
        p = self.paths
        return (read(p["scenes"]), read(p["sar"]), read(p["icechart"]),
                read(p["codes"]), read(p["amsr2"]))

    def patches(self, op: Op):
        return self.spark.read.parquet(op.sink)

    def run(self, op: Op) -> None:
        write_patch_sink(build_patches(*self.inputs(), self.cfg), op.sink)
        train, val = train_val_feeds(self.patches(op), self.cfg, FEED_VARS, seed=self.seed)
        op.result = (train.collect(), val.collect())
        scene = self.patches(op).filter(F.col("scene") == op.scene)
        write_reconstruction(apply_model(scene, self.cfg, APPLY_VARS), op.recon)

    def run_traced(self, op: Op, tr) -> None:
        with tr.span("op", op.k):
            self.trace_build(op, tr)
            self.trace_feed(op, tr)
            self.trace_apply(op, tr)

    def trace_build(self, op: Op, tr) -> None:
        scenes, sar_px, ice_px, codes, amsr_px = self.inputs()
        cfg, w = self.cfg, self.cfg.window_sar
        # Each sub-call below gets the inputs build_patches gives it, so
        # Spark's cache manager substitutes the cached result inside
        # build_patches' own plan and its span keeps only the rest.
        with tr.span("plans.build_pipeline.build_patches", op.k):
            ok = healthy_scenes(scenes, w).select("scene")
            sar = sar_px.join(ok, "scene", "left_semi")
            ice = ice_px.join(ok, "scene", "left_semi")
            with tr.span("functions.encoding.encode_polygon_codes", op.k):
                enc = force(encode_polygon_codes(codes, cfg.encoding, strict=cfg.strict_reference_semantics))
            with tr.span("plans.build_pipeline.decode_icechart", op.k):
                dec = force(decode_icechart(ice, codes, cfg))
            with tr.span("operators.regrid.bilinear_regrid", op.k):
                dims = sar.groupBy("scene").agg(
                    (F.max("line") + 1).alias("height"), (F.max("sample") + 1).alias("width"))
                tgt = target_points(self.spark, dims, cfg.resample_step_amsr2)
                reg = force(bilinear_regrid(amsr_px.join(ok, "scene", "left_semi"), tgt))
            with tr.span("operators.patching.clean_patches", op.k):
                sar_keys = force(clean_patches(assign_tumbling(sar, w), w, ["sar_primary", "sar_secondary"]))
                out_keys = force(clean_patches(assign_tumbling(dec, w), w, ["oh0", "oh1", "oh2", "oh3"]))
            patches = force(build_patches(scenes, sar_px, ice_px, codes, amsr_px, cfg))
        with tr.span("sink.write", op.k):
            write_patch_sink(patches, op.sink)
        op.cached += [enc, dec, reg, sar_keys, out_keys, patches]
        op.counts["clean"] = sar_keys.count() + out_keys.count()

    def trace_feed(self, op: Op, tr) -> None:
        cfg, w = self.cfg, self.cfg.window_sar
        selected = select_training_patches(self.patches(op), cfg)
        keys = selected.select("scene", "i", "j").distinct()
        with tr.span("operators.split.fraction_split", op.k):
            train_k, val_k = (force(x) for x in fraction_split(keys, cfg.percentage, self.seed))
        op.cached += [train_k, val_k]
        result = []
        for side in (train_k, val_k):
            with tr.span("operators.batching.pivot_patches", op.k):
                px = selected.join(side, ["scene", "i", "j"], "left_semi")
                piv = force(pivot_patches(px, FEED_VARS, w))
            with tr.span("operators.batching.assemble_batches", op.k):
                result.append(assemble_batches(piv, FEED_VARS, w, cfg.batch_size).collect())
            op.cached.append(piv)
        op.result = tuple(result)
        op.counts["selected"] = train_k.count() + val_k.count()

    def trace_apply(self, op: Op, tr) -> None:
        cfg, w = self.cfg, self.cfg.window_sar
        scene = self.patches(op).filter(F.col("scene") == op.scene)
        with tr.span("operators.batching.pivot_patches", op.k):
            piv = force(pivot_patches(scene, APPLY_VARS, w))
        with tr.span("operators.batching.predict_batches", op.k):
            pred = force(predict_batches(piv, APPLY_VARS, w))
        with tr.span("operators.stitch.stitch_full_image", op.k):
            img = force(stitch_full_image(pred, w, bug_compatible_size=cfg.strict_reference_semantics))
        with tr.span("sink.write", op.k):
            write_reconstruction(img, op.recon)
        op.cached += [piv, pred, img]
        op.counts["covered"], op.counts["canvas"] = pred.count(), img.count()

    def layer_counts(self, op: Op, self_s: dict) -> dict:
        batches = [b for side in op.result for b in side]
        sinks = [sink_counts(op.sink), sink_counts(op.recon)]
        return {
            "operators.patching.clean_ratio": op.counts["clean"] / (2 * self.expected["candidates"]),
            "operators.batching.batches": len(batches),
            "operators.batching.full_batch_ratio": sum(b["n"] for b in batches) / op.counts["selected"],
            "operators.stitch.covered_ratio": op.counts["covered"] / op.counts["canvas"],
            **{m: sum(s[m] for s in sinks) for m in sinks[0]},
        }

    def check(self, op: Op) -> tuple[dict, int, int]:
        checks = {}
        # build: rows per variable and value sums of the patch sink
        e = self.expected
        t = read_back(op.sink)
        got = {r["var"]: r["value_count"] for r in t.group_by("var").aggregate([("value", "count")]).to_pylist()}
        sums = {r["var"]: r["value_sum"] for r in t.group_by("var").aggregate([("value", "sum")]).to_pylist()}
        checks["build rows per variable"] = got == e["rows"]
        checks["build sar value sum"] = close(sums.get(gen.SAR_VARS[0], 0.0), e["sar_primary_sum"])
        checks["build ice class sums"] = [round(sums.get(v, 0)) for v in gen.ICE_VARS] == e["ice_sums"]
        # feed: batch counts, shapes and pixel sums per side
        w = self.settings.window
        for side, rows, ef in zip(("train", "val"), op.result, self.expected_feed["sides"]):
            checks[f"feed {side} batches"] = len(rows) == ef["batches"]
            checks[f"feed {side} shapes"] = all(
                r["n"] == self.batch_size
                and all(list(r[f"{v}_shape"]) == [self.batch_size, w, w, 1] for v in FEED_VARS)
                for r in rows
            )
            checks[f"feed {side} checksum"] = close(sum(r["checksum"] for r in rows), ef["checksum"])
        # apply: reconstruction size and pixel sum
        ea = op.expected
        r = read_back(op.recon)
        checks["apply pixels"] = r.num_rows == ea["pixels"]
        checks["apply scene"] = set(pc.unique(r.column("scene")).to_pylist()) == {op.scene}
        checks["apply height"] = pc.max(r.column("line")).as_py() == ea["height"] - 1
        checks["apply width"] = pc.max(r.column("sample")).as_py() == ea["width"] - 1
        checks["apply value sum"] = close(pc.sum(r.column("value").cast(pa.float64())).as_py(), ea["value_sum"])
        out_bytes = parquet_bytes(op.sink) + parquet_bytes(op.recon)
        return checks, self.in_bytes, out_bytes


WORKLOADS = {w.name: w for w in (Ingest, Pipeline)}
