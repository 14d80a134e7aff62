"""Seeded input generator for the scene-pipeline benchmark.

Every input the engine sees is made here from NumPy arrays, and every
expected output is computed here from the same arrays, so a check never
compares the engine with itself.  The same ``(seed, settings)`` always gives
the same bytes.

Settings (``GenSettings``): scene side in SAR pixels, scenes per op, the
share of masked pixels and the number of ice-chart polygons per scene.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from asid_v2_data_pipeline_spark.sources.netcdf_classic import write_classic

SAR_VARS = ["nersc_sar_primary", "nersc_sar_secondary"]
ICE_VARS = [f"ice_type_{k}" for k in range(4)]
AMSR_CHANNELS = ["btemp_6.9h", "btemp_6.9v"]
AMSR_VARS = [c.replace(".", "_") for c in AMSR_CHANNELS]
FILL = np.float32(-999.0)

# Polygon-code rows (ct, ca, sa, fa, cb, sb, fb, cc, sc, fc) whose binary
# one-hot class is fixed by one stage of development: open water (ct < 10),
# young (stage 83), first-year (87) and multi-year (96) ice.
CODE_PALETTE = [
    (5, -9, -9, -9, -9, -9, -9, -9, -9, -9),
    (80, 80, 83, 2, -9, -9, -9, -9, -9, -9),
    (90, 90, 87, 3, -9, -9, -9, -9, -9, -9),
    (95, 95, 96, 4, -9, -9, -9, -9, -9, -9),
]


@dataclass(frozen=True)
class GenSettings:
    side: int  # SAR scene side in pixels
    scenes_per_op: int
    masked_share: float  # share of SAR pixels that are masked (NULL)
    polygons: int  # ice-chart polygons per scene
    window: int = 16  # window_sar; window_amsr2 = window // 4


@dataclass
class Scene:
    name: str  # 'YYYYmmddTHHMMSS', the prefix of the scene file name
    sar: dict  # var -> float32 (side, side), NaN = masked
    polygon: np.ndarray  # int32 (side, side); -1 = outside the chart
    classes: np.ndarray  # int (polygons,): CODE_PALETTE index per polygon
    amsr: np.ndarray  # float32 (channels, side/4, side/4)

    @property
    def file_name(self) -> str:
        return f"{self.name}_S1B_AMSR2_Icechart.nc"


def scene_name(seed: int, index: int) -> str:
    """Distinct, parseable scene timestamps; every day-of-year is valid."""
    base = dt.datetime(2018, 1, 1) + dt.timedelta(seconds=(seed * 7919) % 86400)
    t = base + dt.timedelta(days=index % 365, seconds=index // 365)
    return t.strftime("%Y%m%dT%H%M%S")


def dirty_patches(rng: np.random.Generator, s: GenSettings) -> np.ndarray:
    """(g, g) bool: the patches that hold a scene's masked pixels.  One per
    masked pixel, at most half of them, never the last one (whose key sizes
    a reconstruction).  Their number depends on the settings only, so every
    seed yields the same count of clean patches and the same op size."""
    g = s.side // s.window
    d = min(round(s.masked_share * s.side * s.side), g * g // 2)
    out = np.zeros(g * g, dtype=bool)
    out[rng.choice(g * g - 1, size=d, replace=False)] = True
    return out.reshape(g, g)


def make_scene(seed: int, index: int, s: GenSettings) -> Scene:
    """SAR pixels masked at ``masked_share``, all inside ``dirty_patches``
    (each of which gets at least one); ice-chart holes in the same patches."""
    rng = np.random.default_rng([seed, index])
    n, w = s.side, s.window
    dirty = dirty_patches(rng, s)
    inside = np.flatnonzero(np.kron(dirty, np.ones((w, w), dtype=bool)))
    m = min(round(s.masked_share * n * n), inside.size)
    di, dj = np.nonzero(dirty)
    one_each = (di * w + rng.integers(0, w, di.size)) * n + dj * w + rng.integers(0, w, dj.size)
    ramp = np.add.outer(np.arange(n), np.arange(n)).astype(np.float32) / n
    sar = {}
    for k, var in enumerate(SAR_VARS):
        a = ramp * (k + 1) + rng.standard_normal((n, n), dtype=np.float32)
        a.reshape(-1)[rng.choice(inside, size=m, replace=False)] = np.nan
        if k == 0:
            a.reshape(-1)[one_each] = np.nan
        sar[var] = a
    pts = rng.integers(0, n, size=(s.polygons, 2))
    line, sample = np.mgrid[0:n, 0:n]
    d = (line[..., None] - pts[:, 0]) ** 2 + (sample[..., None] - pts[:, 1]) ** 2
    polygon = d.argmin(axis=-1).astype(np.int32)
    polygon.reshape(-1)[rng.choice(inside, size=m // 2, replace=False)] = -1
    classes = rng.integers(0, len(CODE_PALETTE), size=s.polygons)
    a = n // 4
    amsr = (
        200.0
        + 5.0 * np.arange(len(AMSR_CHANNELS))[:, None, None]
        + rng.standard_normal((len(AMSR_CHANNELS), a, a))
    ).astype(np.float32)
    return Scene(scene_name(seed, index), sar, polygon, classes, amsr)


# --- ingest: classic netCDF scene files --------------------------------------


def nc_bytes(scene: Scene) -> bytes:
    """The scene as a classic netCDF file: its SAR variables, masked pixels
    carrying the explicit ``_FillValue``, and a ``distance_map`` variable
    the SAR decode skips, as real scene files hold more variables than a
    pipeline reads."""
    n = scene.polygon.shape[0]
    variables = {}
    for var, arr in scene.sar.items():
        filled = np.where(np.isnan(arr), FILL, arr).astype(np.float32)
        variables[var] = (("line", "sample"), filled, {"_FillValue": FILL})
    edge = np.minimum.outer(np.arange(n), np.arange(n))
    variables["distance_map"] = (("line", "sample"), np.minimum(edge, edge[::-1, ::-1]).astype(np.float32), {})
    return write_classic({"line": n, "sample": n}, variables)


def expected_ingest(scenes: list[Scene]) -> dict:
    rows = sum(a.size for sc in scenes for a in sc.sar.values())
    nulls = sum(int(np.isnan(a).sum()) for sc in scenes for a in sc.sar.values())
    value_sum = sum(float(np.nansum(a, dtype=np.float64)) for sc in scenes for a in sc.sar.values())
    return {"rows": rows, "nulls": nulls, "value_sum": value_sum}


# --- build: pre-decoded pixel tables ------------------------------------------


def write_pixel_tables(scenes: list[Scene], s: GenSettings, out_dir: str) -> dict:
    """The five build-path input tables (schemas.py) as parquet files;
    returns ``{table: path}``."""
    n = s.side
    line = np.repeat(np.arange(n, dtype=np.int32), n)
    sample = np.tile(np.arange(n, dtype=np.int32), n)
    cols: dict[str, dict[str, list]] = {
        t: {} for t in ("scenes", "sar", "icechart", "codes", "amsr2")
    }

    def add(table: str, **arrays) -> None:
        for k, v in arrays.items():
            cols[table].setdefault(k, []).append(v)

    for sc in scenes:
        name = np.full(n * n, sc.name, dtype=object)
        add(
            "scenes",
            scene=[sc.name], path=[sc.file_name],
            ts=[dt.datetime.strptime(sc.name, "%Y%m%dT%H%M%S")],
            aoi_ul_sample=[0], aoi_lr_sample=[n], aoi_ul_line=[0],
            aoi_lr_line=[n], rm_swath=[0], has_icechart=[True], has_amsr2=[True],
        )
        p, q = (sc.sar[v].reshape(-1) for v in SAR_VARS)
        add(
            "sar", scene=name, line=line, sample=sample,
            sar_primary=pa.array(p, mask=np.isnan(p)),
            sar_secondary=pa.array(q, mask=np.isnan(q)),
            distance_map=np.full(n * n, 100.0, dtype=np.float32),
        )
        pid = sc.polygon.reshape(-1)
        add("icechart", scene=name, line=line, sample=sample,
            polygon_id=pa.array(pid, mask=pid < 0))
        codes = np.array([CODE_PALETTE[c] for c in sc.classes], dtype=np.int32)
        code_cols = dict(zip(("ct", "ca", "sa", "fa", "cb", "sb", "fb", "cc", "sc", "fc"), codes.T))
        add("codes", scene=np.full(s.polygons, sc.name, dtype=object),
            id=np.arange(s.polygons, dtype=np.int32),
            **code_cols, poly_type=np.full(s.polygons, "I", dtype=object))
        c, a, _ = sc.amsr.shape
        step = 4  # SAR pixels per AMSR2 cell (window / window_amsr2)
        al = np.tile(np.repeat(np.arange(a, dtype=np.int32), a), c)
        asm = np.tile(np.arange(a, dtype=np.int32), c * a)
        add("amsr2", scene=np.full(c * a * a, sc.name, dtype=object),
            ch=np.repeat(np.array(AMSR_CHANNELS, dtype=object), a * a),
            aline=al, asample=asm,
            line=step / 2 + step * al.astype(np.float64),
            sample=step / 2 + step * asm.astype(np.float64),
            btemp=sc.amsr.reshape(-1))

    from asid_v2_data_pipeline_spark import schemas

    spark_schema = {
        "scenes": schemas.SCENES, "sar": schemas.SAR_PIXELS,
        "icechart": schemas.ICECHART_PIXELS, "codes": schemas.POLYGON_CODES,
        "amsr2": schemas.AMSR2_PIXELS,
    }
    paths = {}
    for table, parts in cols.items():
        arrays = {}
        for f in spark_schema[table].fields:
            chunks = parts[f.name]
            typ = _ARROW_TYPES[f.dataType.typeName()]
            arrays[f.name] = pa.concat_arrays(
                [pa.array(ch, type=typ) if not isinstance(ch, pa.Array) else ch.cast(typ)
                 for ch in chunks]
            )
        path = os.path.join(out_dir, table)
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.table(arrays), os.path.join(path, "part-0.parquet"))
        paths[table] = path
    return paths


_ARROW_TYPES = {
    "string": pa.string(), "integer": pa.int32(), "float": pa.float32(),
    "double": pa.float64(), "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def clean_mask(sc: Scene, w: int) -> np.ndarray:
    """(g, g) bool: patches whose SAR pixels and ice-chart pixels are all
    present.  AMSR2 is never masked, so its patches are all clean."""
    g = sc.polygon.shape[0] // w

    def full(valid: np.ndarray) -> np.ndarray:
        return valid.reshape(g, w, g, w).all(axis=(1, 3))

    ok = full(sc.polygon >= 0)
    for a in sc.sar.values():
        ok &= full(~np.isnan(a))
    return ok


def expected_build(scenes: list[Scene], w: int) -> dict:
    """Rows per output variable, clean patches and value sums over them."""
    w2 = w // 4
    patches = 0
    sar_sum = 0.0
    ice_sums = np.zeros(4)
    for sc in scenes:
        ok = clean_mask(sc, w)
        patches += int(ok.sum())
        pix = np.kron(ok, np.ones((w, w), dtype=bool))
        sar_sum += float(sc.sar[SAR_VARS[0]][pix].sum(dtype=np.float64))
        cls = sc.classes[sc.polygon[pix]]
        ice_sums += np.bincount(cls, minlength=4)
    rows = {v: patches * w * w for v in SAR_VARS + ICE_VARS}
    rows.update({v: patches * w2 * w2 for v in AMSR_VARS})
    return {
        "rows": rows, "sar_primary_sum": sar_sum,
        "ice_sums": [int(x) for x in ice_sums],
        "candidates": len(scenes) * (scenes[0].polygon.shape[0] // w) ** 2,
    }


# --- feed / apply: the clean patches build writes -----------------------------


@dataclass
class Corpus:
    scenes: list  # scene names
    keys: dict  # scene -> int (k, 2) array of clean (i, j), sorted
    values: dict  # (scene, var) -> float32 (k, w, w) patch pixels, keys order


def patch_corpus(scenes: list[Scene], w: int) -> Corpus:
    """The SAR and ice-class patches ``build_patches`` keeps for
    ``scenes``: the clean ones, in (i, j) order.  Ice classes are one-hot,
    one variable per class."""
    corpus = Corpus([], {}, {})
    for sc in scenes:
        ok = clean_mask(sc, w)
        keys = np.argwhere(ok).astype(np.int32)
        g = ok.shape[0]

        def patches(a: np.ndarray) -> np.ndarray:
            return a.reshape(g, w, g, w).transpose(0, 2, 1, 3)[ok]

        for var in SAR_VARS:
            corpus.values[(sc.name, var)] = patches(sc.sar[var])
        cls = sc.classes[np.maximum(sc.polygon, 0)]
        for k, var in enumerate(ICE_VARS):
            corpus.values[(sc.name, var)] = patches((cls == k).astype(np.float32))
        corpus.scenes.append(sc.name)
        corpus.keys[sc.name] = keys
    return corpus


def expected_feed(corpus: Corpus, seed: int, percentage: float, batch_size: int,
                  variables: list) -> dict:
    """Batches and checksum per side (train, validation) of one epoch.

    ``fraction_split`` puts the first ``floor(n * percentage)`` keys in the
    order of ``xxhash64(scene, i, j, seed)`` into train; batches are then
    numbered per scene in (i, j) order and short ones dropped."""
    from sparkhash import xxhash64

    keys = [(s, int(i), int(j)) for s in corpus.scenes for i, j in corpus.keys[s]]
    order = sorted(keys, key=lambda key: (xxhash64(*key, seed), key))
    cut = int(len(keys) * percentage)
    sums = {
        s: sum(corpus.values[(s, v)].sum(axis=(1, 2), dtype=np.float64) for v in variables)
        for s in corpus.scenes
    }
    pos = {s: {(int(i), int(j)): n for n, (i, j) in enumerate(corpus.keys[s])} for s in corpus.scenes}
    sides = []
    for members in (order[:cut], order[cut:]):
        by_scene: dict = {}
        for s, i, j in members:
            by_scene.setdefault(s, []).append((i, j))
        batches, checksum = 0, 0.0
        for s, ij in by_scene.items():
            ij.sort()
            full = len(ij) // batch_size
            batches += full
            checksum += float(sum(sums[s][pos[s][key]] for key in ij[: full * batch_size]))
        sides.append({"batches": batches, "checksum": checksum})
    return {"sides": sides}


def expected_apply(corpus: Corpus, scene: str, w: int, variables: list) -> dict:
    """Reconstruction of one scene with the channel-mean model: the canvas
    is sized from the lexicographically largest patch key (the reference's
    sizing), patches past its width fall off, uncovered pixels are 0."""
    keys = corpus.keys[scene]
    imax, jat = (int(x) for x in keys[-1])
    pred = np.stack([corpus.values[(scene, v)] for v in variables], axis=-1).mean(axis=-1)
    inside = keys[:, 1] <= jat
    return {
        "height": (imax + 1) * w, "width": (jat + 1) * w,
        "pixels": (imax + 1) * (jat + 1) * w * w,
        "value_sum": float(pred[inside].sum(dtype=np.float64)),
    }
