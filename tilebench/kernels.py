"""Fixed-batch kernel timings with no Spark: the public functions of
functions.pbf, functions.clip, functions.simplify and functions.pip on
in-process batches made from a constant seed, so every run times the
same work. ``pbf.out_bytes`` is the determinism pin: the bytes every
encode kernel produced, which must not change unless the encoding does.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import gen

KERNEL_SEED = 20240601
REPEATS = 3
Z = 9  # zoom of the fixed point batch
W = gen.W


def _timed(fn):
    """Median wall of REPEATS calls, and the last call's result."""
    walls, out = [], None
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def _point_batch(n: int) -> dict:
    """Assigned-table columns for n single points at zoom Z, salted as the
    encode stage salts them, sorted by the group keys."""
    mx, my = gen.clustered(gen.rng_for(KERNEL_SEED, "kernel_points"), n)
    span = 2.0 * W / (1 << Z)
    tx = np.floor((mx + W) / span).astype(np.int64)
    ty = np.floor((W - my) / span).astype(np.int64)
    px = np.floor((mx - (-W + tx * span)) * 4096 / span + 0.5).astype(np.int64)
    py = np.floor(((W - ty * span) - my) * 4096 / span + 0.5).astype(np.int64)
    fid = np.arange(n, dtype=np.int64)
    salt = fid % 16
    order = np.lexsort((fid, salt, ty, tx))
    caps = gen.captions(gen.rng_for(KERNEL_SEED, "kernel_caps"), n)
    return {
        "feature_id": fid[order], "geom_type": np.ones(n, np.int32),
        "coords": np.empty(n, dtype=object), "caption": caps[order],
        "z": np.full(n, Z, np.int32), "x": tx[order], "y": ty[order], "salt": salt[order],
        "is_single": np.ones(n, bool), "px": px[order], "py": py[order],
    }


def _polygon_batch(n: int):
    """n polygons from the polygon generator, each with the z13 tile that
    holds its first vertex: (packed coords, rings, tile key) per polygon."""
    from mapnik_vector_tile_spark.operators.tiling import _pack_coords

    rng = gen.rng_for(KERNEL_SEED, "kernel_polygons")
    cx, cy = gen.clustered(rng, n)
    kinds = rng.choice(len(gen.POLY_KINDS), size=n, p=gen.POLY_KIND_SHARE)
    radius = np.exp(rng.uniform(np.log(300.0), np.log(3000.0), n))
    out = []
    span = 2.0 * W / (1 << 13)
    for k, x, y, r in zip(kinds, cx, cy, radius):
        rings = gen.polygon_rings(rng, gen.POLY_KINDS[k], x, y, r)
        xs = np.concatenate([a for a, _ in rings])
        ys = np.concatenate([b for _, b in rings])
        offs = np.concatenate(([0], np.cumsum([len(a) for a, _ in rings])))
        key = (13, int((xs[0] + W) // span), int((W - ys[0]) // span))
        out.append((_pack_coords(xs, ys, offs), xs, ys, offs, key))
    return out


def run(pin_out_bytes: int) -> tuple[dict[str, float], list[str]]:
    """Per-layer kernel metrics, and an error if ``pbf.out_bytes``
    differs from the pinned value."""
    from mapnik_vector_tile_spark.functions import clip as clipmod
    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.functions import pip as pipmod
    from mapnik_vector_tile_spark.functions import simplify as simp
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.operators.grouped import group_starts

    m: dict[str, float] = {}
    out_bytes = 0

    # batch singles encode: prepare + the whole-batch path of the encode kernel
    cols0 = _point_batch(40_000)
    prepare, encode_group, encode_batch = T.make_encode_kernel("features", 4096, 0)
    keys = ["z", "x", "y", "salt"]

    def batch_encode():
        cols = dict(cols0)
        cols.update(prepare(cols, len(cols["z"])))
        kc = [cols[k] for k in keys]
        rows, handled = encode_batch(kc, cols, group_starts(kc, len(cols["z"])))
        return rows, handled

    m["pbf.encode_batch_s"], (rows, handled) = _timed(batch_encode)
    if not handled.all():
        raise RuntimeError("kernel batch: a canonical group left the batch path")
    out_bytes += sum(len(r[4]) for r in rows)

    # splice merge: the 16 salted partial layers of each tile into one
    partial = {}
    for r in rows:
        partial.setdefault((r[0], r[1], r[2]), []).append(r[4])
    multi = [b for b in partial.values() if len(b) > 1]
    m["pbf.splice_merge_s"], merged = _timed(
        lambda: [pbf.splice_merge_layers(b, "features") for b in multi])
    out_bytes += sum(len(b) for b in merged)

    # per-group general encode (clip, winding, simplify, encode) on polygons
    polys = _polygon_batch(1_500)
    _, encode_poly, _ = T.make_encode_kernel("features", 4096, 64, simplify_distance=1.0)
    pcols = {
        "feature_id": np.arange(len(polys), dtype=np.int64),
        "geom_type": np.full(len(polys), gc.GEOM_POLYGON, np.int32),
        "coords": np.array([p[0] for p in polys], dtype=object),
        "caption": np.array(["poly"] * len(polys), dtype=object),
        "_single": np.zeros(len(polys), bool), "_ok": np.zeros(len(polys), bool),
        "_zzx": np.zeros(len(polys), np.int64), "_zzy": np.zeros(len(polys), np.int64),
    }
    m["pbf.encode_group_s"], layers = _timed(
        lambda: [encode_poly(p[4], pcols, slice(i, i + 1)) for i, p in enumerate(polys)])
    layers = [r[0][4] for r in layers if r]
    out_bytes += sum(len(b) for b in layers)

    # clip and simplify on their own: every polygon against its z13
    # tile, then the clipped rings in tile units
    span13 = 2.0 * W / (1 << 13)
    boxes = [(-W + x * span13, W - (y + 1) * span13) for _, _, _, _, (_, x, y) in polys]

    def clip_all():
        return [
            clipmod.clip_polygon(xs, ys, offs, x0, y0, x0 + span13, y0 + span13)
            for (_, xs, ys, offs, _), (x0, y0) in zip(polys, boxes)
        ]

    m["clip.polygon_s"], clipped = _timed(clip_all)
    scale = 4096 / span13
    rings = [
        (np.round((cx - x0) * scale), np.round((y0 + span13 - cy) * scale), offs)
        for (cx, cy, offs), (x0, y0) in zip(clipped, boxes) if len(cx)
    ]
    m["simplify.rings_s"], _ = _timed(
        lambda: [simp.simplify_rings(x, y, o, 1.0, closed=True) for x, y, o in rings])

    # decode: the singles lane on point tiles, the general decoder on polygon tiles
    point_tiles = [pbf.concat_tile([b]) for b in merged]
    poly_tiles = [pbf.concat_tile([b]) for b in layers]

    def decode_singles():
        descs, tix = [], []
        for i, t in enumerate(point_tiles):
            d = pbf.scan_singles_tile(t)
            descs += d
            tix += [i] * len(d)
        return pbf.decode_singles_batch(descs, point_tiles, tix, n_tiles=len(point_tiles))

    m["pbf.decode_singles_s"], (res, bad) = _timed(decode_singles)
    if bad:
        raise RuntimeError("kernel batch: the singles lane demoted canonical tiles")

    def decode_general():
        n = 0
        for t in poly_tiles:
            for lmsg in pbf.decode_tile(t):
                layer = pbf.decode_layer(lmsg)
                for f in layer["features"]:
                    xs, _, _ = gc.decode_geometry(int(f["type"]), f["geometry"].astype(np.int64))
                    n += len(xs)
        return n

    m["pbf.decode_general_s"], _ = _timed(decode_general)

    # point in polygon: points drawn over each polygon's bbox
    qrng = gen.rng_for(KERNEL_SEED, "kernel_pip")
    queries = [
        (qrng.uniform(xs.min(), xs.max(), 2_000), qrng.uniform(ys.min(), ys.max(), 2_000), xs, ys, offs)
        for _, xs, ys, offs, _ in polys[:400]
    ]
    m["pip.points_in_polygon_s"], _ = _timed(
        lambda: [pipmod.points_in_polygon(qx, qy, xs, ys, offs) for qx, qy, xs, ys, offs in queries])
    m["pbf.out_bytes"] = out_bytes
    errs = [] if out_bytes == pin_out_bytes else [f"pbf.out_bytes {out_bytes} != pinned {pin_out_bytes}"]
    return m, errs
