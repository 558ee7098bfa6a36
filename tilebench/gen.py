"""Seeded input generator for the tiling benchmark.

Every input is a pure function of ``(seed, size)``: the same seed gives
the same rows. The engine receives only the parquet files written here.

Input properties that are varied, and why:

* Cluster skew (points, polygon centres, pip points): rows fall into
  ``N_CLUSTERS`` Gaussian clusters whose weights follow a Zipf law
  (exponent ``ZIPF_S``) over a uniform background share. The heaviest
  cluster puts a large share of all rows into one low-zoom tile, which
  is the hot key the encode stage salts (``tiling.with_salt``) and
  merges back. The seed moves cluster centres and draws every row;
  cluster weights and spreads are fixed by rank, so every seed has the
  same skew and the same amount of work within a few percent.
* Polygon kind mix and vertex counts: axis-aligned quads, convex
  n-gons, concave stars, holed polygons and multi-part polygons, with
  4 to ~60 vertices. Quads are what the clipper handles cheaply; stars
  and many-vertex rings are what simplify reduces; holes and parts
  exercise winding normalisation and multi-ring encode.
* Region size mix (pip join): small, medium and large regions of mixed
  kinds. A large region covers many cells at the join zoom, so the size
  mix sets how many candidate (point, region) pairs a point makes and
  how many of them the exact refine rejects.

Coordinates are generated directly in web-mercator metres.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

W = 20037508.342789244  # mercator half-width, as in functions.tilemath
Y_MAX = 0.75 * W  # keep clusters within about +-70 degrees latitude

N_CLUSTERS = 48
ZIPF_S = 1.1
BACKGROUND = 0.15
# cluster spread by rank: the hottest clusters are the densest
SIGMA_M = np.geomspace(3_000.0, 150_000.0, N_CLUSTERS)
N_WORDS = 200  # caption vocabulary, Zipf-weighted

POLY_KINDS = ("quad", "convex", "concave", "holed", "multipart")
POLY_KIND_SHARE = (0.35, 0.2, 0.15, 0.15, 0.15)
POLY_RADIUS_M = (40.0, 2_500.0)  # log-uniform

REGION_KINDS = ("quad", "convex", "concave", "holed")
# (share, half-width range in metres): small, medium, large
REGION_SIZES = ((0.6, 5_000.0, 50_000.0), (0.3, 50_000.0, 300_000.0), (0.1, 300_000.0, 1_200_000.0))


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so resizing one input
    never shifts another's values."""
    tag = int.from_bytes(stream.encode(), "little") % (1 << 32)
    return np.random.default_rng([seed, tag])


def zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


def clustered(rng: np.random.Generator, n: int, cx=None, cy=None, sigma=SIGMA_M):
    """n mercator points: Zipf-weighted Gaussian clusters over a uniform
    background. Cluster centres are drawn unless given."""
    if cx is None:
        cx = rng.uniform(-0.95 * W, 0.95 * W, N_CLUSTERS)
        cy = rng.uniform(-Y_MAX, Y_MAX, N_CLUSTERS)
    cid = rng.choice(N_CLUSTERS, size=n, p=zipf_weights(N_CLUSTERS))
    x = cx[cid] + rng.normal(0.0, 1.0, n) * sigma[cid]
    y = cy[cid] + rng.normal(0.0, 1.0, n) * sigma[cid]
    bg = rng.random(n) < BACKGROUND
    x = np.where(bg, rng.uniform(-W, W, n), x)
    y = np.where(bg, rng.uniform(-Y_MAX, Y_MAX, n), y)
    return np.clip(x, -0.999 * W, 0.999 * W), np.clip(y, -0.95 * W, 0.95 * W)


WORDS = np.array([f"w{i}" for i in range(N_WORDS)], dtype=object)


def mix(rng: np.random.Generator, shares, n: int) -> np.ndarray:
    """n class labels in exactly the given shares, in random order: the
    seed moves which row gets which class, never how many there are."""
    counts = np.floor(np.asarray(shares) * n).astype(np.int64)
    counts[: n - counts.sum()] += 1
    return rng.permutation(np.repeat(np.arange(len(shares)), counts))


def log_grid(rng: np.random.Generator, lo, hi, n: int) -> np.ndarray:
    """n values log-evenly spread over [lo, hi] (per row if arrays), in
    random order: the same multiset of sizes under every seed."""
    q = (rng.permutation(n) + 0.5) / n
    return np.exp(np.log(lo) + q * (np.log(hi) - np.log(lo)))


def captions(rng: np.random.Generator, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, N_WORDS + 1)
    return WORDS[rng.choice(N_WORDS, size=n, p=w / w.sum())]


def _list_array(values, offsets, typ) -> pa.ListArray:
    return pa.ListArray.from_arrays(
        pa.array(np.asarray(offsets), type=pa.int32()), pa.array(values, type=typ)
    )


def write_parquet(table: pa.Table, path: str, row_groups: int = 8) -> None:
    """Several row groups, so the scan splits across every core."""
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)))


def features_table(fid, gt, xs, ys, coord_offs, parts, part_offs, caps) -> pa.Table:
    """Canonical feature table (``tiling.FEATURES_SCHEMA``): ``coord_offs``
    slices the flat xs/ys per feature, ``parts`` holds every feature's
    part offsets back to back, sliced by ``part_offs``."""
    return pa.table({
        "feature_id": pa.array(fid, type=pa.int64()),
        "geom_type": pa.array(gt, type=pa.int32()),
        "xs": _list_array(xs, coord_offs, pa.float64()),
        "ys": _list_array(ys, coord_offs, pa.float64()),
        "part_offsets": _list_array(parts, part_offs, pa.int32()),
        "caption": pa.array(caps, type=pa.string()),
    })


# --- points_pyramid ----------------------------------------------------------


def points(seed: int, n: int) -> dict:
    """n single-point features."""
    rng = rng_for(seed, "points")
    mx, my = clustered(rng, n)
    idx = np.arange(n + 1, dtype=np.int64)
    table = features_table(
        idx[:-1], np.ones(n, np.int32), mx, my, idx,
        np.tile(np.array([0, 1], np.int32), n), 2 * idx, captions(rng, n),
    )
    return {"mx": mx, "my": my, "table": table}


# --- polygons ----------------------------------------------------------------


def _ring(cx, cy, rx, ry, k, phase, radii=None):
    ang = phase + np.linspace(0.0, 2.0 * np.pi, k, endpoint=False)
    rad = 1.0 if radii is None else radii
    xs = cx + rx * rad * np.cos(ang)
    ys = cy + ry * rad * np.sin(ang)
    return np.append(xs, xs[0]), np.append(ys, ys[0])


def polygon_rings(rng: np.random.Generator, kind: str, cx: float, cy: float, r: float):
    """Closed rings [(xs, ys), ...] of one polygon of ``kind`` centred
    at (cx, cy) with radius about r."""
    phase = rng.uniform(0.0, 2.0 * np.pi)
    if kind == "quad":
        b = r * rng.uniform(0.3, 1.0)
        return [(np.array([cx - r, cx + r, cx + r, cx - r, cx - r]),
                 np.array([cy - b, cy - b, cy + b, cy + b, cy - b]))]
    if kind == "convex":
        return [_ring(cx, cy, r, r * rng.uniform(0.5, 1.0), int(rng.integers(6, 25)), phase)]
    if kind == "concave":
        k = int(rng.integers(5, 31))
        radii = np.where(np.arange(2 * k) % 2 == 0, 1.0, rng.uniform(0.3, 0.7))
        return [_ring(cx, cy, r, r, 2 * k, phase, radii)]
    if kind == "holed":
        k = int(rng.integers(8, 21))
        hx, hy = _ring(cx, cy, 0.4 * r, 0.4 * r, max(4, k // 2), phase)
        return [_ring(cx, cy, r, r, k, phase), (hx[::-1], hy[::-1])]
    return [
        _ring(cx + (p - 1) * 2.6 * r, cy, 0.8 * r, 0.8 * r, int(rng.integers(4, 13)), phase)
        for p in range(int(rng.integers(2, 4)))
    ]


def _polygon_table(fids, geoms, caps) -> pa.Table:
    """geoms: list of ring lists -> canonical feature table."""
    xs = [r[0] for g in geoms for r in g]
    ys = [r[1] for g in geoms for r in g]
    ring_len = np.array([len(r) for r in xs], dtype=np.int64)
    n_rings = np.array([len(g) for g in geoms], dtype=np.int64)
    ring_end = np.cumsum(ring_len)
    feat_ring_end = np.cumsum(n_rings)
    coord_offs = np.concatenate(([0], ring_end[feat_ring_end - 1]))
    # per-feature part offsets relative to the feature's first vertex
    ring_start = ring_end - ring_len
    feat_of_ring = np.repeat(np.arange(len(geoms)), n_rings)
    rel_start = ring_start - coord_offs[feat_of_ring]
    rel_end = rel_start + ring_len
    parts, part_offs = [], [0]
    for f in range(len(geoms)):
        lo, hi = feat_ring_end[f] - n_rings[f], feat_ring_end[f]
        parts.append(np.concatenate(([0], rel_end[lo:hi])))
        part_offs.append(part_offs[-1] + hi - lo + 1)
    return features_table(
        fids, np.full(len(geoms), 3, np.int32), np.concatenate(xs), np.concatenate(ys),
        coord_offs, np.concatenate(parts).astype(np.int32), part_offs, caps,
    )


def polygons(seed: int, n: int) -> dict:
    """n footprint polygons of mixed kinds, radius log-uniform over
    POLY_RADIUS_M. Returns the table and each feature's bbox."""
    rng = rng_for(seed, "polygons")
    cx, cy = clustered(rng, n)
    kinds = mix(rng, POLY_KIND_SHARE, n)
    radius = log_grid(rng, *POLY_RADIUS_M, n)
    geoms = [polygon_rings(rng, POLY_KINDS[k], x, y, r) for k, x, y, r in zip(kinds, cx, cy, radius)]
    bbox = np.array([
        (min(r[0].min() for r in g), min(r[1].min() for r in g),
         max(r[0].max() for r in g), max(r[1].max() for r in g))
        for g in geoms
    ])
    table = _polygon_table(np.arange(n, dtype=np.int64), geoms, captions(rng, n))
    return {"table": table, "bbox": bbox}


# --- pip_join ----------------------------------------------------------------


def regions(seed: int, n: int) -> dict:
    """n regions of mixed kinds and sizes. Region r < N_CLUSTERS is the
    centre of point cluster r (``pip_points``)."""
    rng = rng_for(seed, "regions")
    # the hot regions, centres of the point clusters, have the same kind,
    # size and shape under every seed; only their positions move. The
    # rest have the same multiset of kinds and sizes under every seed.
    hot = np.arange(N_CLUSTERS)
    rest = n - N_CLUSTERS
    size_cls = np.concatenate((hot % 2, mix(rng, [s[0] for s in REGION_SIZES], rest)))
    kinds = np.concatenate((hot % len(REGION_KINDS), mix(rng, [1.0 / len(REGION_KINDS)] * len(REGION_KINDS), rest)))
    half = np.sqrt([REGION_SIZES[c][1] * REGION_SIZES[c][2] for c in size_cls])
    for c, (_, lo, hi) in enumerate(REGION_SIZES):
        sel = N_CLUSTERS + np.flatnonzero(size_cls[N_CLUSTERS:] == c)
        half[sel] = log_grid(rng, lo, hi, len(sel))
    # hot centres sit on a jittered two-row grid in a band of their own,
    # so a hot cluster never falls inside another region: which regions
    # overlap which clusters would otherwise swing the pair count by a
    # third from seed to seed
    slot = np.arange(N_CLUSTERS) // 2
    cx = np.empty(n)
    cy = np.empty(n)
    cx[hot] = -0.9 * W + (slot + rng.uniform(0.3, 0.7, N_CLUSTERS)) * (1.8 * W / (N_CLUSTERS // 2))
    cy[hot] = np.where(hot % 2 == 0, 0.6 * W, 0.72 * W) + rng.uniform(-0.02, 0.02, N_CLUSTERS) * W
    cx[N_CLUSTERS:] = rng.uniform(-0.9 * W, 0.9 * W, rest)
    cy[N_CLUSTERS:] = rng.uniform(-Y_MAX, 0.5 * W - half[N_CLUSTERS:])
    shape_rng = rng_for(0, "hot_regions")
    geoms = [
        polygon_rings(shape_rng if i < N_CLUSTERS else rng, REGION_KINDS[k], x, y, r)
        for i, (k, x, y, r) in enumerate(zip(kinds, cx, cy, half))
    ]
    xs = [np.concatenate([r[0] for r in g]) for g in geoms]
    ys = [np.concatenate([r[1] for r in g]) for g in geoms]
    offs = [np.concatenate(([0], np.cumsum([len(r[0]) for r in g]))) for g in geoms]
    table = pa.table({
        "region_id": pa.array(np.arange(n, dtype=np.int64)),
        "xs": pa.array([x.tolist() for x in xs], type=pa.list_(pa.float64())),
        "ys": pa.array([y.tolist() for y in ys], type=pa.list_(pa.float64())),
        "ring_offsets": pa.array([o.tolist() for o in offs], type=pa.list_(pa.int32())),
    })
    return {
        "table": table, "xs": xs, "ys": ys, "ring_offs": offs,
        "centres": (cx[:N_CLUSTERS], cy[:N_CLUSTERS], half[:N_CLUSTERS]),
    }


def pip_points(seed: int, n: int, centres) -> dict:
    """n points clustered on the first N_CLUSTERS regions (spread = the
    region's half-width) over a uniform background."""
    rng = rng_for(seed, "pip_points")
    cx, cy, half = centres
    mx, my = clustered(rng, n, cx, cy, half)
    table = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "mx": pa.array(mx),
        "my": pa.array(my),
    })
    return {"mx": mx, "my": my, "table": table}
