"""Polygon→cell covering ("polyfill") on the engine's quadkey grid —
the H3/S2 ``polyfill`` analogue over the same z-cell space the tiling
pipeline shuffles on (SURVEY §2 T15 family). The reference's spatial
filter asks "which tiles does this geometry touch" per zoom
(processor's tile loop over the layer envelope); this operator answers
it EXACTLY — bbox fan-out (assign_tiles' A.2 ranges) pruned to the
cells whose closed box truly intersects the filled polygon — which is
what a region-indexing equi-join needs at 100 TB: join images to
regions on cell_id instead of running PIP against every region.

Exact closed-set intersection test, fully vectorized per Arrow batch
(no per-cell Python):
  cell ∩ polygon ≠ ∅  ⇔  a polygon vertex lies in the cell box
                       ∨ a polygon edge crosses the cell box
                       ∨ the cell center is inside the polygon
(first two catch every boundary overlap; if neither holds the cell is
entirely inside or outside, decided by its center — even-odd fill over
all rings, so holes subtract). Vertex containment is O(V) binning;
edge crossing enumerates (edge, cell) pairs by per-edge bbox ranges —
the repeat/rank trick from assign_tiles — and accepts with a
vectorized Liang–Barsky interval test; center PIP runs points_in_ring
per ring XOR-folded (even-odd).

Cell boundaries are dyadic fractions of the mercator world width, so
every comparison is exact in float64; boundary touches count as
intersecting (closed semantics, pinned by the q_cell_cover oracle).

Scale: candidates per feature = its bbox cell count at z — bounded by
(size/span)^2. A continent-sized polygon at z=14 would fan out
millions of candidates; ``max_cells_per_feature`` guards that (raise,
don't OOM) — the 100 TB path for huge regions is hierarchical descent
(coarse cover at z-k, refine only boundary cells), which composes from
this same kernel and is left as the documented scale-out, mirroring
S2's RegionCoverer design.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.functions import pip as pipmod
from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.operators.grouped import trim_zip_import_caches

COVER_SCHEMA = "feature_id long, z int, cx long, cy long"


def _closed_cell_ranges(minx, miny, maxx, maxy, z):
    """Inclusive candidate cell ranges under CLOSED-box semantics:
    floor ranges, extended one cell on the LO side when the envelope's
    min edge lies exactly ON a cell boundary (the touching cell also
    intersects; the hi side needs no extension because floor of an
    exact boundary already names the right/lower cell and the interior
    one is inside the range). Vectorized; clamped to the world grid."""
    span = tm.tile_span(z)
    n = (1 << z) - 1
    fx_lo = (np.asarray(minx) + tm.W) / span
    fx_hi = (np.asarray(maxx) + tm.W) / span
    fy_lo = (tm.W - np.asarray(maxy)) / span  # cy grows downward
    fy_hi = (tm.W - np.asarray(miny)) / span
    lox = np.floor(fx_lo).astype(np.int64) - (fx_lo == np.floor(fx_lo))
    loy = np.floor(fy_lo).astype(np.int64) - (fy_lo == np.floor(fy_lo))
    hix = np.floor(fx_hi).astype(np.int64)
    hiy = np.floor(fy_hi).astype(np.int64)
    return (
        np.clip(lox, 0, n), np.clip(hix, 0, n),
        np.clip(loy, 0, n), np.clip(hiy, 0, n),
    )


def _edge_box_cross(
    ex0, ey0, ex1, ey1, bx0, by0, bx1, by1
) -> np.ndarray:
    """Vectorized Liang–Barsky ACCEPT test: does segment i intersect
    closed box i? All arrays same length; returns bool mask."""
    dx = ex1 - ex0
    dy = ey1 - ey0
    t0 = np.zeros_like(ex0)
    t1 = np.ones_like(ex0)
    ok = np.ones(len(ex0), dtype=bool)
    for p, q in (
        (-dx, ex0 - bx0),
        (dx, bx1 - ex0),
        (-dy, ey0 - by0),
        (dy, by1 - ey0),
    ):
        # p == 0: parallel — reject iff outside this slab (q < 0)
        par = p == 0
        ok &= ~(par & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        enter = p < 0  # entering the slab
        t0 = np.where(~par & enter, np.maximum(t0, r), t0)
        t1 = np.where(~par & ~enter & (p != 0), np.minimum(t1, r), t1)
    return ok & (t0 <= t1)


def _cover_one(
    xs: np.ndarray,
    ys: np.ndarray,
    offs: np.ndarray,
    z: int,
    max_cells: int,
    fill: bool = True,
    window: tuple[int, int, int, int] | None = None,
    classify: bool = False,
):
    """Exact covering cells (cx, cy arrays) of one geometry at zoom z.
    ``fill`` enables the interior stage (center PIP) — polygons only;
    points/lines cover exactly the cells their vertices/segments touch.
    ``window`` (lox, hix, loy, hiy inclusive) restricts candidates to a
    sub-grid — the hierarchical-refine hook. ``classify=True``
    additionally returns a boolean array: True where the cell touches
    the geometry's BOUNDARY (vertex/edge stages), False where it was
    decided interior by the fill stage."""
    span = tm.tile_span(z)
    n_cells_axis = 1 << z
    lox, hix, loy, hiy = _closed_cell_ranges(
        np.array([xs.min()]), np.array([ys.min()]),
        np.array([xs.max()]), np.array([ys.max()]), z,
    )
    lox, hix, loy, hiy = int(lox[0]), int(hix[0]), int(loy[0]), int(hiy[0])
    if window is not None:
        lox = max(lox, window[0]); hix = min(hix, window[1])
        loy = max(loy, window[2]); hiy = min(hiy, window[3])
        if lox > hix or loy > hiy:
            empty = np.empty(0, dtype=np.int64)
            return (empty, empty, np.empty(0, bool)) if classify else (empty, empty)
    nx, ny = hix - lox + 1, hiy - loy + 1
    if nx * ny > max_cells:
        raise ValueError(
            f"cover_polygon_cells: feature fans out to {nx * ny} candidate "
            f"cells at z={z} (> max_cells_per_feature={max_cells}); cover "
            "at a coarser zoom and refine hierarchically"
        )
    # candidate grid
    cand_cx = (lox + np.arange(nx * ny) // ny).astype(np.int64)
    cand_cy = (loy + np.arange(nx * ny) % ny).astype(np.int64)
    hit = np.zeros(nx * ny, dtype=bool)

    def key_of(cx, cy):
        return (cx - lox) * ny + (cy - loy)

    # 1) vertex-in-box: bin each vertex to its cell (closed boxes: a
    # vertex ON a boundary is in BOTH adjacent cells — mark the four
    # floor/ceil combinations when exactly on a line)
    vfx = (xs + tm.W) / span
    vfy = (tm.W - ys) / span
    for ox in (0, 1):
        for oy in (0, 1):
            cx = np.floor(vfx).astype(np.int64) - ox * (vfx == np.floor(vfx))
            cy = np.floor(vfy).astype(np.int64) - oy * (vfy == np.floor(vfy))
            m = (cx >= lox) & (cx <= hix) & (cy >= loy) & (cy <= hiy)
            m &= (cx >= 0) & (cx < n_cells_axis) & (cy >= 0) & (cy < n_cells_axis)
            hit[key_of(cx[m], cy[m])] = True

    # 2) edge-crossing: per-part consecutive pairs; polygon rings that
    # aren't explicitly closed also get the closing edge (open
    # polylines must NOT — a wrap edge would cover cells the line
    # never touches), candidates by per-edge bbox
    e0x, e0y, e1x, e1y = [], [], [], []
    for r in range(len(offs) - 1):
        a, b = offs[r], offs[r + 1]
        if b - a < 2:
            continue
        rx, ry = xs[a:b], ys[a:b]
        x0, y0 = rx[:-1], ry[:-1]
        x1, y1 = rx[1:], ry[1:]
        if fill and (rx[0] != rx[-1] or ry[0] != ry[-1]):
            x0 = np.append(x0, rx[-1]); y0 = np.append(y0, ry[-1])
            x1 = np.append(x1, rx[0]); y1 = np.append(y1, ry[0])
        e0x.append(x0); e0y.append(y0); e1x.append(x1); e1y.append(y1)
    if e0x:
        e0x = np.concatenate(e0x); e0y = np.concatenate(e0y)
        e1x = np.concatenate(e1x); e1y = np.concatenate(e1y)
        elox, ehix, eloy, ehiy = _closed_cell_ranges(
            np.minimum(e0x, e1x), np.minimum(e0y, e1y),
            np.maximum(e0x, e1x), np.maximum(e0y, e1y), z,
        )
        elox = np.maximum(elox, lox); ehix = np.minimum(ehix, hix)
        eloy = np.maximum(eloy, loy); ehiy = np.minimum(ehiy, hiy)
        enx = np.maximum(ehix - elox + 1, 0)
        eny = np.maximum(ehiy - eloy + 1, 0)
        cnt = enx * eny
        tot = int(cnt.sum())
        if tot:
            rep = np.repeat(np.arange(len(cnt)), cnt)
            starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            rank = np.arange(tot) - np.repeat(starts, cnt)
            pcx = elox[rep] + rank // eny[rep]
            pcy = eloy[rep] + rank % eny[rep]
            bx0 = -tm.W + pcx * span
            by1 = tm.W - pcy * span  # cell top (merc y decreases with cy)
            cross = _edge_box_cross(
                e0x[rep], e0y[rep], e1x[rep], e1y[rep],
                bx0, by1 - span, bx0 + span, by1,
            )
            hit[key_of(pcx[cross], pcy[cross])] = True

    boundary = hit.copy()  # stages 1-2 = boundary-touching cells

    # 3) undecided cells: even-odd PIP of the center over all rings
    rest = np.flatnonzero(~hit) if fill else np.empty(0, dtype=np.int64)
    if len(rest):
        ccx = -tm.W + (cand_cx[rest] + 0.5) * span
        ccy = tm.W - (cand_cy[rest] + 0.5) * span
        inside = np.zeros(len(rest), dtype=bool)
        for r in range(len(offs) - 1):
            a, b = offs[r], offs[r + 1]
            if b - a < 3:
                continue
            inside ^= pipmod.points_in_ring(ccx, ccy, xs[a:b], ys[a:b])
        hit[rest[inside]] = True

    sel = np.flatnonzero(hit)
    if classify:
        return cand_cx[sel], cand_cy[sel], boundary[sel]
    return cand_cx[sel], cand_cy[sel]


def _cover_candidates(
    xs: np.ndarray,
    ys: np.ndarray,
    offs: np.ndarray,
    z: int,
    cand_cx: np.ndarray,
    cand_cy: np.ndarray,
    fill: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact covering decision restricted to an EXPLICIT candidate
    cell set (the hierarchical refine path): the vertex/edge/center
    stages run ONCE over the whole geometry — O(V + E + |cand|) — and
    hits are matched into the candidate set by sorted-key search, so
    per-window geometry rescans disappear. Same closed-set semantics
    as _cover_one (shared _edge_box_cross / points_in_ring kernels)."""
    span = tm.tile_span(z)
    n = len(cand_cx)
    if n == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    keys = (cand_cx.astype(np.int64) << 32) | cand_cy.astype(np.int64)
    order = np.argsort(keys, kind="mergesort")
    skeys = keys[order]
    hit = np.zeros(n, dtype=bool)

    def mark(cx: np.ndarray, cy: np.ndarray) -> None:
        if not len(cx):
            return
        k = (cx.astype(np.int64) << 32) | cy.astype(np.int64)
        pos = np.searchsorted(skeys, k)
        ok = (pos < n) & (skeys[np.minimum(pos, n - 1)] == k)
        hit[order[pos[ok]]] = True

    # stage 1: vertex binning with closed-boundary combos
    vfx = (xs + tm.W) / span
    vfy = (tm.W - ys) / span
    for ox in (0, 1):
        for oy in (0, 1):
            cx = np.floor(vfx).astype(np.int64) - ox * (vfx == np.floor(vfx))
            cy = np.floor(vfy).astype(np.int64) - oy * (vfy == np.floor(vfy))
            mark(cx, cy)

    # stage 2: per-edge bbox enumeration (bounded by the geometry's
    # own boundary length at z), Liang-Barsky accept, then candidate
    # membership
    e0x, e0y, e1x, e1y = [], [], [], []
    for r in range(len(offs) - 1):
        a, b = offs[r], offs[r + 1]
        if b - a < 2:
            continue
        rx, ry = xs[a:b], ys[a:b]
        x0, y0 = rx[:-1], ry[:-1]
        x1, y1 = rx[1:], ry[1:]
        if fill and (rx[0] != rx[-1] or ry[0] != ry[-1]):
            x0 = np.append(x0, rx[-1]); y0 = np.append(y0, ry[-1])
            x1 = np.append(x1, rx[0]); y1 = np.append(y1, ry[0])
        e0x.append(x0); e0y.append(y0); e1x.append(x1); e1y.append(y1)
    if e0x:
        e0x = np.concatenate(e0x); e0y = np.concatenate(e0y)
        e1x = np.concatenate(e1x); e1y = np.concatenate(e1y)
        elox, ehix, eloy, ehiy = _closed_cell_ranges(
            np.minimum(e0x, e1x), np.minimum(e0y, e1y),
            np.maximum(e0x, e1x), np.maximum(e0y, e1y), z,
        )
        enx = np.maximum(ehix - elox + 1, 0)
        eny = np.maximum(ehiy - eloy + 1, 0)
        cnt = enx * eny
        tot = int(cnt.sum())
        if tot:
            rep = np.repeat(np.arange(len(cnt)), cnt)
            starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            rank = np.arange(tot) - np.repeat(starts, cnt)
            pcx = elox[rep] + rank // eny[rep]
            pcy = eloy[rep] + rank % eny[rep]
            bx0 = -tm.W + pcx * span
            by1 = tm.W - pcy * span
            cross = _edge_box_cross(
                e0x[rep], e0y[rep], e1x[rep], e1y[rep],
                bx0, by1 - span, bx0 + span, by1,
            )
            mark(pcx[cross], pcy[cross])

    # stage 3: undecided candidates -> even-odd center PIP
    rest = np.flatnonzero(~hit) if fill else np.empty(0, dtype=np.int64)
    if len(rest):
        ccx = -tm.W + (cand_cx[rest] + 0.5) * span
        ccy = tm.W - (cand_cy[rest] + 0.5) * span
        inside = np.zeros(len(rest), dtype=bool)
        for r in range(len(offs) - 1):
            a, b = offs[r], offs[r + 1]
            if b - a < 3:
                continue
            inside ^= pipmod.points_in_ring(ccx, ccy, xs[a:b], ys[a:b])
        hit[rest[inside]] = True

    sel = np.flatnonzero(hit)
    return cand_cx[sel], cand_cy[sel]


def _cover_one_hier(
    xs: np.ndarray,
    ys: np.ndarray,
    offs: np.ndarray,
    z: int,
    coarse_dz: int,
    max_cells: int,
    fill: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """S2-RegionCoverer-style hierarchical covering: cover at the
    coarse level z−coarse_dz, expand INTERIOR coarse cells to all
    4^dz children directly (a fill-decided cell has no boundary
    crossing, so every child intersects), and run the exact kernel
    only inside each boundary coarse cell's child window (plus its
    8-neighbor halo — see inline comment — for float robustness on
    boundary-grazing geometry). Total work is
    O(V + E + interior + boundary · 4^dz): the refine runs as ONE
    candidate-set pass (_cover_candidates) over the union of all
    halo windows' children, so the geometry's vertex/edge stages are
    scanned once, never per window. Output set is IDENTICAL to the
    flat cover (gated by q_cell_cover_hier against the same twin)."""
    zc = max(0, z - coarse_dz)
    if zc >= z:
        return _cover_one(xs, ys, offs, z, max_cells, fill)
    ccx, ccy, is_bnd = _cover_one(
        xs, ys, offs, zc, max_cells, fill, classify=True
    )
    s = 1 << (z - zc)
    out_x: list[np.ndarray] = []
    out_y: list[np.ndarray] = []
    icx, icy = ccx[~is_bnd], ccy[~is_bnd]
    if len(icx):
        q = np.arange(s * s, dtype=np.int64)
        out_x.append((icx[:, None] * s + (q % s)[None, :]).ravel())
        out_y.append((icy[:, None] * s + (q // s)[None, :]).ravel())
    # refine every boundary coarse cell PLUS its 8-neighbor HALO
    # (minus interior cells, already expanded). The halo is the
    # float-robustness guarantee: boundary detection at zc and z are
    # DIFFERENT float expressions, so a geometry grazing a coarse-cell
    # edge can be binned one ulp into the neighbor at zc while a child
    # on this side is flat-covered at z — wherever the float test DID
    # bin the graze, that coarse cell is boundary, and the missed
    # parent is one of its neighbors, so halo refinement recovers its
    # children exactly (regression-pinned on a corner-vertex corpus).
    interior_keys = set(zip(icx.tolist(), icy.tolist()))
    n_axis_c = 1 << zc
    refine: set[tuple[int, int]] = set()
    for bx, by in zip(ccx[is_bnd].tolist(), ccy[is_bnd].tolist()):
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nx_, ny_ = bx + dx, by + dy
                if (
                    0 <= nx_ < n_axis_c
                    and 0 <= ny_ < n_axis_c
                    and (nx_, ny_) not in interior_keys
                ):
                    refine.add((nx_, ny_))
    if refine:
        # ONE exact pass over the union of all refine windows' children:
        # the geometry's vertex/edge stages run once (O(V+E)), not once
        # per window, and the candidate array is exactly the refine
        # footprint (boundary-halo cells × 4^dz children)
        rxs = np.array(sorted(refine), dtype=np.int64)
        if len(rxs) * s * s > max_cells:
            raise ValueError(
                f"cover_polygon_cells_hier: refine footprint "
                f"{len(rxs) * s * s} child cells exceeds "
                f"max_cells_per_feature={max_cells}"
            )
        q = np.arange(s * s, dtype=np.int64)
        cand_cx = (rxs[:, 0][:, None] * s + (q % s)[None, :]).ravel()
        cand_cy = (rxs[:, 1][:, None] * s + (q // s)[None, :]).ravel()
        rx, ry = _cover_candidates(xs, ys, offs, z, cand_cx, cand_cy, fill)
        out_x.append(rx)
        out_y.append(ry)
    if not out_x:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    # interior cells and refine windows are disjoint coarse cells, so
    # the concatenation is duplicate-free by construction
    return np.concatenate(out_x), np.concatenate(out_y)


def _cover_stage(features: DataFrame, z: int, kernel) -> DataFrame:
    """Shared mapInPandas body of the flat and hierarchical covering
    stages: one generator, parameterized by the per-feature kernel
    (kernel(xs, ys, offs, fill) -> (cx, cy)), so the geom_type fill
    dispatch and output assembly cannot drift between the two paths."""
    from mapnik_vector_tile_spark.functions import geomcodec as gc

    def gen(batches):
        trim_zip_import_caches()
        for pdf in batches:
            out_fid, out_cx, out_cy = [], [], []
            for fid, gt, xs, ys, offs in zip(
                pdf["feature_id"], pdf["geom_type"],
                pdf["xs"], pdf["ys"], pdf["part_offsets"],
            ):
                cx, cy = kernel(
                    np.asarray(xs, dtype=np.float64),
                    np.asarray(ys, dtype=np.float64),
                    np.asarray(offs, dtype=np.int64),
                    int(gt) == gc.GEOM_POLYGON,
                )
                out_fid.append(np.full(len(cx), int(fid), dtype=np.int64))
                out_cx.append(cx)
                out_cy.append(cy)
            if not out_fid:
                continue
            fid = np.concatenate(out_fid)
            yield pd.DataFrame({
                "feature_id": fid,
                "z": np.full(len(fid), z, dtype=np.int32),
                "cx": np.concatenate(out_cx),
                "cy": np.concatenate(out_cy),
            })

    return features.mapInPandas(gen, schema=COVER_SCHEMA)


def cover_polygon_cells_hier(
    features: DataFrame,
    z: int,
    coarse_dz: int = 4,
    max_cells_per_feature: int = 65536,
) -> DataFrame:
    """Hierarchical twin of cover_polygon_cells (same output relation,
    same schema): coarse cover → interior expand + boundary refine.
    Use when features span many cells at z (the flat kernel's
    candidate guard); same narrow no-shuffle plan shape."""
    return _cover_stage(
        features,
        z,
        lambda xs, ys, offs, fill: _cover_one_hier(
            xs, ys, offs, z, coarse_dz, max_cells_per_feature, fill
        ),
    )


def cover_polygon_cells(
    features: DataFrame,
    z: int,
    max_cells_per_feature: int = 65536,
) -> DataFrame:
    """features (canonical FEATURES_SCHEMA) → one row per
    (feature_id, z, cx, cy) covering cell. Non-polygon rows use the
    same vertex/edge stages but SKIP the interior-fill stage (a point
    covers the cell(s) containing it; a line covers exactly the cells
    its segments touch — the center-PIP stage would otherwise
    implicitly close an open polyline into a ring and cover its
    interior, which is wrong for trajectories)."""
    return _cover_stage(
        features,
        z,
        lambda xs, ys, offs, fill: _cover_one(
            xs, ys, offs, z, max_cells_per_feature, fill
        ),
    )


# --- compaction (S2 CellUnion::Normalize analogue on the quad grid) -------------


def compact_cells(cells: DataFrame, levels: int = 8) -> DataFrame:
    """Normalize a single-zoom cell set into its minimal quadtree
    cover: wherever all 4 children of a parent are present, the parent
    replaces them, cascading up to ``levels`` rounds — the S2
    ``CellUnion::Normalize`` analogue on the engine's quad grid. A
    polyfill at z=14 over a large region is mostly solid interior;
    compaction shrinks it geometrically (a filled 2^k×2^k block
    becomes ONE cell), which is what you ship to a broadcast join.

    Input (feature_id, z, cx, cy) with one z per feature (the
    cover_polygon_cells output). Output is the mixed-z minimal cover.

    Plan: per round, ONE partial+final count aggregation on the parent
    key and one anti join of the children against the full-parent set
    — both shuffle on (feature_id, parent) so rounds stay balanced;
    the loop is driver-side plan construction only (no data motion
    beyond the per-round shuffles, no collect). levels bounds plan
    depth the way the kNN ring loop does."""
    out_parts: list[DataFrame] = []
    cur = cells
    for _ in range(max(0, levels)):
        tagged = cur.withColumn("_px", F.shiftright("cx", 1)).withColumn(
            "_py", F.shiftright("cy", 1)
        )
        full = (
            tagged.groupBy("feature_id", "_px", "_py")
            .agg(F.count(F.lit(1)).alias("_n"), F.max("z").alias("_z"))
            .filter(F.col("_n") == 4)
        )
        out_parts.append(
            tagged.join(
                full.select("feature_id", "_px", "_py"),
                ["feature_id", "_px", "_py"],
                "left_anti",
            ).drop("_px", "_py")
        )
        cur = full.select(
            "feature_id",
            (F.col("_z") - 1).cast("int").alias("z"),
            F.col("_px").alias("cx"),
            F.col("_py").alias("cy"),
        )
    out_parts.append(cur)
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out.select("feature_id", "z", "cx", "cy")


def uncompact_cells(cells: DataFrame, to_z: int) -> DataFrame:
    """Inverse of compact_cells: expand every cell to its 4^(to_z−z)
    descendants at ``to_z`` — pure Column algebra (sequence explode),
    no Python. Cells already at to_z pass through; a cell FINER than
    to_z fails the run with an assert (Java shiftleft takes the count
    mod 64, so a negative dz would otherwise silently emit garbage
    rows instead of erroring)."""
    cells = cells.filter(
        F.assert_true(
            F.col("z") <= F.lit(int(to_z)),
            F.concat(F.lit(f"uncompact_cells: input z > to_z={int(to_z)}")),
        ).isNull()
    )
    s = F.expr(f"shiftleft(1L, {int(to_z)} - z)")
    return (
        cells.withColumn("_s", s)
        .withColumn(
            "_q", F.explode(F.sequence(F.lit(0).cast("long"),
                                       F.col("_s") * F.col("_s") - 1))
        )
        .select(
            "feature_id",
            F.lit(int(to_z)).alias("z"),
            (F.col("cx") * F.col("_s") + F.col("_q") % F.col("_s")).alias("cx"),
            (F.col("cy") * F.col("_s")
             + F.floor(F.col("_q") / F.col("_s")).cast("long")).alias("cy"),
        )
    )


def cover_polygon_cells_classified(
    features: DataFrame,
    z: int,
    max_cells_per_feature: int = 65536,
) -> DataFrame:
    """cover_polygon_cells + the Raster-Intervals classification
    (Georgiadis & Mamoulis, SIGMOD 2023 'Raster Intervals'): each
    covering cell is flagged ``boundary`` (PARTIAL — touched by a
    vertex/edge stage) or not (FULL — decided by the interior fill, so
    the cell lies ENTIRELY inside the polygon: no edge crosses it and
    its center is inside). FULL cells are what make intersection
    joins cheap: any pair sharing a cell where either side is FULL
    intersects DEFINITIVELY — only PARTIAL x PARTIAL cells ever need
    exact geometry. Non-polygon features have no fill stage, so every
    cell is boundary=True (correct: nothing is 'full' for a line)."""
    from mapnik_vector_tile_spark.functions import geomcodec as gc

    def gen(batches):
        trim_zip_import_caches()
        for pdf in batches:
            out_fid, out_cx, out_cy, out_b = [], [], [], []
            for fid, gt, xs, ys, offs in zip(
                pdf["feature_id"], pdf["geom_type"],
                pdf["xs"], pdf["ys"], pdf["part_offsets"],
            ):
                cx, cy, bnd = _cover_one(
                    np.asarray(xs, dtype=np.float64),
                    np.asarray(ys, dtype=np.float64),
                    np.asarray(offs, dtype=np.int64),
                    z,
                    max_cells_per_feature,
                    int(gt) == gc.GEOM_POLYGON,
                    classify=True,
                )
                out_fid.append(np.full(len(cx), int(fid), dtype=np.int64))
                out_cx.append(cx)
                out_cy.append(cy)
                out_b.append(bnd)
            if not out_fid:
                continue
            fid = np.concatenate(out_fid)
            yield pd.DataFrame({
                "feature_id": fid,
                "z": np.full(len(fid), z, dtype=np.int32),
                "cx": np.concatenate(out_cx),
                "cy": np.concatenate(out_cy),
                "boundary": np.concatenate(out_b),
            })

    return features.mapInPandas(
        gen, schema=COVER_SCHEMA + ", boundary boolean"
    )


def areal_interpolate(
    src_feats: DataFrame,
    src_vals: DataFrame,
    tgt_feats: DataFrame,
    z: int,
) -> DataFrame:
    """J13 areal interpolation — reallocate source-polygon values
    (census population, counts) onto a DIFFERENT target tessellation
    proportionally to spatial overlap, the standard GIS areal-
    weighting method (Tobler; PySAL tobler.area_weighted), with cell
    covers as the overlap measure: both sides run the exact covering
    kernel, overlap_ij = |cells(S_i) ∩ cells(T_j)|, and the
    allocation (value_i · overlap_ij) div |cells(S_i)| stays exact
    integer (deterministic floor, no float weights).

    Scale: two covering passes (narrow), one cell-key equi-join
    (partitioned on the cell — the J4 shape), two partial-agg
    group-bys. Output per target: n_src (contributing sources),
    sum_overlap (cells), alloc (Σ floor allocations)."""
    sc = cover_polygon_cells(src_feats, z).select(
        F.col("feature_id").alias("sid"), "cx", "cy"
    )
    tc = cover_polygon_cells(tgt_feats, z).select(
        F.col("feature_id").alias("tid"), "cx", "cy"
    )
    n_src = sc.groupBy("sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells_s")
    )
    ov = (
        sc.join(tc, ["cx", "cy"])
        .groupBy("sid", "tid")
        .agg(F.count(F.lit(1)).cast("long").alias("ov"))
    )
    alloc = (
        ov.join(F.broadcast(n_src), "sid")
        .join(F.broadcast(src_vals), "sid")
        .select(
            "tid",
            "ov",
            F.expr("(value * ov) div n_cells_s").alias("a"),
        )
    )
    return alloc.groupBy("tid").agg(
        F.count(F.lit(1)).cast("long").alias("n_src"),
        F.sum("ov").cast("long").alias("sum_overlap"),
        F.sum("a").cast("long").alias("alloc"),
    )
