"""The benchmark's three workloads.

Each workload generates its inputs from the seed (``generate``), runs
one closed-loop job through the engine's public functions (``job``,
the timed region, returning a small summary computed in Spark), and
checks that summary against values derived from the generated inputs
without calling the layer under test (``expected`` / ``check``).
``staged`` is the traced twin of ``job``: it materialises each stage's
output and times the public call that consumes it. It re-composes the
engine function ``job`` calls from that function's own stages, so it
must be changed together with that function; ``plan_counts`` reads the
counts both share from the plan of the engine's own run, and the traced
run fails when they disagree.

Why these three (see README.md for the layer -> metric map):

* points_pyramid   - the point path: assign fan-out, salting of hot
  low-zoom tiles, the batch singles encode, merge/fold and the shuffle.
* polygons_pyramid - clip, simplify and the per-group general encode;
  the singles fast path does no work here.
* pip_join         - the only workload for operators.joins,
  operators.cellcover and functions.pip; it never touches pbf.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen

P = 2147483647  # digest modulus: every digest term stays far below 2**63
W = gen.W


def key_hash_np(z, x, y):
    return (np.asarray(z, np.int64) * 1000003 + np.asarray(x, np.int64) * 7919
            + np.asarray(y, np.int64) * 104729) % P


def key_hash_col():
    return (F.col("z").cast("long") * 1000003 + F.col("x") * 7919 + F.col("y") * 104729) % P


def tile_summary(tiles: DataFrame, zooms: range) -> dict:
    """One aggregate over the output tiles: count, bytes, features (in
    all and per zoom), an exact digest of the per-tile feature counts
    and an order-free digest of the tile bytes."""
    r = tiles.agg(
        F.count(F.lit(1)).alias("tiles"),
        F.sum(F.length("tile")).alias("bytes"),
        F.sum("n_features").alias("features"),
        F.sum((key_hash_col() * F.col("n_features")) % P).alias("nf_digest"),
        F.bit_xor(F.xxhash64("z", "x", "y", "tile")).alias("blob_digest"),
        F.min("n_features").alias("min_features"),
        *[F.sum(F.when(F.col("z") == z, F.col("n_features"))).alias(f"features_z{z}") for z in zooms],
    ).collect()[0]
    return {k: int(r[k] or 0) for k in r.asDict()}


def persist(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialise a stage's output; returns it with its row count."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


class Workload:
    name = ""
    size = 0  # input rows at the benchmark size
    tiny = 0  # input rows for the harness tests
    pin = None  # pinned output for one seed at the benchmark size, from pins.json

    def generate(self, seed: int, size: int, work: str) -> dict:
        raise NotImplementedError

    def job(self, spark, inp: dict) -> dict:
        raise NotImplementedError

    def expected(self, inp: dict) -> dict:
        raise NotImplementedError

    def check(self, summary: dict, exp: dict) -> list[str]:
        raise NotImplementedError

    def out_bytes(self, summary: dict) -> int:
        raise NotImplementedError

    def staged(self, spark, inp: dict, tracer) -> tuple[dict, dict]:
        raise NotImplementedError

    def plan_counts(self, nodes: list[dict]) -> dict[str, float | None]:
        """Per-layer counts ``staged`` also reports, read from the plan
        nodes of one run of ``job`` (None: the plan lacks the node)."""
        raise NotImplementedError


def assign_rows(nodes: list[dict]) -> dict[str, float | None]:
    """tiling.assign.rows_out from a pyramid job's plan: the output rows
    of its ungrouped Python nodes, the assign fan-out (the encode and
    fold nodes are grouped, fed by a partition-local sort)."""
    from tracing import python_exclusive

    assign = [p["rows"] for p in python_exclusive(nodes) if not p["grouped"]]
    return {"tiling.assign.rows_out": sum(assign) if assign else None}


def _mismatch(summary: dict, exp: dict, keys) -> list[str]:
    return [f"{k}: got {summary.get(k)} want {exp[k]}" for k in keys if summary.get(k) != exp[k]]


# --- points_pyramid --------------------------------------------------------------


class PointsPyramid(Workload):
    name = "points_pyramid"
    size = 8_000
    tiny = 3_000
    Z = (0, 10)
    ZOOMS = range(Z[0], Z[1] + 1)

    def generate(self, seed, size, work):
        g = gen.points(seed, size)
        path = os.path.join(work, "points.parquet")
        gen.write_parquet(g["table"], path)
        return {"path": path, "mx": g["mx"], "my": g["my"], "rows": size}

    def _encode(self, feats):
        from mapnik_vector_tile_spark.operators import tiling as T

        return T.encode_tiles_from_features(feats, *self.Z, buffer_units=0, n_salts=16)

    def job(self, spark, inp):
        return tile_summary(self._encode(spark.read.parquet(inp["path"])), self.ZOOMS)

    def expected(self, inp):
        """With buffer 0 every point lands in exactly one tile per zoom
        (the floor cell), and the singles encoder keeps every point."""
        mx, my = inp["mx"], inp["my"]
        tiles = features = digest = 0
        for z in self.ZOOMS:
            span = 2.0 * W / (1 << z)
            lim = (1 << z) - 1
            tx = np.clip(np.floor((mx + W) / span), 0, lim).astype(np.int64)
            ty = np.clip(np.floor((W - my) / span), 0, lim).astype(np.int64)
            key, nf = np.unique(tx * (lim + 1) + ty, return_counts=True)
            tiles += len(key)
            features += int(nf.sum())
            digest += int(((key_hash_np(z, key // (lim + 1), key % (lim + 1)) * nf) % P).sum())
        return {"tiles": tiles, "features": features, "nf_digest": digest}

    def check(self, summary, exp):
        return _mismatch(summary, exp, ("tiles", "features", "nf_digest"))

    def out_bytes(self, summary):
        return summary["bytes"]

    def staged(self, spark, inp, tracer):
        """encode_tiles_from_features as its stages: the assigns of the
        two zoom ranges split at SALT_MAX_Z, their encodes, and the
        salted branch's fold. The engine fuses the merge of salted
        partials into that fold (fold_tiles_from_partials, one shuffle),
        so the merge has no span of its own; pbf.splice_merge_s times
        the merge kernel."""
        from mapnik_vector_tile_spark.operators import tiling as T

        feats = spark.read.parquet(inp["path"])
        z0, z1 = self.Z
        cut = T.SALT_MAX_Z
        m: dict[str, float] = {}
        with tracer.span("tiling.assign"):
            hi, n_hi = persist(T.assign_tiles(feats, cut + 1, z1, buffer_units=0))
            lo, n_lo = persist(T.assign_tiles(feats, z0, cut, buffer_units=0))
        m["tiling.assign.rows_out"] = n_hi + n_lo
        m.update(encode_group_counts([hi, lo]))
        with tracer.span("tiling.encode"):
            hi_tiles, _ = persist(T.encode_layer_partials(hi, buffer_units=0, n_salts=16, emit_tiles=True))
            partials, _ = persist(T.encode_layer_partials(lo, buffer_units=0, n_salts=16))
        hi.unpersist()
        lo.unpersist()
        with tracer.span("tiling.fold"):
            lo_tiles, _ = persist(T.fold_tiles_from_partials(partials))
        tiles = hi_tiles.unionByName(lo_tiles)
        summary = tile_summary(tiles, self.ZOOMS)
        m.update(decode_stage(tiles, tracer))
        for df in (hi_tiles, partials, lo_tiles):
            df.unpersist()
        return summary, m

    def plan_counts(self, nodes):
        return assign_rows(nodes)


def encode_group_counts(assigned: list[DataFrame]) -> dict[str, float]:
    """Encode groups and the share the batch singles path takes: a
    (z, x, y, salt) group goes to the batch path when every row is a
    single point with a caption (tiling.make_encode_kernel's rule)."""
    from mapnik_vector_tile_spark.operators import tiling as T

    groups = batch = 0
    for df in assigned:
        salted = T.with_salt(df, n_salts=16)
        r = (
            salted.groupBy("z", "x", "y", "salt")
            .agg(F.min(F.col("is_single").cast("int")).alias("s"),
                 F.max(F.col("caption").isNull().cast("int")).alias("na"))
            .agg(F.count(F.lit(1)).alias("g"),
                 F.sum(((F.col("s") == 1) & (F.col("na") == 0)).cast("int")).alias("b"))
            .collect()[0]
        )
        groups += int(r["g"])
        batch += int(r["b"] or 0)
    return {"tiling.encode.groups": groups,
            "tiling.encode.batch_hit_ratio": batch / groups if groups else 0.0}


# --- polygons_pyramid ------------------------------------------------------------


class PolygonsPyramid(Workload):
    name = "polygons_pyramid"
    size = 900
    tiny = 400
    Z = (6, 13)
    ZOOMS = range(Z[0], Z[1] + 1)
    BUFFER = 64
    SIMPLIFY = 1.0  # tile units

    def generate(self, seed, size, work):
        g = gen.polygons(seed, size)
        path = os.path.join(work, "polygons.parquet")
        gen.write_parquet(g["table"], path)
        return {"path": path, "bbox": g["bbox"], "rows": size, "seed": seed}

    def _encode(self, feats, **kw):
        from mapnik_vector_tile_spark.operators import tiling as T

        return T.encode_tiles_from_features(
            feats, *self.Z, buffer_units=self.BUFFER, n_salts=16,
            simplify_distance=self.SIMPLIFY, **kw,
        )

    def job(self, spark, inp):
        return tile_summary(self._encode(spark.read.parquet(inp["path"])), self.ZOOMS)

    def expected(self, inp):
        """Clipping can only drop (feature, tile) pairs from the buffered
        bbox cover, so each zoom's cover bounds that zoom's features
        from above; every polygon is at least ~60 tile units wide at the
        top zoom, so each appears in at least one top-zoom tile. The
        digest pin applies to its seed at the benchmark size."""
        b = inp["bbox"]
        max_pairs, max_tiles = {}, 0
        for z in self.ZOOMS:
            span = 2.0 * W / (1 << z)
            buf = span * self.BUFFER / 4096
            lim = (1 << z) - 1
            x0 = np.clip(np.floor((b[:, 0] - buf + W) / span), 0, lim).astype(np.int64)
            x1 = np.clip(np.floor((b[:, 2] + buf + W) / span), 0, lim).astype(np.int64)
            y0 = np.clip(np.floor((W - (b[:, 3] + buf)) / span), 0, lim).astype(np.int64)
            y1 = np.clip(np.floor((W - (b[:, 1] - buf)) / span), 0, lim).astype(np.int64)
            nx, ny = x1 - x0 + 1, y1 - y0 + 1
            max_pairs[z] = int((nx * ny).sum())
            rep = np.repeat(np.arange(len(b)), nx * ny)
            rank = np.arange(len(rep)) - np.repeat(np.cumsum(nx * ny) - nx * ny, nx * ny)
            keys = (x0[rep] + rank // ny[rep]) * (lim + 1) + y0[rep] + rank % ny[rep]
            max_tiles += len(np.unique(keys))
        exp = {"max_pairs": max_pairs, "max_tiles": max_tiles, "min_top": len(b)}
        pin = self.pin
        if pin and inp["seed"] == pin["seed"] and inp["rows"] == self.size:
            exp["pin"] = pin["summary"]
        return exp

    def check(self, summary, exp):
        errs = []
        for z, most in exp["max_pairs"].items():
            if summary[f"features_z{z}"] > most:
                errs.append(f"z{z} features {summary[f'features_z{z}']} > cover bound {most}")
        top = summary[f"features_z{self.Z[1]}"]
        if top < exp["min_top"]:
            errs.append(f"z{self.Z[1]} features {top} < {exp['min_top']} polygons")
        if summary["tiles"] > exp["max_tiles"]:
            errs.append(f"tiles {summary['tiles']} > cover bound {exp['max_tiles']}")
        if summary["min_features"] < 1:
            errs.append("a tile with no features")
        if "pin" in exp:
            errs += _mismatch(summary, exp["pin"], exp["pin"].keys())
        return errs

    def out_bytes(self, summary):
        return summary["bytes"]

    def staged(self, spark, inp, tracer):
        """Every zoom is above SALT_MAX_Z, so the engine folds each group
        to a finished tile inside the encode stage: there is no merge or
        fold stage to time on this workload."""
        from mapnik_vector_tile_spark.operators import tiling as T

        feats = spark.read.parquet(inp["path"])
        m: dict[str, float] = {}
        with tracer.span("tiling.assign"):
            assigned, m["tiling.assign.rows_out"] = persist(
                T.assign_tiles(feats, *self.Z, buffer_units=self.BUFFER))
        m.update(encode_group_counts([assigned]))
        with tracer.span("tiling.encode"):
            tiles, _ = persist(T.encode_layer_partials(
                assigned, buffer_units=self.BUFFER, n_salts=16,
                simplify_distance=self.SIMPLIFY, emit_tiles=True))
        assigned.unpersist()
        summary = tile_summary(tiles, self.ZOOMS)
        m.update(decode_stage(tiles, tracer))
        tiles.unpersist()
        return summary, m

    def plan_counts(self, nodes):
        return assign_rows(nodes)


# --- decode (traced runs of the pyramids) -------------------------------------------


def decode_stage(tiles: DataFrame, tracer) -> dict[str, float]:
    """Decode a pyramid's output tiles as one more traced stage: the
    read side of functions.pbf (singles lane and general decoder), which
    has no end-to-end workload of its own (README.md)."""
    from mapnik_vector_tile_spark.operators import tiling as T

    with tracer.span("tiling.decode"):
        feats, _ = persist(T.decode_tiles_to_features(tiles))
    feats.unpersist()
    n, fast = tiles.mapInPandas(_lane_counts, "tiles long, fast long").agg(
        F.sum("tiles"), F.sum("fast")).collect()[0]
    return {"tiling.decode.fast_ratio": int(fast) / int(n) if n else 0.0}


def _lane_counts(batches):
    """Per batch: tiles, and tiles the singles lane decodes (scan
    accepts and the batch validator keeps), as decode_tiles_to_features
    routes them."""
    from mapnik_vector_tile_spark.functions import pbf

    for pdf in batches:
        blobs = [pbf.maybe_decompress(bytes(t)) for t in pdf["tile"]]
        descs, tix, slow = [], [], 0
        for i, b in enumerate(blobs):
            d = pbf.scan_singles_tile(b)
            if d is None:
                slow += 1
            else:
                descs += d
                tix += [i] * len(d)
        if descs:
            _, bad = pbf.decode_singles_batch(descs, blobs, tix, n_tiles=len(blobs))
            slow += len(bad)
        yield pd.DataFrame({"tiles": [len(blobs)], "fast": [len(blobs) - slow]})


# --- pip_join --------------------------------------------------------------------


def brute_force_pip(qx, qy, xs, ys, offs) -> np.ndarray:
    """Even-odd ray cast over all rings, written independently of
    functions.pip (closed rings; the closing edge is zero-length)."""
    inside = np.zeros(len(qx), bool)
    for r in range(len(offs) - 1):
        rx, ry = xs[offs[r]:offs[r + 1]], ys[offs[r]:offs[r + 1]]
        x0, y0 = rx[:-1], ry[:-1]
        x1, y1 = rx[1:], ry[1:]
        for a, b, c, d in zip(x0, y0, x1, y1):
            crosses = (b > qy) != (d > qy)
            if not crosses.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = (c - a) * (qy - b) / (d - b) + a
            inside ^= crosses & (qx < xi)
    return inside


class PipJoin(Workload):
    name = "pip_join"
    size = 500_000  # points
    tiny = 20_000
    N_REGIONS = 800
    Z = 7
    SAMPLE_MOD = 16  # points with id % SAMPLE_MOD == 0 are brute-force checked

    def generate(self, seed, size, work):
        n_regions = self.N_REGIONS if size >= self.size else max(60, self.N_REGIONS * size // self.size)
        r = gen.regions(seed, n_regions)
        p = gen.pip_points(seed, size, r["centres"])
        rp = os.path.join(work, "regions.parquet")
        pp = os.path.join(work, "pip_points.parquet")
        gen.write_parquet(r["table"], rp)
        gen.write_parquet(p["table"], pp)
        return {"regions": rp, "points": pp, "r": r, "mx": p["mx"], "my": p["my"], "rows": size}

    def job(self, spark, inp):
        from mapnik_vector_tile_spark.operators import joins as J

        pairs = J.pip_join_cover(spark.read.parquet(inp["points"]), spark.read.parquet(inp["regions"]), z=self.Z)
        return self._summarise(pairs)

    def _summarise(self, pairs: DataFrame) -> dict:
        rows = pairs.groupBy("region_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("point_id") % self.SAMPLE_MOD == 0).cast("long")).alias("s"),
        ).collect()
        return {
            "pairs": sum(int(r["n"]) for r in rows),
            "sample": {int(r["region_id"]): int(r["s"]) for r in rows if r["s"]},
        }

    def expected(self, inp):
        """Brute-force pair counts per region for the sample points
        (id % SAMPLE_MOD == 0)."""
        r = inp["r"]
        qx = inp["mx"][:: self.SAMPLE_MOD]
        qy = inp["my"][:: self.SAMPLE_MOD]
        sample = {}
        for rid, (xs, ys, offs) in enumerate(zip(r["xs"], r["ys"], r["ring_offs"])):
            near = np.flatnonzero((qx >= xs.min()) & (qx <= xs.max()) & (qy >= ys.min()) & (qy <= ys.max()))
            if len(near):
                k = int(brute_force_pip(qx[near], qy[near], xs, ys, offs).sum())
                if k:
                    sample[rid] = k
        return {"sample": sample, "min_pairs": sum(sample.values())}

    def check(self, summary, exp):
        errs = []
        if summary["sample"] != exp["sample"]:
            diff = {k for k in set(summary["sample"]) | set(exp["sample"])
                    if summary["sample"].get(k) != exp["sample"].get(k)}
            errs.append(f"sample pair counts differ in {len(diff)} regions")
        if summary["pairs"] < exp["min_pairs"]:
            errs.append("fewer pairs than the sample alone")
        return errs

    def out_bytes(self, summary):
        """The join's result relation: one (point_id, region_id) pair of
        two longs per match."""
        return 16 * summary["pairs"]

    def staged(self, spark, inp, tracer):
        """pip_join_cover as its three stages: exact cell cover of the
        regions, the cell equi-join that makes candidates, and the exact
        refine (joins._refine, which has no public entry point)."""
        from mapnik_vector_tile_spark.operators import joins as J
        from mapnik_vector_tile_spark.operators.cellcover import cover_polygon_cells

        points = spark.read.parquet(inp["points"])
        regions = spark.read.parquet(inp["regions"])
        m: dict[str, float] = {}
        feats = regions.select(
            F.col("region_id").alias("feature_id"), F.lit(3).alias("geom_type"), "xs", "ys",
            F.col("ring_offsets").alias("part_offsets"), F.lit("").alias("caption"),
        )
        with tracer.span("cellcover"):
            cells, m["cellcover.cells"] = persist(cover_polygon_cells(feats, self.Z).select(
                F.col("feature_id").alias("region_id"), F.col("cx").alias("ctx"), F.col("cy").alias("cty")))
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with tracer.span("joins.candidates"):
            pts = J.with_point_cell(points, self.Z).select(
                F.col("id").alias("point_id"), "mx", "my", "ctx", "cty")
            cands, m["joins.candidates"] = persist(
                pts.repartition(n, "ctx", "cty")
                .join(cells.repartition(n, "ctx", "cty"), ["ctx", "cty"])
                .select("point_id", "region_id", "mx", "my"))
        with tracer.span("joins.refine"):
            pairs, m["joins.pairs"] = persist(J._refine(cands, regions, broadcast_geo=False))
        m["joins.refine_hit_ratio"] = m["joins.pairs"] / m["joins.candidates"] if m["joins.candidates"] else 0.0
        summary = self._summarise(pairs)
        for df in (cells, cands, pairs):
            df.unpersist()
        return summary, m

    def plan_counts(self, nodes):
        """From pip_join_cover's plan: the refine is the Python node with
        a join below it, and its output rows are the pairs; the
        candidate join is the join with no join below it (the geometry
        join above it keeps every candidate), and the Python node under
        it, on the cells side, is the cell cover."""
        from tracing import OUT_ROWS, below, index, is_python

        by_key = index(nodes)
        is_join = lambda n: "Join" in n["name"]  # noqa: E731
        for n in nodes:
            joins = [c for c in below(n, by_key) if is_join(c)] if is_python(n) else []
            if not joins:
                continue
            cand = next(j for j in joins if not any(is_join(c) for c in below(j, by_key)))
            cover = [c["metrics"].get(OUT_ROWS, 0.0) for c in below(cand, by_key) if is_python(c)]
            return {"joins.pairs": n["metrics"].get(OUT_ROWS),
                    "joins.candidates": cand["metrics"].get(OUT_ROWS),
                    "cellcover.cells": sum(cover) if cover else None}
        return {"joins.pairs": None, "joins.candidates": None, "cellcover.cells": None}


WORKLOADS = {w.name: w for w in (PointsPyramid(), PolygonsPyramid(), PipJoin())}
