"""The four cube workloads: inputs, one timed job, and its output check.

Each job drives the public API the way a user does (documents table in,
cube / chunk table / polygons out); the benchmark times it from outside.
Checks compare against the engine-free oracles of ``gen.py`` and run
after every job, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import struct

import duckdb
import numpy as np
import pandas as pd

from . import gen

COMMON = dict(input_crs=gen.CRS, output_crs=gen.CRS, resolution=(-1, 1),
              tile_size=gen.TILE)
CHUNK_COLS = ["measurement", "group_key", "zoom", "tile_id", "row0", "col0",
              "h", "w", "values", "n_geoms", "n_cells_burned", "min_seq",
              "max_seq"]


def _engine():
    import geocube_spark.cube as C
    from geocube_spark import vector as V
    from geocube_spark.plans import checkpoint as CK

    return C, CK, V


def _close(a, b, rel=1e-9):
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def _check_grid(cube, want):
    ox, oy, w, h = want
    a = cube.geobox.affine
    got = (a.c, a.f, cube.geobox.width, cube.geobox.height)
    if got != (ox, oy, w, h):
        return f"grid {got} != expected {want}"
    return None


def table_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) of a chunk table on disk."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class Workload:
    name = ""
    post_shuffle = "burn"     # what the Python stages after the shuffle do
    warmup_jobs = 1           # untimed jobs before the timed ones

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.T = seed, work, tracer
        self.docs = os.path.join(work, f"{self.name}.parquet")
        self.tables = []          # (bytes, files) of every table written
        self.cells_burned = []    # engine counters of each job's output
        self.chunks = []
        self.window_rows = {}     # job -> chunks its window reads returned
        self.polygons = []        # polygons of each vectorize_tiled call

    def generate(self):
        raise NotImplementedError

    def prepare(self, spark):
        """Untimed set-up specific to the workload (default: none)."""

    def job(self, spark, i: int) -> dict:
        raise NotImplementedError

    def check(self, out: dict):
        """None when the output is right, else a one-line reason."""
        raise NotImplementedError

    def probe(self, spark):
        """Traced runs only: extra layer calls after the timed jobs;
        returns None or, like ``check``, a one-line reason."""


class PolygonBurn(Workload):
    name = "polygon_burn"
    kept = None
    # none: the set-ups' tiny cubes ran the burn path, and the timed job
    # is the session's first make_geocube + write, as in a batch job
    warmup_jobs = 0

    def generate(self):
        self.g = gen.polygon_burn(self.seed, self.docs)

    def probe(self, spark):
        """Read the central 2x2 tiles of the last table back and
        vectorize them, so the read and vector layers have numbers on
        this workload too."""
        C, CK, V = _engine()
        cube, path, t = self.kept["cube"], self.kept["path"], gen.TILE
        gb = cube.geobox
        ox, oy = gb.affine.c, gb.affine.f
        tx, ty = gb.width // (2 * t), gb.height // (2 * t)
        bbox = (ox + (tx - 1) * t + 3.5, oy - (ty + 1) * t + 3.5,
                ox + (tx + 1) * t - 3.5, oy - (ty - 1) * t - 3.5)

        def window():
            return CK.read_cube_window(spark, path, gb, t, bbox).select(
                *CHUNK_COLS)

        with self.T.span("checkpoint.read_cube_window"):
            self.window_rows["probe"] = len(window().collect())
        back = C.GeoCube(chunks=window(), geobox=gb, bands=cube.bands,
                         tile_size=t, fill=cube.fill)
        with self.T.span("vector.vectorize_tiled"):
            polys = V.vectorize_tiled(back, "val").select("value").collect()
        self.polygons.append(len(polys))
        return None

    def job(self, spark, i):
        C, _, _ = _engine()
        docs = spark.read.parquet(self.docs)
        with self.T.span("cube.make_geocube"):
            cube = C.make_geocube(docs, measurements=["val"], fill=0.0,
                                  merge_alg="add", **COMMON)
        path = os.path.join(self.work, f"table-{i}")
        with self.T.span("checkpoint.write_cube"):
            cube.write(path)
        return {"cube": cube, "path": path, "cells": self.g["touches"]}

    def check(self, out):
        # keep only the latest table (the traced probe reads it back)
        if self.kept:
            shutil.rmtree(self.kept["path"], ignore_errors=True)
        self.kept = out
        err = _check_grid(out["cube"], self.g["grid"])
        if err:
            return err
        n, touches, total = duckdb.connect().execute(
            "SELECT count(*), sum(n_cells_burned), "
            "sum(list_sum(\"values\")) FROM read_parquet("
            f"'{out['path']}/data/*/*/*/*.parquet', "
            "hive_partitioning = false)"
        ).fetchone()
        self.tables.append(table_stats(out["path"]))
        self.cells_burned.append(int(touches))
        self.chunks.append(int(n))
        if int(touches) != self.g["touches"]:
            return f"cell touches {touches} != {self.g['touches']}"
        if not _close(float(total), self.g["value_sum"]):
            return f"value sum {total} != {self.g['value_sum']}"
        return None


class GroupedPoints(Workload):
    name = "grouped_points"

    # per-chunk checksums; unfilled cells are null or NaN
    SUMMARY = [
        "group_key", "tile_id", "n_cells_burned",
        "size(filter(values, v -> v IS NOT NULL AND NOT isnan(v))) AS n",
        "aggregate(values, 0D, (a, v) -> "
        "IF(v IS NULL OR isnan(v), a, a + v)) AS s",
        "aggregate(transform(values, (v, i) -> IF(v IS NULL OR isnan(v), "
        "0D, v * (i + 1))), 0D, (a, v) -> a + v) AS ws",
    ]

    def generate(self):
        self.g = gen.grouped_points(self.seed, self.docs)
        ox, oy, gw, _ = self.g["grid"]
        ntx = -(-gw // gen.TILE)
        pts = pd.DataFrame({  # noqa: F841  (read by DuckDB by name)
            "x": self.g["x"], "y": self.g["y"], "val": self.g["val"],
            "cls": [f"c{c:02d}" for c in self.g["cls"]],
            "seq": np.arange(len(self.g["x"])),
        })
        t = gen.TILE
        rows = duckdb.connect().execute(f"""
            WITH p AS (
              SELECT cls, CAST(floor({oy} - y) AS BIGINT) AS r,
                     CAST(floor(x - {ox}) AS BIGINT) AS c, val, seq
              FROM pts),
            cells AS (
              SELECT cls, r, c, arg_max(val, seq) AS v
              FROM p GROUP BY cls, r, c)
            SELECT cls, (r // {t}) * {ntx} + (c // {t}) AS tile,
                   count(*), sum(v),
                   sum(v * ((r % {t}) * {t} + (c % {t}) + 1))
            FROM cells GROUP BY ALL
        """).fetchall()
        self.want = {(r[0], int(r[1])): (int(r[2]), r[3], r[4])
                     for r in rows}

    def job(self, spark, i):
        C, _, _ = _engine()
        docs = spark.read.parquet(self.docs)
        with self.T.span("cube.make_geocube"):
            cube = C.make_geocube(docs, measurements=["val"],
                                  group_by="cls", merge_alg="replace",
                                  **COMMON)
        with self.T.span("cube.collect_summary"):
            rows = cube.chunks.selectExpr(*self.SUMMARY).collect()
        cells = sum(int(r["n_cells_burned"]) for r in rows)
        return {"cube": cube, "rows": rows, "cells": cells}

    def check(self, out):
        err = _check_grid(out["cube"], self.g["grid"])
        if err:
            return err
        self.cells_burned.append(out["cells"])
        self.chunks.append(len(out["rows"]))
        if out["cells"] != len(self.g["x"]):
            return f"cells burned {out['cells']} != {len(self.g['x'])}"
        got = {(r["group_key"], int(r["tile_id"])): (int(r["n"]), r["s"],
                                                      r["ws"])
               for r in out["rows"] if r["n"]}
        if set(got) != set(self.want):
            return f"{len(set(got) ^ set(self.want))} (group, tile) keys differ"
        for k, (n, s, ws) in self.want.items():
            gn, gs, gws = got[k]
            if gn != n or not _close(gs, s) or not _close(gws, ws):
                return f"{k}: got {(gn, gs, gws)} want {(n, s, ws)}"
        return None


def _convex_hull(x, y):
    """Counter-clockwise hull vertices (monotone chain)."""
    pts = sorted(set(zip(x.tolist(), y.tolist())))

    def _half(seq):
        h = []
        for p in seq:
            while len(h) >= 2 and (
                (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
            ) <= 0:
                h.pop()
            h.append(p)
        return h

    lower, upper = _half(pts), _half(reversed(pts))
    return np.asarray(lower[:-1] + upper[:-1])


class InterpLinear(Workload):
    name = "interp_linear"
    post_shuffle = "interp"

    def generate(self):
        self.g = gen.interp_points(self.seed, self.docs)
        ox, oy, gw, gh = self.g["grid"]
        cx = ox + np.arange(gw) + 0.5
        cy = oy - np.arange(gh) - 0.5
        qx, qy = np.meshgrid(cx, cy)
        hull = _convex_hull(self.g["x"], self.g["y"])
        inside = np.ones(qx.shape, bool)
        for (ax, ay), (bx, by) in zip(hull, np.roll(hull, -1, axis=0)):
            ex, ey = bx - ax, by - ay
            cross = ex * (qy - ay) - ey * (qx - ax)
            inside &= cross > 1e-6 * np.hypot(ex, ey)
        a, b, c = gen.PLANE
        self.inside = inside
        self.plane = a + b * (qx - gen.X0) + c * (qy - gen.Y0)

    def job(self, spark, i):
        C, _, _ = _engine()
        docs = spark.read.parquet(self.docs)
        with self.T.span("cube.make_geocube"):
            cube = C.make_geocube(
                docs, measurements=["val"],
                rasterize_function="points_griddata", interp_method="linear",
                interpolate_na_method="nearest", **COMMON)
        with self.T.span("cube.collect"):
            rows = cube.chunks.select("row0", "col0", "h", "w", "values",
                                      "n_cells_burned").collect()
        _, _, gw, gh = self.g["grid"]
        return {"cube": cube, "rows": rows, "cells": gw * gh}

    def check(self, out):
        err = _check_grid(out["cube"], self.g["grid"])
        if err:
            return err
        arr = np.full(self.plane.shape, np.inf)
        for r in out["rows"]:
            arr[r["row0"]:r["row0"] + r["h"], r["col0"]:r["col0"] + r["w"]] = (
                np.asarray(r["values"], dtype=np.float64).reshape(r["h"], r["w"])
            )
        self.cells_burned.append(sum(int(r["n_cells_burned"])
                                     for r in out["rows"]))
        self.chunks.append(len(out["rows"]))
        if np.isinf(arr).any():
            return f"{int(np.isinf(arr).sum())} cells missing from the cube"
        if np.isnan(arr).any():
            return f"{int(np.isnan(arr).sum())} NaN cells after interpolate_na"
        err = np.abs(arr - self.plane)[self.inside].max()
        if not err <= 1e-9:
            return f"plane not reproduced inside the hull: max error {err}"
        return None


def _wkb_polygon_area(blob: bytes) -> float:
    """Area of a little-endian 2-D POLYGON / MULTIPOLYGON WKB (holes
    subtracted), coordinates shifted to the workload origin first."""
    def _poly(off):
        (nr,) = struct.unpack_from("<I", blob, off + 5)
        off += 9
        area = 0.0
        for k in range(nr):
            (npt,) = struct.unpack_from("<I", blob, off)
            xy = np.frombuffer(blob, "<f8", 2 * npt, off + 4).reshape(-1, 2)
            x, y = xy[:, 0] - gen.X0, xy[:, 1] - gen.Y0
            a = abs(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])) / 2.0
            area += a if k == 0 else -a
            off += 4 + 16 * npt
        return area, off

    (kind,) = struct.unpack_from("<I", blob, 1)
    if kind == 3:
        return _poly(0)[0]
    if kind == 6:
        (n,) = struct.unpack_from("<I", blob, 5)
        off, total = 9, 0.0
        for _ in range(n):
            a, off = _poly(off)
            total += a
        return total
    raise ValueError(f"unexpected WKB geometry type {kind}")


class CubeQuery(Workload):
    name = "cube_query"
    N_WINDOWS = 3
    WINDOW_TILES = 2      # tiles per window side
    N_POINTS = 2000

    def generate(self):
        self.g = gen.query_rects(self.seed, self.docs)
        ox, oy, gw, gh = self.g["grid"]
        rng = np.random.default_rng([self.seed, 5])
        t, k = gen.TILE, self.WINDOW_TILES
        self.windows = []
        for _ in range(self.N_WINDOWS):
            # k x k whole interior tiles, edges a few cells inside them:
            # every window returns the same number of cells
            tx = int(rng.integers(0, gw // t - k + 1))
            ty = int(rng.integers(0, gh // t - k + 1))
            x0, y1 = ox + tx * t + 3.5, oy - ty * t - 3.5
            self.windows.append((x0, y1 - k * t + 7, x0 + k * t - 7, y1))
        col = rng.integers(0, gw, self.N_POINTS)
        row = rng.integers(0, gh, self.N_POINTS)
        self.points = pd.DataFrame({
            "pid": np.arange(self.N_POINTS),
            "x": ox + col + rng.uniform(0.1, 0.9, self.N_POINTS),
            "y": oy - row - rng.uniform(0.1, 0.9, self.N_POINTS),
        })
        self.point_want = self.g["raster"][row, col].astype(np.float64)
        raster = self.g["raster"]
        self.class_cells = {c: int((raster == c).sum())
                            for c in range(gen.N_CATS)}

    def prepare(self, spark):
        C, _, _ = _engine()
        self.table = os.path.join(self.work, "query-table")
        docs = spark.read.parquet(self.docs)
        with self.T.span("cube.make_geocube"):
            cube = C.make_geocube(
                docs, measurements=["landuse"],
                categorical_enums={"landuse": self.g["categories"]},
                merge_alg="replace", **COMMON)
        with self.T.span("checkpoint.write_cube"):
            cube.write(self.table)
        self.cube = cube
        self.tables.append(table_stats(self.table))
        n, touches = duckdb.connect().execute(
            "SELECT count(*), sum(n_cells_burned) FROM read_parquet("
            f"'{self.table}/data/*/*/*/*.parquet', hive_partitioning = false)"
        ).fetchone()
        self.chunks.append(int(n))
        self.cells_burned.append(int(touches))
        err = _check_grid(cube, self.g["grid"])
        if err:
            raise RuntimeError(f"prepared cube is wrong: {err}")
        self.points_df = spark.createDataFrame(self.points)

    def job(self, spark, i):
        _, CK, _ = _engine()
        gb = self.cube.geobox
        windows = []
        for bbox in self.windows:
            with self.T.span("checkpoint.read_cube_window"):
                windows.append(CK.read_cube_window(
                    spark, self.table, gb, gen.TILE, bbox
                ).select("tile_id", "row0", "col0", "h", "w",
                         "values").collect())
        back = self._read_back(spark)
        with self.T.span("cube.point_query"):
            sampled = back.point_query(
                self.points_df, measurements=["landuse"]
            ).select("pid", "value").collect()
        cells = sum(r["h"] * r["w"] for w in windows for r in w)
        return {"windows": windows, "sampled": sampled, "cells": cells,
                "job": i}

    def _read_back(self, spark):
        C, CK, _ = _engine()
        return C.GeoCube(
            chunks=CK.read_cube(spark, self.table).select(*CHUNK_COLS),
            geobox=self.cube.geobox, bands=self.cube.bands,
            tile_size=gen.TILE, fill=self.cube.fill,
        )

    def probe(self, spark):
        """``vectorize_tiled`` of the whole categorical band: one
        polygon per rectangle, per-class area = cell count x cell area."""
        _, _, V = _engine()
        back = self._read_back(spark)
        with self.T.span("vector.vectorize_tiled"):
            polys = V.vectorize_tiled(back, "landuse").select(
                "value", "geometry_wkb").collect()
        self.polygons.append(len(polys))
        if len(polys) != self.g["n_polygons"]:
            return (f"vectorize_tiled gave {len(polys)} polygons, "
                    f"want {self.g['n_polygons']}")
        area = {c: 0.0 for c in range(gen.N_CATS)}
        for r in polys:
            area[int(r["value"])] += _wkb_polygon_area(bytes(r["geometry_wkb"]))
        for c, n in self.class_cells.items():
            if not _close(area[c], float(n)):
                return f"class {c}: polygon area {area[c]} != {n} cells"
        return None

    def _window_tiles(self, bbox):
        ox, oy, gw, gh = self.g["grid"]
        t = gen.TILE
        c0, c1 = int((bbox[0] - ox) // t), int((bbox[2] - ox) // t)
        r0, r1 = int((oy - bbox[3]) // t), int((oy - bbox[1]) // t)
        ntx, nty = -(-gw // t), -(-gh // t)
        return {(r, c) for r in range(max(r0, 0), min(r1, nty - 1) + 1)
                for c in range(max(c0, 0), min(c1, ntx - 1) + 1)}

    def check(self, out):
        self.window_rows[out["job"]] = sum(len(w) for w in out["windows"])
        raster = self.g["raster"]
        t = gen.TILE
        for bbox, rows in zip(self.windows, out["windows"]):
            want_tiles = {
                rc for rc in self._window_tiles(bbox)
                if (raster[rc[0] * t:(rc[0] + 1) * t,
                           rc[1] * t:(rc[1] + 1) * t] >= 0).any()
            }
            got_tiles, got_sum, want_sum = set(), 0.0, 0.0
            for r in rows:
                r0, c0, h, w = r["row0"], r["col0"], r["h"], r["w"]
                vals = np.asarray(r["values"], np.float64).reshape(h, w)
                ref = raster[r0:r0 + h, c0:c0 + w].astype(np.float64)
                weight = np.arange(1, h * w + 1).reshape(h, w)
                got_sum += float(((vals + 1) * weight).sum())
                want_sum += float(((ref + 1) * weight).sum())
                got_tiles.add((r0 // t, c0 // t))
            if not want_tiles <= got_tiles:
                return f"window {bbox} misses tiles {want_tiles - got_tiles}"
            if got_tiles - self._window_tiles(bbox):
                return f"window {bbox} returned tiles outside it"
            if got_sum != want_sum:
                return f"window {bbox} checksum {got_sum} != {want_sum}"
        got = np.full(self.N_POINTS, np.nan)
        for r in out["sampled"]:
            got[r["pid"]] = r["value"]
        if not np.array_equal(got, self.point_want):
            bad = int((got != self.point_want).sum())
            return f"point_query: {bad} of {self.N_POINTS} values differ"
        return None


WORKLOADS = {w.name: w for w in (PolygonBurn, GroupedPoints, InterpLinear,
                                 CubeQuery)}
