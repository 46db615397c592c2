"""Single-threaded driver-side kernel baseline.

Calls the public kernel functions directly on the workload's own
generated geometries and points, outside Spark. The op counts (edges,
cells, points) are exact and repeat for a seed; the rates next to them
are timings of one pass each.
"""

from __future__ import annotations

import time

import numpy as np

from . import gen

RASTER_WINDOW = 1024   # cells per side of the rasterize window
VECTOR_WINDOW = 512    # cells per side of the vectorize window
INTERP_GRID = 256      # query grid side for the interpolation kernel
MAX_POINTS = 20_000    # point geometries / sample points per kernel


def baseline(g: dict) -> dict:
    from geocube_spark.geometry import wkb as W
    from geocube_spark.kernels import interpolate as KI
    from geocube_spark.kernels import rasterize as KR
    from geocube_spark.kernels import vectorize as KV

    blobs = g["blobs"]
    ox, oy, gw, gh = g["grid"]
    points = len(blobs[0]) == 21    # a 2-D WKB point is 21 bytes

    t0 = time.perf_counter()
    if points:
        parsed = W.try_parse_points(blobs)
        n_parsed = len(parsed[0])
    else:
        mask, _ = W.batch_parse_polygons(blobs)
        n_parsed = int(np.count_nonzero(mask))
    wkb_s = time.perf_counter() - t0

    # burn into a window centred on the grid, pixel coordinates
    win = min(RASTER_WINDOW, gw, gh)
    c0, r0 = (gw - win) // 2, (gh - win) // 2
    subset = blobs[:MAX_POINTS] if points else blobs
    geoms = [
        W.loads(b).transform(
            lambda x, y: (x - ox - c0, oy - y - r0)
        ) for b in subset
    ]
    edges = sum(len(r) - 1 for gm in geoms if not points for r in gm.parts)
    t0 = time.perf_counter()
    touched = KR.rasterize(geoms, np.ones(len(geoms)), win, win, fill=0.0,
                           merge_alg="add")
    raster_s = time.perf_counter() - t0
    cells = int(touched.sum())

    vw = min(VECTOR_WINDOW, win)
    band = touched[:vw, :vw]
    t0 = time.perf_counter()
    n_shapes = sum(1 for _ in KV.shapes(band, nodata=0.0))
    vector_s = time.perf_counter() - t0

    if points:
        px, py = parsed[0][:MAX_POINTS], parsed[1][:MAX_POINTS]
    else:
        # distinct ring vertices; axis-aligned corners are massively
        # co-circular, so a fixed sub-cell jitter keeps the Delaunay
        # build in general position
        _, pp = W.batch_parse_polygons(blobs)
        xy = np.unique(pp["coords"], axis=0)
        xy = xy + np.random.default_rng(0).uniform(-0.01, 0.01, xy.shape)
        px, py = xy[:, 0], xy[:, 1]
    a, b, c = gen.PLANE
    vals = a + b * (px - gen.X0) + c * (py - gen.Y0)
    gx = np.linspace(px.min(), px.max(), INTERP_GRID)
    gy = np.linspace(py.max(), py.min(), INTERP_GRID)
    t0 = time.perf_counter()
    KI.griddata_interp(px, py, vals, gx, gy, method="linear")
    interp_s = time.perf_counter() - t0

    return {
        "kernels.wkb.geoms": n_parsed,
        "kernels.wkb.geoms_per_s": n_parsed / wkb_s,
        "kernels.rasterize.edges": edges,
        "kernels.rasterize.cells": cells,
        "kernels.rasterize.cells_per_s": cells / raster_s,
        "kernels.vectorize.cells": vw * vw,
        "kernels.vectorize.shapes": n_shapes,
        "kernels.vectorize.cells_per_s": vw * vw / vector_s,
        "kernels.interpolate.points": len(px),
        "kernels.interpolate.points_per_s": len(px) / interp_s,
    }
