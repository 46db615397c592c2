"""Seeded input generators and engine-free oracles.

Every workload's input is an interleaved-documents parquet table
``(doc_id, spans)`` built here from ``--seed`` alone; the program under
test receives only that table. The generators also return the raw
geometry/attribute arrays, from which the expected outputs are computed
in closed form (numpy / DuckDB), never through ``geocube_spark``.

Coordinates live in a metric CRS with 1-unit cells whose lattice is
aligned to integers, and every rectangle edge sits at ``k + 0.25`` and
every point at ``k + [0.1, 0.9)``, so no edge or point ever lands on a
cell center or a cell border: cell counts are exact integers.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CRS = "EPSG:32615"
X0, Y0 = 500_000.0, 4_000_000.0   # world origin of every workload
TILE = 256                          # tile_size passed to make_geocube
EDGE = 0.25                         # fractional offset of rect edges


# ---------------------------------------------------------------------------
# WKB / documents
# ---------------------------------------------------------------------------

def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)


def wkb_rect(x0, y0, x1, y1, hole=None) -> bytes:
    """Axis-aligned rectangle polygon, optionally with one rectangular
    hole ``(hx0, hy0, hx1, hy1)`` (opposite winding)."""
    rings = [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]
    if hole is not None:
        hx0, hy0, hx1, hy1 = hole
        rings.append([(hx0, hy0), (hx0, hy1), (hx1, hy1), (hx1, hy0),
                      (hx0, hy0)])
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for ring in rings:
        out.append(struct.pack("<I", len(ring)))
        out.append(struct.pack(f"<{2 * len(ring)}d",
                               *[c for p in ring for c in p]))
    return b"".join(out)


_SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])


def write_docs(path: str, prefix: str, blobs, frag1, frag2) -> None:
    """Write ``(doc_id, spans)`` rows: attr fragment, geom span (WKB
    hex), second attr fragment, noise text span — four spans per doc,
    the attributes split across two JSON fragments merged in offset
    order by the extractor."""
    n = len(blobs)
    kinds, texts, refs = [], [], []
    for i in range(n):
        kinds += ["attr", "geom", "attr", "text"]
        texts += [frag1[i], "geom", frag2[i], "lorem ipsum noise"]
        refs += ["", blobs[i].hex(), "", ""]
    spans = pa.StructArray.from_arrays(
        [pa.array(kinds), pa.array(texts), pa.array(refs),
         pa.array(np.tile(np.arange(4, dtype=np.int32), n))],
        fields=list(_SPAN_TYPE),
    )
    table = pa.table({
        "doc_id": pa.array([f"{prefix}-{i:07d}" for i in range(n)]),
        "spans": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 4 * n + 1, 4, dtype=np.int32)), spans
        ),
    })
    pq.write_table(table, path, row_group_size=max(1, n // 8))


# ---------------------------------------------------------------------------
# grid helpers (the engine snaps bounds outward onto the integer lattice)
# ---------------------------------------------------------------------------

def expected_grid(minx, miny, maxx, maxy):
    """(origin_x, origin_y, width, height) of the north-up 1-unit grid
    that covers the data bounds."""
    ox, oy = np.floor(minx), np.ceil(maxy)
    return float(ox), float(oy), int(np.ceil(maxx - ox)), int(np.ceil(oy - miny))


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def _rect_sizes(rng, n, median, total_area, lo, hi):
    """Log-normal side lengths: one fixed set of widths and one of
    heights, the same for every seed, paired by the seed and rescaled so
    the areas sum to ``total_area`` (within rounding). The count, the
    size mix and the total work are seed-independent."""
    fixed = np.random.default_rng(0)
    w = rng.permutation(np.exp(fixed.normal(np.log(median), 0.6, n)))
    h = rng.permutation(np.exp(fixed.normal(np.log(median), 0.6, n)))
    s = np.sqrt(total_area / np.sum(w * h))
    w = np.clip(np.rint(w * s), lo, hi).astype(np.int64)
    h = np.clip(np.rint(h * s), lo, hi).astype(np.int64)
    return w, h


def _spread_corners(rng, w, h, grid):
    """Integer lower-left corners whose rectangle centers sit one per
    cell of a jittered lattice over the grid, so each tile gets a
    similar share of the work for any seed."""
    n = len(w)
    k = int(np.ceil(np.sqrt(n)))
    idx = rng.permutation(k * k)[:n]
    cx = (idx % k + rng.uniform(0, 1, n)) * grid / k
    cy = (idx // k + rng.uniform(0, 1, n)) * grid / k
    x0 = np.clip(np.rint(cx - w / 2), 1, grid - w - 1)
    y0 = np.clip(np.rint(cy - h / 2), 1, grid - h - 1)
    return x0, y0


def polygon_burn(seed: int, path: str, *, n=300, grid=2048,
                 total_area=6_000_000, hole_frac=0.25) -> dict:
    """Overlapping axis-aligned rectangles (median ~1 tile, log-normal
    tail of multi-tile ones), a quarter with a rectangular hole, one
    float attribute ``val``. Closed form under ``merge_alg='add'``:
    cell-touches = sum(cells_i), value sum = sum(val_i * cells_i)."""
    rng = np.random.default_rng([seed, 1])
    w, h = _rect_sizes(rng, n, TILE, total_area, 8, grid // 2)
    cx, cy = _spread_corners(rng, w, h, grid)
    x0, y0 = X0 + cx + EDGE, Y0 + cy + EDGE
    x1, y1 = x0 + w, y0 + h
    val = np.round(rng.uniform(1.0, 100.0, n), 3)
    n_holes = int(round(hole_frac * n))
    has_hole = np.zeros(n, bool)
    cand = np.flatnonzero((w >= 16) & (h >= 16))
    has_hole[rng.permutation(cand)[:n_holes]] = True
    holes = [None] * n
    cells = w * h    # integer sides, edges at k + 0.25: exact cell counts
    for i in np.flatnonzero(has_hole):
        hw = max(2, int(w[i] * rng.uniform(0.2, 0.5)))
        hh = max(2, int(h[i] * rng.uniform(0.2, 0.5)))
        hx = x0[i] + rng.integers(2, w[i] - hw - 1)
        hy = y0[i] + rng.integers(2, h[i] - hh - 1)
        holes[i] = (hx, hy, hx + hw, hy + hh)
        cells[i] -= hw * hh
    blobs = [wkb_rect(x0[i], y0[i], x1[i], y1[i], holes[i])
             for i in range(n)]
    write_docs(path, "pb", blobs,
               [f'{{"val": {v!r}}}' for v in val],
               [f'{{"tag": {i % 7}}}' for i in range(n)])
    ox, oy, gw, gh = expected_grid(x0.min(), y0.min(), x1.max(), y1.max())
    return {
        "blobs": blobs, "grid": (ox, oy, gw, gh),
        "touches": int(cells.sum()),
        "value_sum": float(np.sum(val * cells)),
    }


N_CLASSES = 12


def grouped_points(seed: int, path: str, *, n=50_000, grid=1024,
                   hot_frac=0.4) -> dict:
    """Points only, ``cls`` is a 12-key categorical group, ``val`` a
    float; ``hot_frac`` of the points fall inside one tile."""
    rng = np.random.default_rng([seed, 2])
    n_hot = int(hot_frac * n)
    cx = rng.integers(0, grid, n - n_hot)
    cy = rng.integers(0, grid, n - n_hot)
    ntiles = grid // TILE
    htx, hty = rng.integers(1, ntiles - 1, 2)
    hx = htx * TILE + rng.integers(0, TILE, n_hot)
    hy = hty * TILE + rng.integers(0, TILE, n_hot)
    order = rng.permutation(n)
    ix = np.concatenate([cx, hx])[order]
    iy = np.concatenate([cy, hy])[order]
    # keep the full extent fixed so the grid never depends on the seed
    ix[:2], iy[:2] = (0, grid - 1), (0, grid - 1)
    x = X0 + ix + rng.uniform(0.1, 0.9, n)
    y = Y0 + iy + rng.uniform(0.1, 0.9, n)
    cls = rng.integers(0, N_CLASSES, n)
    val = np.round(rng.uniform(0.0, 1000.0, n), 4)
    blobs = [wkb_point(a, b) for a, b in zip(x.tolist(), y.tolist())]
    write_docs(path, "gp", blobs,
               [f'{{"val": {v!r}}}' for v in val],
               [f'{{"cls": "c{c:02d}"}}' for c in cls])
    return {"blobs": blobs, "x": x, "y": y, "cls": cls, "val": val,
            "grid": expected_grid(x.min(), y.min(), x.max(), y.max())}


PLANE = (12.5, 0.0125, -0.0075)   # v = a + b * (x - X0) + c * (y - Y0)


def interp_points(seed: int, path: str, *, n=30_000, grid=512) -> dict:
    """Uniform points whose ``val`` lies exactly on a plane, so linear
    interpolation must reproduce the plane inside the hull."""
    rng = np.random.default_rng([seed, 3])
    x = X0 + rng.integers(0, grid, n) + rng.uniform(0.1, 0.9, n)
    y = Y0 + rng.integers(0, grid, n) + rng.uniform(0.1, 0.9, n)
    a, b, c = PLANE
    val = a + b * (x - X0) + c * (y - Y0)
    blobs = [wkb_point(p, q) for p, q in zip(x.tolist(), y.tolist())]
    write_docs(path, "ip", blobs,
               [f'{{"val": {v!r}}}' for v in val.tolist()],
               [f'{{"tag": {i % 5}}}' for i in range(n)])
    return {"blobs": blobs, "x": x, "y": y,
            "grid": expected_grid(x.min(), y.min(), x.max(), y.max())}


N_CATS = 6


def query_rects(seed: int, path: str, *, lattice=160, grid=1280,
                hole_frac=0.3) -> dict:
    """Non-overlapping rectangles, one per ``lattice``-sized cell (so
    they straddle tile borders), a categorical ``landuse`` of 6 keys,
    some with holes. Returns the painted oracle raster (int8, -1 =
    nodata) in grid row/col order."""
    rng = np.random.default_rng([seed, 4])
    k = grid // lattice
    n = k * k
    # one fixed set of sizes and a fixed hole count, placed by the seed
    fixed = np.random.default_rng(0)
    ws = rng.permutation(fixed.integers(lattice // 3, lattice - 8, n))
    hs = rng.permutation(fixed.integers(lattice // 3, lattice - 8, n))
    holed = np.zeros(n, bool)
    holed[rng.permutation(n)[:round(hole_frac * n)]] = True
    rects, cats, holes = [], [], []
    for i in range(n):
        ty, tx = divmod(i, k)
        w, h = int(ws[i]), int(hs[i])
        x0 = X0 + tx * lattice + rng.integers(2, lattice - w - 2) + EDGE
        y0 = Y0 + ty * lattice + rng.integers(2, lattice - h - 2) + EDGE
        rects.append((x0, y0, x0 + w, y0 + h))
        cats.append(int(rng.integers(0, N_CATS)))
        if holed[i]:
            hx, hy = x0 + w // 3, y0 + h // 3
            holes.append((hx, hy, hx + w // 3, hy + h // 3))
        else:
            holes.append(None)
    rects = np.asarray(rects)
    blobs = [wkb_rect(*r, hole) for r, hole in zip(rects, holes)]
    names = [f"k{c}" for c in cats]
    write_docs(path, "cq", blobs,
               [f'{{"landuse": "{s}"}}' for s in names],
               [f'{{"area_id": {i}}}' for i in range(len(blobs))])
    ox, oy, gw, gh = expected_grid(rects[:, 0].min(), rects[:, 1].min(),
                                   rects[:, 2].max(), rects[:, 3].max())
    raster = np.full((gh, gw), -1, np.int8)

    def _span(lo, hi, origin, flip):
        # cell indices whose centers fall strictly inside (lo, hi)
        if flip:   # rows count downward from the top edge
            a = int(np.floor(origin - hi - 0.5)) + 1
            b = int(np.floor(origin - lo - 0.5)) + 1
        else:
            a = int(np.floor(lo - origin - 0.5)) + 1
            b = int(np.floor(hi - origin - 0.5)) + 1
        return a, b

    for (x0, y0, x1, y1), c, hole in zip(rects, cats, holes):
        c0, c1 = _span(x0, x1, ox, False)
        r0, r1 = _span(y0, y1, oy, True)
        raster[r0:r1, c0:c1] = c
        if hole is not None:
            c0, c1 = _span(hole[0], hole[2], ox, False)
            r0, r1 = _span(hole[1], hole[3], oy, True)
            raster[r0:r1, c0:c1] = -1
    return {"blobs": blobs, "grid": (ox, oy, gw, gh), "raster": raster,
            "categories": sorted({f"k{i}" for i in range(N_CATS)}),
            "n_polygons": len(blobs)}
