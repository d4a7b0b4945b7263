"""Reference answers computed with numpy alone, without the engine.

Point coordinates come from ``sources.pages.page_coords`` (the corpus
generator's own per-id kernel, so the oracle sees exactly the points the
engine ingests); polygons come from the generator's WKB output, decoded
here. Every geometric test is re-derived: crossing-number
point-in-polygon, GridSnap cell assignment, euclidean distance, bbox
filter and the Z2 partition prefix.

Points that sit within ``EPS`` of a boundary (polygon edge, distance
radius) are counted as *ambiguous*: either answer is accepted for them,
so the checks never depend on the last bit of a floating-point
comparison. With 5-decimal coordinates such points are rare; the checks
report how many there were.
"""

from __future__ import annotations

import struct

import numpy as np

EPS = 1e-9


# ---------------------------------------------------------------------------
# WKB polygons

def parse_wkb_polygon(buf: bytes) -> list[np.ndarray]:
    """Rings of a 2-D WKB Polygon as (n, 2) float arrays."""
    order = "<" if buf[0] == 1 else ">"
    (gtype,) = struct.unpack_from(order + "I", buf, 1)
    if gtype != 3:
        raise ValueError(f"expected a WKB Polygon, got type {gtype}")
    (nrings,) = struct.unpack_from(order + "I", buf, 5)
    off, rings = 9, []
    for _ in range(nrings):
        (npts,) = struct.unpack_from(order + "I", buf, off)
        off += 4
        dt = np.dtype(np.float64).newbyteorder(order)
        ring = np.frombuffer(buf, dtype=dt, count=2 * npts, offset=off)
        rings.append(ring.reshape(npts, 2).astype(np.float64))
        off += 16 * npts
    return rings


# ---------------------------------------------------------------------------
# point in polygon

def _edge_distance(x, y, ring):
    """Distance from each point to the nearest edge of a closed ring."""
    best = np.full(len(x), np.inf)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        ex, ey = bx - ax, by - ay
        ll = ex * ex + ey * ey
        t = np.clip(((x - ax) * ex + (y - ay) * ey) / ll, 0.0, 1.0) if ll else 0.0
        dx, dy = x - (ax + t * ex), y - (ay + t * ey)
        best = np.minimum(best, np.sqrt(dx * dx + dy * dy))
    return best


def crossing_number(x, y, rings) -> tuple[np.ndarray, np.ndarray]:
    """(inside, ambiguous) masks for points against a polygon with holes.

    Even-odd rule over every ring: a ray cast to +x crosses the boundary
    an odd number of times for interior points.
    """
    inside = np.zeros(len(x), dtype=bool)
    near = np.zeros(len(x), dtype=bool)
    for ring in rings:
        xi, yi = ring[:-1, 0], ring[:-1, 1]
        xj, yj = ring[1:, 0], ring[1:, 1]
        for a, b, c, d in zip(xi, yi, xj, yj):
            straddle = (b > y) != (d > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xcross = (c - a) * (y - b) / (d - b) + a
            inside ^= straddle & (x < xcross)
        near |= _edge_distance(x, y, ring) < EPS
    return inside & ~near, near


def pip_oracle(lon, lat, polys: dict[int, list[np.ndarray]]):
    """Per polygon id: (indices of points surely inside, count of
    boundary-ambiguous points). A bbox prefilter keeps it fast."""
    out = {}
    for pid, rings in polys.items():
        shell = rings[0]
        x0, y0 = shell.min(axis=0)
        x1, y1 = shell.max(axis=0)
        idx = np.nonzero((lon >= x0 - EPS) & (lon <= x1 + EPS)
                         & (lat >= y0 - EPS) & (lat <= y1 + EPS))[0]
        ins, amb = crossing_number(lon[idx], lat[idx], rings)
        out[pid] = (idx[ins], int(amb.sum()))
    return out


# ---------------------------------------------------------------------------
# tiles

def grid_cells(lon, lat, weights, xmin, ymin, xmax, ymax, w, h) -> dict:
    """GridSnap assignment: column ``floor((x - xmin) / dx)`` clamped to
    ``w - 1`` (same for rows); points outside the envelope are dropped.
    Returns {(i, j): summed weight}."""
    keep = (lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax)
    dx, dy = (xmax - xmin) / w, (ymax - ymin) / h
    i = np.minimum(np.floor((lon[keep] - xmin) / dx), w - 1).astype(np.int64)
    j = np.minimum(np.floor((lat[keep] - ymin) / dy), h - 1).astype(np.int64)
    key = i * h + j
    uniq, inv = np.unique(key, return_inverse=True)
    sums = np.bincount(inv, weights=weights[keep])
    return {(int(k // h), int(k % h)): float(s) for k, s in zip(uniq, sums)}


# ---------------------------------------------------------------------------
# distance

class LonIndex:
    """Points sorted by longitude, for window and radius lookups."""

    def __init__(self, lon, lat):
        order = np.argsort(lon, kind="stable")
        self.lon = lon[order]
        self.lat = lat[order]

    def window(self, x0, x1):
        a = np.searchsorted(self.lon, x0, side="left")
        b = np.searchsorted(self.lon, x1, side="right")
        return slice(a, b)

    def within(self, qx, qy, r) -> tuple[int, int]:
        """(count with dist < r, count with |dist - r| < EPS)."""
        s = self.window(qx - r - EPS, qx + r + EPS)
        dx, dy = self.lon[s] - qx, self.lat[s] - qy
        d = np.sqrt(dx * dx + dy * dy)
        amb = np.abs(d - r) < EPS
        return int(((d < r) & ~amb).sum()), int(amb.sum())

    def bbox_count(self, x0, y0, x1, y1) -> int:
        s = self.window(x0, x1)
        lat = self.lat[s]
        return int(((lat >= y0) & (lat <= y1)).sum())


def knn_brute(lon, lat, ids, qx, qy, k):
    """Exact top-k by (distance, id) over every point."""
    dx, dy = lon - qx, lat - qy
    d = np.sqrt(dx * dx + dy * dy)
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


# ---------------------------------------------------------------------------
# Z2 partition prefix

def z2_prefix(lon, lat, digits: int = 2) -> np.ndarray:
    """The store's partition value: the first ``digits`` hex chars of
    ``z << 2``, where z interleaves the 31-bit normalized lon (even bits)
    and lat (odd bits). The prefix holds the top ``2 * digits`` bits of
    each dimension."""
    def norm(v, lo, hi):
        bins = 1 << 31
        n = np.floor((v - lo) * (bins / (hi - lo))).astype(np.int64)
        n = np.minimum(n, bins - 1)
        return np.where(v >= hi, bins - 1, n)

    nb = 2 * digits
    x = norm(np.clip(lon, -180.0, 180.0), -180.0, 180.0) >> (31 - nb)
    y = norm(np.clip(lat, -90.0, 90.0), -90.0, 90.0) >> (31 - nb)
    p = np.zeros(len(x), dtype=np.int64)
    for b in range(nb):
        p |= ((x >> b) & 1) << (2 * b)
        p |= ((y >> b) & 1) << (2 * b + 1)
    return np.char.mod(f"%0{digits}x", p)


def z2_prefix_counts(lon, lat, digits: int = 2) -> dict[str, int]:
    vals, counts = np.unique(z2_prefix(lon, lat, digits), return_counts=True)
    return {str(v): int(c) for v, c in zip(vals, counts)}
