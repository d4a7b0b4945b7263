"""Seeded inputs of each workload, as plain numpy values.

Each function is a pure function of the seed: the same seed gives the
same inputs, two seeds give different ones. The engine receives only
what these functions return (plus the fixed-size corpus ids, whose
coordinates come from the corpus generator itself).

The engine must be importable (``perfbench/run.py`` puts the checkout
root on ``sys.path``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from geomesa_spark.sources.pages import URBAN_CENTERS

# The corpus generator's 20 hot-cell centres; windows and query points
# are placed on them so the traffic follows the data's skew.
HOT_CELLS = URBAN_CENTERS

# Sizes fitted to a 4-core, 15 GB machine and a run of ~65 s per workload
# (see perfbench/README.md, "Sizes").
JOIN_POINTS = 300_000
JOIN_POLYS = 200
JOIN_QUERIES = 2_000
JOIN_RADIUS = 0.05
JOIN_WARM_PASSES = 2
TILE_DEG = 0.1
INGEST_PAGES = 50_000
# one write task: each task writes a file into each of the 256 z2_p
# partitions it touches, so four tasks write 1,024 files and an ingest
# takes ~1.6x as long as with one
INGEST_PARTITIONS = 1
BBOX_PER_INGEST = 4
KNN_K = 10
BBOX_WIDTHS = (0.05, 0.5, 5.0)


def _off_grid(v):
    """Round to 5 decimals and add half a unit of the 6th: the corpus
    stores 5-decimal coordinates, so no point lies exactly on such an
    edge and the engine's inclusive/exclusive edge rules cannot differ
    from the oracle's."""
    return np.round(v, 5) + 5e-6


@dataclass(frozen=True)
class JoinInputs:
    poly_salt: int          # generate_circle_polys seed_salt
    qx: np.ndarray          # dwithin query points
    qy: np.ndarray


def spatial_join_inputs(seed: int) -> JoinInputs:
    rng = np.random.default_rng([seed, 1])
    n = JOIN_QUERIES
    hot = rng.random(n) < 0.5
    c = HOT_CELLS[rng.integers(0, len(HOT_CELLS), n)]
    qx = np.where(hot, c[:, 0] + rng.uniform(-0.5, 0.5, n), rng.uniform(-180, 180, n))
    qy = np.where(hot, c[:, 1] + rng.uniform(-0.5, 0.5, n), rng.uniform(-85, 85, n))
    return JoinInputs(poly_salt=1000 + int(rng.integers(0, 1 << 20)),
                      qx=_off_grid(qx), qy=_off_grid(qy))


def ingest_pages(seed: int) -> int:
    """Corpus size for ingest_store: the seed adds up to 5% more pages,
    so two seeds ingest different corpora."""
    rng = np.random.default_rng([seed, 2])
    return INGEST_PAGES + int(rng.integers(0, INGEST_PAGES // 20))


@dataclass(frozen=True)
class Window:
    hot: bool               # placed on a hot cell (else uniform world)
    box: tuple              # (x0, y0, x1, y1)

    def cql(self) -> str:
        x0, y0, x1, y1 = self.box
        return f"BBOX(geom, {x0!r}, {y0!r}, {x1!r}, {y1!r})"


def bbox_windows(seed: int, n: int) -> list[Window]:
    """The closed-loop bbox query sequence: windows alternate between hot
    cells and uniform world and cycle through three widths (height is
    half the width)."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(n):
        w = BBOX_WIDTHS[i % len(BBOX_WIDTHS)]
        c = HOT_CELLS[rng.integers(0, len(HOT_CELLS))]
        hot = i % 2 == 0
        if hot:
            cx, cy = c + rng.uniform(-0.05, 0.05, 2)
        else:
            cx, cy = rng.uniform(-175, 175), rng.uniform(-85, 85)
        x0, x1 = _off_grid(np.array([cx - w / 2, cx + w / 2]))
        y0, y1 = _off_grid(np.array([cy - w / 4, cy + w / 4]))
        out.append(Window(hot, (float(x0), float(y0), float(x1), float(y1))))
    return out


def knn_points(seed: int, n: int) -> np.ndarray:
    """k=10 kNN query points near hot cells, where one search round finds
    k neighbours (a sparse-region query takes up to four rounds and
    5-13 s here, which would dominate a run's spread)."""
    rng = np.random.default_rng([seed, 4])
    c = HOT_CELLS[rng.integers(0, len(HOT_CELLS), n)]
    return _off_grid(c + rng.uniform(-0.04, 0.04, (n, 2)))
