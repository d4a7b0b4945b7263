"""Self-tests of the benchmark's helpers; no Spark needed.

    python3 -m pytest perfbench -q
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs as I  # noqa: E402
from perfbench import oracles as O  # noqa: E402
from perfbench.measure import descendants, percentile, tail_percentile, tree_rss_kb  # noqa: E402
from perfbench.trace import Span, Tracer, self_times  # noqa: E402


# --- percentile rule -------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None        # p50 leaves 9 beyond
    assert tail_percentile(list(range(20)))[0] == 50.0      # p50 leaves 10
    assert tail_percentile(list(range(99)))[0] == 75.0      # p90 leaves 9
    assert tail_percentile(list(range(100)))[0] == 90.0     # p90 leaves 10
    assert tail_percentile(list(range(1000)))[0] == 99.0    # p99.9 leaves 1
    assert tail_percentile(list(range(10_000)))[0] == 99.9


def test_tail_value_is_nearest_rank():
    vals = list(range(1, 101))           # 1..100
    p, v = tail_percentile(vals)
    assert (p, v) == (90.0, 90)
    assert sum(x > v for x in vals) == 10
    assert percentile([5, 1, 3], 50) == 3


# --- span self time ---------------------------------------------------------

def test_self_time_subtracts_children_once():
    spans = [Span("root", 0.0, 10.0, None, "a"),
             Span("child", 1.0, 4.0, 0, "a"),
             Span("child", 3.0, 6.0, 0, "a"),      # overlaps the first child
             Span("grandchild", 2.0, 3.0, 1, "a"),
             Span("late", 9.0, 12.0, 0, "a")]      # runs past its parent
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)   # [1,6] and [9,10]
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_nests_and_wraps():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer(enabled=True)
    with tr.span("outer", sid="q1"):
        with tr.wrap(mod, "f", "inner"):
            assert mod.f(1) == 2
    assert mod.f(1) == 2 and mod.f.__name__ == "<lambda>"   # restored
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[1].sid == "q1"
    off = Tracer(enabled=False)
    with off.span("x"), off.wrap(mod, "f", "y"):
        mod.f(0)
    assert off.spans == []


# --- /proc memory summing --------------------------------------------------------

def _fake_proc(tmp_path, table):
    for pid, (ppid, comm, rss, pss) in table.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
        (d / "comm").write_text(comm + "\n")
        status = f"Name:\t{comm}\n" + (f"VmRSS:\t{rss} kB\n" if rss is not None else "")
        (d / "status").write_text(status)
        if pss is not None:
            (d / "smaps_rollup").write_text(f"Rss:\t{rss} kB\nPss:\t{pss} kB\n")
    (tmp_path / "self").mkdir()          # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_rss_sums_descendants_only(tmp_path):
    proc = _fake_proc(tmp_path, {
        1: (0, "init", 50, 50),
        10: (1, "python3", 100, 90),              # the benchmark
        11: (10, "java (driver) x", 1000, 1000),  # comm with space and parens
        12: (11, "python3 -m daemon", 200, 120),
        13: (12, "worker", 300, 180),             # forked: shares pages
        14: (12, "kthread", None, None),          # no memory lines
        15: (12, "old-kernel", 70, None),         # no smaps_rollup: VmRSS
        20: (1, "unrelated", 5000, 5000),
    })
    split = {}
    assert tree_rss_kb(10, proc, by_comm=split) == 90 + 1000 + 120 + 180 + 70
    assert split["java (driver) x"] == 1000 and split["kthread"] == 0
    assert tree_rss_kb(12, proc) == 120 + 180 + 70
    assert tree_rss_kb(99, proc) == 0
    assert descendants(10, proc) == {11, 12, 13, 14, 15}
    assert descendants(13, proc) == set()


# --- seeded inputs ------------------------------------------------------------

def test_same_seed_same_inputs_other_seed_differs():
    a, b, c = I.spatial_join_inputs(7), I.spatial_join_inputs(7), I.spatial_join_inputs(8)
    assert a.poly_salt == b.poly_salt and np.array_equal(a.qx, b.qx)
    assert a.poly_salt != c.poly_salt and not np.array_equal(a.qx, c.qx)
    assert I.ingest_pages(7) == I.ingest_pages(7)
    assert len({I.ingest_pages(s) for s in range(10)}) > 1
    assert I.bbox_windows(7, 40) == I.bbox_windows(7, 40)
    assert I.bbox_windows(7, 40) != I.bbox_windows(8, 40)
    assert np.array_equal(I.knn_points(7, 5), I.knn_points(7, 5))
    assert not np.array_equal(I.knn_points(7, 5), I.knn_points(8, 5))


def test_query_mix():
    bbox = I.bbox_windows(3, 48)
    assert [w.hot for w in bbox[:4]] == [True, False, True, False]
    widths = {round(q.box[2] - q.box[0], 4) for q in bbox}
    assert widths == {round(w, 4) for w in I.BBOX_WIDTHS}
    # window edges sit between 5-decimal corpus coordinates
    edges = np.concatenate([np.array([w.box for w in bbox]).ravel(),
                            I.knn_points(3, 20).ravel()])
    assert np.all(np.abs(edges * 1e5 - np.round(edges * 1e5)) > 0.4)


# --- oracles ------------------------------------------------------------------

def _square_wkb(x0, y0, x1, y1):
    import struct
    ring = [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
    return (struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(ring))
            + b"".join(struct.pack("<dd", *p) for p in ring))


def test_crossing_number_and_boundary():
    rings = O.parse_wkb_polygon(_square_wkb(0, 0, 2, 2))
    x = np.array([1.0, 3.0, 0.0, 2.0, 1.0])
    y = np.array([1.0, 1.0, 1.0, 1.0, 2.0 - 1e-12])
    inside, amb = O.crossing_number(x, y, rings)
    assert inside.tolist() == [True, False, False, False, False]
    assert amb.tolist() == [False, False, True, True, True]


def test_grid_cells_and_bbox_and_knn():
    lon = np.array([-179.95, -179.95, 0.05, 180.0, 10.0])
    lat = np.array([-89.95, -89.95, 0.05, 90.0, 95.0])
    cells = O.grid_cells(lon, lat, np.ones(5), -180, -90, 180, 90, 3600, 1800)
    assert cells == {(0, 0): 2.0, (1800, 900): 1.0, (3599, 1799): 1.0}
    idx = O.LonIndex(lon, lat)
    assert idx.bbox_count(-180, -90, 0.1, 0.1) == 3
    ids, d = O.knn_brute(lon, lat, np.arange(5), -179.95, -89.95, 2)
    assert ids.tolist() == [0, 1] and d.tolist() == [0.0, 0.0]


def test_z2_prefix():
    assert O.z2_prefix(np.array([-180.0]), np.array([-90.0])).tolist() == ["00"]
    assert O.z2_prefix(np.array([180.0]), np.array([90.0])).tolist() == ["ff"]
    # x = 1000b (lon 0), y = 0 -> bit 3 of x sits at bit 6 of the prefix
    assert O.z2_prefix(np.array([0.0]), np.array([-90.0])).tolist() == ["40"]
    assert O.z2_prefix(np.array([-180.0]), np.array([0.0])).tolist() == ["80"]
