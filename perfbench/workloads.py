"""The two workloads: set-up, one timed step, checks and metrics.

Each workload calls the engine's public functions and times the calls
from here. With the tracer enabled (``--trace 1``, second half of the
run) it also materialises each layer's output at its boundary and
records a span around every call, so per-layer times can be read off
the spans.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from collections import defaultdict

import numpy as np

from . import inputs as I
from . import oracles as O
from .measure import median
from .trace import self_times

WORLD = (-180.0, -90.0, 180.0, 90.0)


class Recorder:
    """Timings and outcomes of the operations of one half of a run."""

    def __init__(self):
        self.ops: dict[str, list[float]] = defaultdict(list)
        self.count: dict[str, float] = defaultdict(float)
        self.attempted = 0
        self.failed = 0

    def op(self, kind: str, seconds: float, ok: bool, what: str = ""):
        self.ops[kind].append(seconds)
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: {kind} output does not match the oracle {what}",
                  file=sys.stderr)

    def p50_ms(self, kind: str) -> float:
        return median(self.ops[kind]) * 1000.0


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under a directory. Checksums and
    the stage manifest, which records wall times, are left out so the
    byte count repeats exactly for a given input."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return files, size


def _span_median(tracer, name: str, self_time: bool = False) -> float:
    """Median duration (or self time) of the spans called ``name``."""
    st = self_times(tracer.spans) if self_time else None
    vals = [st[i] if self_time else sp.duration
            for i, sp in enumerate(tracer.spans) if sp.name == name]
    return median(vals) if vals else 0.0


class Workload:
    setup_reps = 3
    kinds: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed

    def complete(self, rec: Recorder) -> bool:
        """Every operation kind has at least one sample."""
        return all(rec.ops[k] for k in self.kinds)


# ---------------------------------------------------------------------------

class SpatialJoin(Workload):
    """pip_join(st_contains) -> density_points over the matches ->
    dwithin_join_points -> one k=10 knn_join query, over a cached
    hot-cell-skewed point layer."""

    kinds = ("pip", "density", "dwithin", "knn")

    def __init__(self, ctx):
        super().__init__(ctx)
        self.inp = I.spatial_join_inputs(self.seed)
        self.n = I.JOIN_POINTS
        self.pts = self.prep = self.qdf = None
        self.prepare_times: list[float] = []
        self.matches = self.cells = self.pairs = 0
        self.knn_at = I.knn_points(self.seed, 10_000)
        self.ki = 0

    def setup(self):
        import pandas as pd
        from geomesa_spark.operators.spatial_join import prepare_pip_polys
        from geomesa_spark.sources.pages import generate_circle_polys, generate_points

        self.close()
        self.pts = generate_points(self.spark, self.n,
                                   partitions=self.ctx.cores).persist()
        self.pts.count()
        t = time.perf_counter()
        self.prep = prepare_pip_polys(
            generate_circle_polys(self.spark, I.JOIN_POLYS,
                                  seed_salt=self.inp.poly_salt), "geom")
        self.prepare_times.append(time.perf_counter() - t)
        qpd = pd.DataFrame({"qid": np.arange(len(self.inp.qx), dtype=np.int64),
                            "qx": self.inp.qx, "qy": self.inp.qy})
        self.qdf = self.spark.createDataFrame(qpd).persist()
        self.qdf.count()

    def warmup(self, rec: Recorder):
        # the first passes are slower while the JVM compiles the generated
        # code: pip_join took 3.3 s, 2.3 s, 1.7 s, then 1.3-2.0 s
        for _ in range(I.JOIN_WARM_PASSES):
            self.step(rec)

    def prepare_oracle(self):
        from geomesa_spark.sources.pages import page_coords

        self.lon, self.lat = lon, lat = page_coords(np.arange(self.n, dtype=np.int64))
        polys = {r["poly_id"]: O.parse_wkb_polygon(bytes(r["geom"]))
                 for r in self.prep.geoms_df.select("poly_id", "geom").collect()}
        pip = O.pip_oracle(lon, lat, polys)
        self.want_poly = {pid: len(idx) for pid, (idx, _) in pip.items()}
        self.amb_poly = {pid: a for pid, (_, a) in pip.items()}
        inside = np.concatenate([idx for idx, _ in pip.values()])
        self.amb_pip = sum(self.amb_poly.values())
        self.want_cells = O.grid_cells(lon[inside], lat[inside],
                                       np.ones(len(inside)), *WORLD,
                                       *self._grid())
        idx = O.LonIndex(lon, lat)
        w = [idx.within(x, y, I.JOIN_RADIUS) for x, y in zip(self.inp.qx, self.inp.qy)]
        self.want_dw = np.array([a for a, _ in w])
        self.amb_dw = np.array([b for _, b in w])

    @staticmethod
    def _grid():
        return int(round(360 / I.TILE_DEG)), int(round(180 / I.TILE_DEG))

    def _check_pip(self, rows) -> bool:
        got = {r["poly_id"]: r["count"] for r in rows}
        if set(got) - set(self.want_poly):
            return False
        return all(self.want_poly[p] <= got.get(p, 0) <= self.want_poly[p] + self.amb_poly[p]
                   for p in self.want_poly)

    def _check_cells(self, rows) -> bool:
        got = {(r["i"], r["j"]): r["weight"] for r in rows}
        keys = set(got) | set(self.want_cells)
        diff = sum(abs(got.get(k, 0.0) - self.want_cells.get(k, 0.0)) for k in keys)
        return diff <= self.amb_pip

    def _check_dw(self, rows) -> bool:
        got = np.zeros(len(self.want_dw), dtype=np.int64)
        for r in rows:
            got[r["qid"]] = r["count"]
        return bool(np.all((got >= self.want_dw) & (got <= self.want_dw + self.amb_dw)))

    def _check_knn(self, rows, x, y) -> bool:
        want_ids, want_d = O.knn_brute(self.lon, self.lat, np.arange(self.n), x, y, I.KNN_K)
        got = sorted(rows, key=lambda r: r["rank"])
        return ([r["did"] for r in got] == want_ids.tolist()
                and np.allclose([r["dist"] for r in got], want_d, rtol=0, atol=1e-12))

    def step(self, rec: Recorder):
        from pyspark.sql import functions as F
        from geomesa_spark.operators.knn import knn_join
        from geomesa_spark.operators.spatial_join import dwithin_join_points, pip_join
        from geomesa_spark.operators.tiling import density_points

        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("operators.spatial_join.pip_join"):
            m = (pip_join(self.pts, self.prep, "lon", "lat", "geom",
                          predicate="st_contains")
                 .select("page_id", "lon", "lat", "poly_id").persist())
            per_poly = m.groupBy("poly_id").count().collect()
        t1 = time.perf_counter()
        with tr.span("operators.tiling.density_points"):
            cells = density_points(m, "lon", "lat", *WORLD, *self._grid()).collect()
        t2 = time.perf_counter()
        m.unpersist()
        t3 = time.perf_counter()
        with tr.span("operators.spatial_join.dwithin_join_points"):
            dw = (dwithin_join_points(self.pts, self.qdf, I.JOIN_RADIUS,
                                      "lon", "lat", "qx", "qy")
                  .groupBy("qid").agg(F.count("*").alias("count")).collect())
        t4 = time.perf_counter()
        x, y = self.knn_at[self.ki]
        self.ki += 1
        qdf = self.spark.createDataFrame([(0, float(x), float(y))],
                                         "qid long, qx double, qy double")
        data = self.pts.select(F.col("page_id").alias("did"), "lon", "lat")
        t5 = time.perf_counter()
        with tr.span("operators.knn.knn_join"):
            nn = knn_join(qdf, data, I.KNN_K).collect()
        t6 = time.perf_counter()
        rec.op("pip", t1 - t0, self._check_pip(per_poly), "(per-polygon counts)")
        rec.op("density", t2 - t1, self._check_cells(cells), "(tile weights)")
        rec.op("dwithin", t4 - t3, self._check_dw(dw), "(per-query counts)")
        rec.op("knn", t6 - t5, self._check_knn(nn, x, y), f"(top-{I.KNN_K} at {x}, {y})")
        self.matches = sum(r["count"] for r in per_poly)
        self.cells = len(cells)
        self.pairs = sum(r["count"] for r in dw)

    def e2e(self, rec: Recorder) -> dict:
        """Points per second of one pass (pip, density, dwithin and one
        kNN query), the pass time summed from each kind's median."""
        return {"work_per_s": self.n / sum(median(rec.ops[k]) for k in self.kinds)}

    def named(self, rec: Recorder) -> dict:
        busy = median(rec.ops["pip"]) + median(rec.ops["density"]) + median(rec.ops["dwithin"])
        return {"join_points_per_s": self.n / busy,
                "pip_p50_ms": rec.p50_ms("pip"),
                "density_p50_ms": rec.p50_ms("density"),
                "dwithin_p50_ms": rec.p50_ms("dwithin"),
                "knn_p50_ms": rec.p50_ms("knn"),
                "matches": self.matches, "cells": self.cells,
                "boundary_ambiguous_points": int(self.amb_pip)}

    def probe_candidates(self):
        """Candidate counts of the two joins' cell prefilters, computed
        from the prepared polygon cells and the engine's public cell
        functions (not timed)."""
        import pandas as pd
        from pyspark.sql import functions as F
        from geomesa_spark.operators.spatial_join import (
            DEFAULT_LEVEL, cell_expr_of_points, cells_of_disk_arrays)

        with self.tr.span("probe.candidates"):
            lvl = self.prep.level
            cand = (self.pts.withColumn("__cell__", cell_expr_of_points("lon", "lat", lvl))
                    .join(F.broadcast(self.prep.cells_df), "__cell__"))
            by_flag = {r["__full__"]: r["count"]
                       for r in cand.groupBy("__full__").count().collect()}
            r = np.full(len(self.inp.qx), I.JOIN_RADIUS)
            cover = cells_of_disk_arrays(self.inp.qx, self.inp.qy, r, r, DEFAULT_LEVEL)
            qc = pd.DataFrame({"__cell__": np.concatenate(
                [np.asarray(c, dtype=np.int64) for c in cover])})
            dw_cand = (self.pts.withColumn("__cell__",
                                           cell_expr_of_points("lon", "lat", DEFAULT_LEVEL))
                       .join(self.spark.createDataFrame(qc), "__cell__").count())
        return sum(by_flag.values()), by_flag.get(True, 0), dw_cand

    def layers(self, rec: Recorder) -> dict:
        cand, interior, dw_cand = self.probe_candidates()
        sj = "operators.spatial_join"
        return {
            f"{sj}.prepare_s": median(self.prepare_times),
            f"{sj}.pip_s": _span_median(self.tr, f"{sj}.pip_join"),
            f"{sj}.candidates": cand,
            f"{sj}.matches": self.matches,
            f"{sj}.refine_yield": self.matches / max(cand, 1),
            f"{sj}.interior_frac": interior / max(cand, 1),
            f"{sj}.dwithin_s": _span_median(self.tr, f"{sj}.dwithin_join_points"),
            f"{sj}.dwithin_yield": self.pairs / max(dw_cand, 1),
            "operators.tiling.density_s": _span_median(self.tr, "operators.tiling.density_points"),
            "operators.tiling.cells": self.cells,
            "operators.knn.knn_s": _span_median(self.tr, "operators.knn.knn_join"),
        }

    def close(self):
        for df in (self.pts, self.qdf):
            if df is not None:
                df.unpersist()
        if self.prep is not None:
            self.prep.release()


# ---------------------------------------------------------------------------
class IngestStore(Workload):
    """Write path, then read path, of the z2 store.

    An ingest is generate_pages -> geoparse -> z2_keyed -> a checkpointed,
    hive-partitioned store write (run_stage), then the same stage again,
    which must resume as a no-op. After each ingest one closed-loop
    client sends BBOX_PER_INGEST ECQL bbox windows (plan_query + count),
    each after the previous reply, to the store the ingest wrote; then
    the next ingest replaces it. Each half of a run (warm-up, timed,
    traced) starts with its own ingest.
    """

    kinds = ("ingest", "resume", "bbox")

    def __init__(self, ctx):
        super().__init__(ctx)
        from geomesa_spark.sources.pages import page_coords

        self.n = I.ingest_pages(self.seed)
        lon, lat = page_coords(np.arange(self.n, dtype=np.int64))
        self.index = O.LonIndex(lon, lat)
        self.want_parts = O.z2_prefix_counts(lon, lat)
        self.want_fp = (self.n, int(np.round(lon * 1e5).astype(np.int64).sum()),
                        int(np.round(lat * 1e5).astype(np.int64).sum()))
        self.windows = I.bbox_windows(self.seed, 10_000)
        self.qi = 0
        self.base = os.path.join(ctx.work, "ingest")
        self.i = 0
        # the store the last ingest wrote and the recorder it counted in
        self.path = self.path_rec = None
        self.queries = 0
        self.stored_bytes = self.files = self.input_bytes = 0
        self.geoparse_yield = 0.0

    def setup(self):
        from pyspark.sql import functions as F
        from geomesa_spark.sources.pages import generate_pages

        self.pages = generate_pages(self.spark, self.n, partitions=I.INGEST_PARTITIONS)
        row = self.pages.agg(F.sum(F.octet_length("url")).alias("u"),
                             F.sum(F.octet_length("text")).alias("t"),
                             F.count("*").alias("n")).collect()[0]
        # lon and lat are 8-byte doubles
        self.input_bytes = row["u"] + row["t"] + 16 * row["n"]

    def warmup(self, rec: Recorder):
        """An ingest of the timed shape, its resume and one bbox query,
        checked like the timed ones: the first ingest of a session takes
        about twice as long as the next."""
        self.step(rec)
        self.step(rec)

    def prepare_oracle(self):
        pass

    @staticmethod
    def _keyed(pages):
        from geomesa_spark.plans.store import z2_keyed
        from geomesa_spark.sources.pages import geoparse

        return z2_keyed(geoparse(pages).select("url", "text", "lon", "lat"))

    def _stage(self, name: str, params: dict, build):
        from geomesa_spark.plans.checkpoint import run_stage

        return run_stage(self.spark, "pages_z2", os.path.join(self.base, name), build,
                         params=params, cell_col="z2_hex", partition_by=["z2_p"])

    def _traced_build(self, sid: str):
        """Materialise each layer's output at its boundary (traced half)."""
        from geomesa_spark.plans.store import z2_keyed
        from geomesa_spark.sources.pages import generate_pages, geoparse

        tr = self.tr
        with tr.span("sources.generate_pages", sid):
            pages = generate_pages(self.spark, self.n, partitions=I.INGEST_PARTITIONS).persist()
            n_pages = pages.count()
        with tr.span("sources.geoparse", sid):
            parsed = geoparse(pages).select("url", "text", "lon", "lat").persist()
            n_parsed = parsed.count()
        with tr.span("curves.z2_keyed", sid):
            keyed = z2_keyed(parsed).persist()
            keyed.count()
        self.geoparse_yield = n_parsed / max(n_pages, 1)
        return keyed, [pages, parsed, keyed]

    def _ingest(self, rec: Recorder) -> str:
        import pyspark.sql.readwriter as rw
        from pyspark.sql import functions as F
        import geomesa_spark.plans.checkpoint as ckpt

        tr = self.tr
        name = f"stage-{self.i}"
        self.i += 1
        params = {"pages": self.n, "seed": self.seed}
        held = []
        # the traced half's boundary materialisation is part of the
        # ingest's time: it is tracing overhead
        t0 = time.perf_counter()
        if tr.enabled:
            keyed, held = self._traced_build(name)
            build = lambda: keyed  # noqa: E731
        else:
            build = lambda: self._keyed(self.pages)  # noqa: E731
        with tr.span("plans.checkpoint.run_stage", name), \
                tr.wrap(rw.DataFrameWriter, "parquet", "plans.store.write"), \
                tr.wrap(ckpt, "cell_histogram", "plans.checkpoint.cell_histogram"):
            first = self._stage(name, params, build)
        t1 = time.perf_counter()
        with tr.span("plans.checkpoint.resume", name):
            again = self._stage(name, params, build)
        t2 = time.perf_counter()
        for df in held:
            df.unpersist()
        m = first.manifest
        ok_first = (not first.skipped and m["row_count"] == self.n
                    and m["partition_rows"] == self.want_parts)
        fp = again.df.agg(F.count("*"), F.sum(F.round(F.col("lon") * 1e5).cast("long")),
                          F.sum(F.round(F.col("lat") * 1e5).cast("long"))).collect()[0]
        ok_again = (again.skipped and again.fingerprint == first.fingerprint
                    and again.manifest["row_count"] == m["row_count"]
                    and tuple(fp) == self.want_fp)
        rec.op("ingest", t1 - t0, ok_first, "(row count / partition rows)")
        rec.op("resume", t2 - t1, ok_again, "(skip / fingerprint / content)")
        rec.count["skipped"] += again.skipped
        self.files, self.stored_bytes = _dir_stats(first.path)
        return first.path

    def _bbox(self, path, rec: Recorder):
        """The next bbox window of the query sequence, sent to the store
        at ``path``."""
        import geomesa_spark.functions.cql as cql
        from geomesa_spark.plans.store import bbox_partition_prefixes, plan_query

        tr = self.tr
        w = self.windows[self.qi]
        sid = f"q{self.qi}"
        self.qi += 1
        t0 = time.perf_counter()
        with tr.span("plans.store.plan_query", sid), \
                tr.wrap(cql, "extract_bounds", "functions.cql.extract_bounds"):
            df, plan = plan_query(self.spark, path, w.cql())
        with tr.span("plans.store.scan", sid):
            n = df.count()
        dt = time.perf_counter() - t0
        rec.op("bbox", dt, n == self.index.bbox_count(*w.box), f"(count of {w.cql()})")
        a = rec.count
        a[f"strategy.{plan['strategy']}"] += 1
        a["results"] += n
        if plan["strategy"] == "z2-index":
            pre = bbox_partition_prefixes(*w.box, 2)
            a["partitions"] += len(pre) / 256.0
            a["examined"] += sum(self.want_parts.get(p, 0) for p in pre)
        elif plan["strategy"] == "full-scan":
            a["partitions"] += 1.0
            a["examined"] += self.n

    def step(self, rec: Recorder):
        """An ingest and its resume, replacing the previous store, when
        ``rec`` has none yet or BBOX_PER_INGEST queries went to the
        current one; otherwise the next bbox query to it."""
        if self.path_rec is not rec or self.queries >= I.BBOX_PER_INGEST:
            if self.path is not None:
                shutil.rmtree(self.path, ignore_errors=True)
            self.path, self.path_rec = self._ingest(rec), rec
            self.queries = 0
        else:
            self._bbox(self.path, rec)
            self.queries += 1

    def e2e(self, rec: Recorder) -> dict:
        """Pages per second of one cycle (an ingest, its resume and
        BBOX_PER_INGEST bbox queries), the cycle time summed from each
        kind's median."""
        cycle = (median(rec.ops["ingest"]) + median(rec.ops["resume"])
                 + I.BBOX_PER_INGEST * median(rec.ops["bbox"]))
        return {"work_per_s": self.n / cycle}

    def named(self, rec: Recorder) -> dict:
        return {"ingest_pages_per_s": self.n / median(rec.ops["ingest"]),
                "resume_s": median(rec.ops["resume"]),
                "store_bytes_per_input_byte": self.stored_bytes / self.input_bytes,
                "bbox_p50_ms": rec.p50_ms("bbox"),
                "pages": self.n, "files_written": self.files}

    def layers(self, rec: Recorder) -> dict:
        a = rec.count
        tr = self.tr
        nb = max(a["strategy.z2-index"] + a["strategy.full-scan"] + a["strategy.empty"], 1)
        out = {
            "sources.generate_s": _span_median(tr, "sources.generate_pages"),
            "sources.geoparse_s": _span_median(tr, "sources.geoparse"),
            "sources.geoparse_yield": self.geoparse_yield,
            "curves.z2_encode_s": _span_median(tr, "curves.z2_keyed"),
            "plans.store.write_s": _span_median(tr, "plans.store.write"),
            "plans.store.files_written": self.files,
            "plans.store.bytes_written": self.stored_bytes,
            "plans.checkpoint.stage_s": _span_median(tr, "plans.checkpoint.run_stage",
                                                     self_time=True),
            "plans.checkpoint.histogram_s": _span_median(tr, "plans.checkpoint.cell_histogram"),
            "plans.checkpoint.resume_s": _span_median(tr, "plans.checkpoint.resume"),
            "plans.checkpoint.skipped": rec.count["skipped"],
            "functions.cql.bounds_s": _span_median(tr, "functions.cql.extract_bounds"),
            "plans.store.plan_s": _span_median(tr, "plans.store.plan_query", self_time=True),
            "plans.store.scan_s": _span_median(tr, "plans.store.scan"),
            "plans.store.partitions_selected_frac": a["partitions"] / nb,
            "plans.store.rows_examined_per_result": a["examined"] / max(a["results"], 1),
        }
        for s in ("z2-index", "full-scan", "empty"):
            out[f"plans.store.strategy.{s}"] = a[f"strategy.{s}"]
        return out

    def close(self):
        shutil.rmtree(self.base, ignore_errors=True)


WORKLOADS = {"spatial_join": SpatialJoin, "ingest_store": IngestStore}
