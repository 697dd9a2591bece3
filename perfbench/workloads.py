"""The four benchmark workloads.

Each workload makes its inputs and its independent reference from the
seed (untimed, outside the program), builds the program's set-up state
(cover, polygons) in ``setup``, and runs one job per ``job`` call: a fresh
plan over the public ``geoglue_spark`` API whose small result ``check``
compares with the reference. ``trace`` runs one job with the layer
instruments of :mod:`instruments` and returns per-layer metrics.
"""

from __future__ import annotations

import functools
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import reference as ref
from instruments import counted, plan_totals, prefix_profile

from geoglue_spark.cover import build_cover, compact_cover
from geoglue_spark.grids import Grid
from geoglue_spark.operators.assign import assign_admin, with_cell_id
from geoglue_spark.operators.dedup import phash_near_dupes, release_signature_caches
from geoglue_spark.operators.multimodal import decode_stats
from geoglue_spark.operators.resample import resample_sparse_bilinear
from geoglue_spark.operators.timeagg import daily_reduce, with_local_time
from geoglue_spark.operators.zonal import raster_zonal_stats, zonal_stats
from geoglue_spark.pip import PreparedGeom, points_in_geom
from geoglue_spark.geometry import rings_to_wkb, wkb_to_rings
from geoglue_spark.streaming.incremental import CheckpointManifest, run_incremental
from geoglue_spark.synth import (
    admin_wiggly_geoms,
    admins_df,
    grid_pixels_table,
    image_truth_parquet,
    images_parquet,
)

# the 0.05-degree assignment grid over the synthetic 10 x 10 degree country
GRID = Grid(x0=100.0, dx=0.05, nx=200, y0=10.0, dy=0.05, ny=200)
DOMAIN = (100.0, 10.0, 110.0, 20.0)
SUPERSAMPLE = 8
MAX_HAMMING = 8
# The border workload moves the wiggly admins (and its points) by half a
# grid cell, so no polygon edge crosses a grid line. At the original
# placement an edge that only grazes a cell leaves a sliver whose sampled
# coverage is 0; the cover drops that cell and points in the sliver go
# unassigned (2 of 5,000 points at seed 1), which the reference flags.
WIGGLE_SHIFT = 0.025
ADMINS_SCHEMA = "admin_id string, admin1_id string, name string, geometry binary"

# input sizes per workload; "smoke" runs the whole path in seconds
SIZES = {
    "full": {
        "points_hotspot": {"points": 2_000_000},
        "points_border": {"points": 500_000},
        "image_tiles": {"images": 2_500},
        "raster_monthly": {"cells": 9, "hours": 744},
    },
    "smoke": {
        "points_hotspot": {"points": 20_000},
        "points_border": {"points": 5_000},
        "image_tiles": {"images": 300},
        "raster_monthly": {"cells": 5, "hours": 96},
    },
}


def _u(i, a: int, c: int):
    return ((i * a + c) % 99991).cast("double") / 99991.0


class Workload:
    """Common driver-side state: inputs, reference, set-up products."""

    rows = 0  # input rows per job

    def __init__(self, seed: int, size: dict, work: str, cache: str, con):
        self.work = work
        self.spark = None

    def setup(self, spark, spans) -> None:
        self.spark = spark

    def release(self) -> None:
        pass

    def after_job(self) -> None:
        pass

    def pip_rate(self) -> float:
        return 0.0

    def perturb_reference(self) -> None:
        """Make the reference wrong in one value (self-test)."""
        self.want = _perturbed(self.want)


# ---- admin assignment ----------------------------------------------------
class _Assigned(Workload):
    """Workloads that assign rows to admins through the cell cover."""

    def _admins(self, spark):
        return admins_df(spark)

    def setup(self, spark, spans):
        super().setup(spark, spans)
        admins = self._admins(spark)

        def cover():
            c = build_cover(admins, GRID, supersample=SUPERSAMPLE).cache()
            return c, c.count()

        self.cover, self.cover_rows = spans.run("cover", cover)
        self.wkb = spans.run(
            "wkb", lambda: {r.admin_id: bytes(r.geometry) for r in admins.collect()}
        )
        self._n_boundary = None

    def release(self):
        self.cover.unpersist()

    def _assign(self, df):
        return assign_admin(df, self.cover, self.wkb, GRID)

    def _assign_input(self):
        raise NotImplementedError

    def _boundary_rows(self) -> int:
        """Candidate rows in boundary cells: the rows that need the ray cast."""
        if self._n_boundary is None:
            boundary = self.cover.filter(~F.col("interior")).select("cell_id")
            self._n_boundary = (
                with_cell_id(self._assign_input(), GRID)
                .join(F.broadcast(boundary), "cell_id")
                .count()
            )
        return self._n_boundary

    def _pip_points(self):
        raise NotImplementedError

    def pip_rate(self) -> float:
        lon, lat = self._pip_points()
        return _pip_rate(lon, lat, self.cover.toPandas(), self.wkb)


class _Points(_Assigned):
    def __init__(self, seed, size, work, cache, con):
        super().__init__(seed, size, work, cache, con)
        n = self.rows = size["points"]
        self.lo, self.hi = seed * n, seed * n + n
        self.want = self._reference(con)

    def _points(self):
        i = F.col("id")
        lon, lat = self._layout(i)
        parts = self.spark.sparkContext.defaultParallelism
        return self.spark.range(self.lo, self.hi, 1, parts).select(
            i.alias("pid"), lat.alias("lat"), lon.alias("lon"),
            (i % 1000).cast("double").alias("value"),
        )

    _assign_input = _points

    def _pip_points(self):
        return self._layout_np(np.arange(self.lo, self.hi))

    def _zonal(self, assigned):
        return zonal_stats(assigned, "value", ref.OPS)

    def job(self):
        return _frame(self._zonal(self._assign(self._points())).collect())

    def check(self, got) -> str | None:
        return ref.compare(got, self.want)

    def trace(self, spans) -> tuple[float, dict]:
        spark = self.spark

        def job():
            asg, plan_s, plan_jobs, _ = counted(
                spark, spans.run, "assign", self._assign, self._points()
            )
            out = self._zonal(asg)
            got = _frame(spans.run("collect", out.collect))
            return got, plan_totals(out), plan_s, plan_jobs

        (got, tot, plan_s, plan_jobs), job_s, jobs, tasks = counted(spark, job)
        _raise_on_mismatch(self.check(got))
        lay = prefix_profile([
            ("scan", self._points),
            ("assign", lambda: self._assign(self._points())),
            ("zonal", lambda: self._zonal(self._assign(self._points()))),
        ])
        m = _assign_metrics(lay, plan_s, plan_jobs, self._boundary_rows())
        m.update(_zonal_metrics(lay["zonal"]))
        m.update(_scan_metrics(lay["scan"]))
        m.update({
            "spark.jobs": jobs, "spark.tasks": tasks,
            "spark.shuffle_bytes": tot.get("shuffle_bytes", 0),
        })
        return job_s, m


class PointsHotspot(_Points):
    """80 % of points inside a 0.5-degree hotspot within one rectangle admin."""

    def _layout(self, i):
        u1, u2 = _u(i, 48271, 7), _u(i, 16807, 11)
        hot = (i % 5) < 4
        lat = F.when(hot, 12.25 + u1 * 0.5).otherwise(10.0 + u1 * 10.0)
        lon = F.when(hot, 104.25 + u2 * 0.5).otherwise(100.0 + u2 * 10.0)
        return lon, lat

    _layout_np = staticmethod(ref.hotspot_np)

    def _reference(self, con):
        return ref.hotspot_reference(con, self.lo, self.hi)


class PointsBorder(_Points):
    """Every point hugs a vertical border of the 256-vertex wiggly admins."""

    def _admin_rows(self):
        out = []
        for aid, a1, name, wkb in admin_wiggly_geoms():
            geom = [[np.asarray(r) + WIGGLE_SHIFT for r in poly] for poly in wkb_to_rings(wkb)]
            out.append((aid, a1, name, rings_to_wkb(geom)))
        return out

    def _admins(self, spark):
        return spark.createDataFrame(self.admin_rows, ADMINS_SCHEMA)

    def _layout(self, i):
        u1, u2 = _u(i, 48271, 7), _u(i, 16807, 11)
        lon = (
            F.lit(100.0) + (i % 9).cast("double") + F.lit(1.0 + WIGGLE_SHIFT)
            + (u2 * 0.04 - 0.02)
        )
        lat = F.lit(10.0) + u1 * 9.98 + F.lit(0.01)
        return lon, lat

    def _layout_np(self, ids):
        return ref.border_np(ids, WIGGLE_SHIFT)

    def _reference(self, con):
        self.admin_rows = self._admin_rows()
        ids = np.arange(self.lo, self.hi)
        lon, lat = self._layout_np(ids)
        return ref.border_reference(
            lon, lat, (ids % 1000).astype(np.float64),
            [(a, w) for a, _, _, w in self.admin_rows], DOMAIN,
        )


# ---- images -----------------------------------------------------------------
class ImageTiles(_Assigned):
    """Decode + assign + per-admin pixel mean over lossless tiles, then
    phash near-duplicate pairs over the whole fixture."""

    def __init__(self, seed, size, work, cache, con):
        super().__init__(seed, size, work, cache, con)
        n = self.rows = size["images"]
        # content is the repo's deterministic fixture; the seed relocates
        # every image (hotspot layout at ids offset by seed * n) and
        # shuffles the row order
        base = pq.read_table(images_parquet(n, root=cache))
        lon, lat = ref.hotspot_np(np.arange(n, dtype=np.int64) + seed * n)
        t = base.set_column(base.schema.get_field_index("lat"), "lat", pa.array(lat))
        t = t.set_column(t.schema.get_field_index("lon"), "lon", pa.array(lon))
        t = t.take(np.random.default_rng(seed).permutation(n))
        self.path = os.path.join(work, "images.parquet")
        pq.write_table(t, self.path)
        self.lon, self.lat = lon, lat
        self.lossless = np.asarray(base.column("fmt").to_pylist()) != "qnt"
        truth = image_truth_parquet(n, root=cache)
        self.want_tiles = ref.image_tile_reference(con, self.path, truth)
        self.want_pairs = ref.dedup_reference(con, self.path, MAX_HAMMING)

    def release(self):
        super().release()
        release_signature_caches(self.spark)

    def after_job(self):
        # every job deduplicates as if the table were new
        release_signature_caches(self.spark)

    def _scan(self):
        return self.spark.read.parquet(self.path)

    def _tiles(self):
        # the image_tile_zonal shape: lossless tiles, spread when the scan
        # has fewer partitions than cores (the fixture is one file)
        df = self._scan().filter(F.col("fmt") != "qnt")
        target = self.spark.sparkContext.defaultParallelism
        return df if df.rdd.getNumPartitions() >= target else df.repartition(target)

    _assign_input = _tiles

    def _pip_points(self):
        return self.lon[self.lossless], self.lat[self.lossless]

    @staticmethod
    def _decode(assigned):
        return decode_stats(assigned, carry=("admin_id",))

    @staticmethod
    def _tile_agg(dec):
        npx = (F.col("w") * F.col("h")).cast("double")
        return dec.groupBy("admin_id").agg(
            F.count("*").alias("n_tiles"),
            (F.sum(F.col("mean_px") * npx) / F.sum(npx)).alias("mean_px"),
            F.sum(F.col("mean_px").isNull().cast("long")).alias("null_rows"),
            F.sum((~F.col("phash_check")).cast("long")).alias("phash_mismatch"),
        )

    def _pairs(self):
        return phash_near_dupes(
            self._scan().select("image_id", "phash"), max_hamming=MAX_HAMMING
        )

    @staticmethod
    def _pair_hist(pairs):
        chk = (
            F.substring("id_a", 4, 64).cast("long") * 1000003
            + F.substring("id_b", 4, 64).cast("long")
        )
        return pairs.groupBy("hamming").agg(
            F.count("*").alias("n_pairs"), F.sum(chk).alias("id_checksum")
        )

    def job(self):
        tiles = self._tile_agg(self._decode(self._assign(self._tiles()))).collect()
        pairs = self._pair_hist(self._pairs()).collect()
        return _frame(tiles), _frame(pairs)

    def perturb_reference(self):
        self.want_tiles = _perturbed(self.want_tiles)

    def check(self, got) -> str | None:
        tiles, pairs = got
        err = ref.compare(tiles, self.want_tiles)
        if err:
            return f"tiles: {err}"
        err = ref.compare(pairs, self.want_pairs)
        return f"pairs: {err}" if err else None

    def trace(self, spans) -> tuple[float, dict]:
        spark = self.spark

        def job():
            asg, plan_s, plan_jobs, _ = counted(
                spark, spans.run, "assign", self._assign, self._tiles()
            )
            tile_df = self._tile_agg(self._decode(asg))
            tiles = _frame(spans.run("collect", tile_df.collect))
            pairs, _, dedup_jobs, _ = counted(spark, spans.run, "dedup", self._pairs)
            hist = self._pair_hist(pairs)
            hist_rows = _frame(spans.run("collect", hist.collect))
            tot = (plan_totals(tile_df), plan_totals(hist))
            return (tiles, hist_rows), tot, plan_s, plan_jobs, dedup_jobs

        res, job_s, jobs, tasks = counted(spark, job)
        got, (t_tot, d_tot), plan_s, plan_jobs, dedup_jobs = res
        _raise_on_mismatch(self.check(got))
        release_signature_caches(spark)
        lay = prefix_profile([
            ("scan", self._tiles),
            ("assign", lambda: self._assign(self._tiles())),
            ("codec", lambda: self._decode(self._assign(self._tiles()))),
            ("zonal", lambda: self._tile_agg(self._decode(self._assign(self._tiles())))),
        ])
        dlay = prefix_profile([
            ("scan", lambda: self._scan().select("image_id", "phash")),
            ("dedup", self._pairs),
        ])
        codec = lay["codec"]
        m = _assign_metrics(lay, plan_s, plan_jobs, self._boundary_rows())
        m.update(_zonal_metrics(lay["zonal"]))
        m.update(_scan_metrics(lay["scan"]))
        m.update({
            "codec.python_rows": codec["d_pandas_rows"],
            "codec.python_bytes": codec["d_pandas_bytes"],
            "codec.python_s": codec["d_pandas_s"],
            "codec.null_rows": int(got[0].null_rows.sum()),
            "codec.phash_mismatch": int(got[0].phash_mismatch.sum()),
            "codec.self_s": codec["self_s"],
            "dedup.plan_jobs": dedup_jobs,
            "dedup.band_rows": d_tot.get("cache_rows_max", 0),
            "dedup.pairs": int(got[1].n_pairs.sum()),
            "dedup.self_s": dlay["dedup"]["self_s"],
            "spark.jobs": jobs, "spark.tasks": tasks,
            "spark.shuffle_bytes": t_tot.get("shuffle_bytes", 0) + d_tot.get("shuffle_bytes", 0),
        })
        return job_s, m


# ---- monthly raster -----------------------------------------------------------
MONTH = "2019-01"
SHIFT_HOURS = 7
BLOCK_SHIFT = 3


class RasterMonthly(Workload):
    """One month of hourly t2m + tp on a 0.25-degree window: local-time
    daily reduce, sparse bilinear to 0.05 degrees, area-weighted zonal
    stats on a two-level cover, written as the open month partition."""

    def __init__(self, seed, size, work, cache, con):
        super().__init__(seed, size, work, cache, con)
        n, hours = size["cells"], size["hours"]
        # the seed moves the window in quarter-degree steps over the country
        x0 = 100.0 + 0.25 * (seed % 25)
        y0 = 10.0 + 0.25 * ((seed // 25) % 25)
        self.spec = {
            "nx": n, "ny": n, "hours": hours, "x0": x0, "y0": y0, "inc": 0.25,
            "shift": SHIFT_HOURS,
            "target": {"x0": x0, "y0": y0, "dx": 0.05, "dy": 0.05,
                       "nx": 5 * (n - 1), "ny": 5 * (n - 1)},
        }
        self.rows = 2 * n * n * hours
        self.source = Grid.from_centers(x0, 0.25, n, y0, 0.25, n)
        t = self.spec["target"]
        self.target = Grid(x0=t["x0"], dx=t["dx"], nx=t["nx"], y0=t["y0"], dy=t["dy"], ny=t["ny"])
        self.out = os.path.join(work, "monthly")
        self.want = ref.raster_reference(self.spec)

    def setup(self, spark, spans):
        super().setup(spark, spans)

        def cover():
            c = build_cover(admins_df(spark), self.target, supersample=SUPERSAMPLE)
            cells, blocks = compact_cover(c, self.target, block_shift=BLOCK_SHIFT)
            cells, blocks = cells.cache(), blocks.cache()
            return cells, blocks, cells.count(), blocks.count()

        self.cells, self.blocks, self.cover_rows, self.block_rows = spans.run("cover", cover)
        self.manifest = CheckpointManifest(os.path.join(self.work, "manifest"))

    def release(self):
        self.cells.unpersist()
        self.blocks.unpersist()

    def _pixels(self):
        s = self.spec
        return grid_pixels_table(
            self.spark, nx=s["nx"], ny=s["ny"], hours=s["hours"],
            x0=s["x0"], y0=s["y0"], inc=s["inc"],
        )

    @staticmethod
    def _daily(px):
        lt = with_local_time(px, SHIFT_HOURS)
        keys = ["lat", "lon", "var"]
        return daily_reduce(
            lt.filter(F.col("var") == "t2m"), "mean", keys=keys, vartype="instant"
        ).unionByName(
            daily_reduce(lt.filter(F.col("var") == "tp"), "sum", keys=keys, vartype="accum")
        )

    def _resample(self, daily):
        return resample_sparse_bilinear(daily, self.source, self.target, dims=["date", "var"])

    def _zonal(self, res):
        return raster_zonal_stats(
            res, self.cells, self.target, ops=["count", "sum", "mean"],
            by_dims=["date", "var"], blocks=self.blocks, block_shift=BLOCK_SHIFT,
        )

    def _chain(self):
        return self._zonal(self._resample(self._daily(self._pixels())))

    def _write(self, manifest):
        run_incremental(
            self.spark, [MONTH], lambda _p: self._chain(), self.out, manifest,
            open_partitions={MONTH},
        )

    def job(self):
        self._write(self.manifest)
        return pd.read_parquet(os.path.join(self.out, f"part={MONTH}"))

    def check(self, got) -> str | None:
        return ref.compare(got, self.want)

    def trace(self, spans) -> tuple[float, dict]:
        spark = self.spark
        manifest = CheckpointManifest(self.manifest.path)
        manifest.committed = functools.partial(spans.run, "manifest", manifest.committed)
        manifest.record = functools.partial(spans.run, "manifest", manifest.record)
        before = len(spans.durations("manifest"))
        _, job_s, jobs, tasks = counted(spark, spans.run, "job", self._write, manifest)
        part = os.path.join(self.out, f"part={MONTH}")
        _raise_on_mismatch(self.check(pd.read_parquet(part)))
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        lay = prefix_profile([
            ("scan", self._pixels),
            ("timeagg", lambda: self._daily(self._pixels())),
            ("resample", lambda: self._resample(self._daily(self._pixels()))),
            ("zonal", self._chain),
        ])
        z = lay["zonal"]
        m = _zonal_metrics(z)
        m.update(_scan_metrics(lay["scan"]))
        m.update({
            "cover.broadcast_bytes": z.get("cover_broadcast_bytes", 0),
            "cover.broadcast_ms": 1e3 * z.get("cover_broadcast_s", 0),
            "timeagg.in_rows": lay["scan"]["out_rows"],
            "timeagg.out_rows": lay["timeagg"]["out_rows"],
            "timeagg.shuffle_bytes": lay["timeagg"]["d_shuffle_bytes"],
            "timeagg.self_s": lay["timeagg"]["self_s"],
            "resample.out_rows": lay["resample"]["out_rows"],
            "resample.shuffle_bytes": lay["resample"]["d_shuffle_bytes"],
            "resample.self_s": lay["resample"]["self_s"],
            "incremental.write_s": job_s,
            "incremental.bytes_written": sum(
                os.path.getsize(os.path.join(part, f)) for f in files
            ),
            "incremental.files_written": len(files),
            "incremental.jobs_per_commit": jobs,
            "incremental.manifest_s": sum(spans.durations("manifest")[before:]),
            "spark.jobs": jobs, "spark.tasks": tasks,
            "spark.shuffle_bytes": z.get("shuffle_bytes", 0),
        })
        return job_s, m


# ---- shared layer metrics -------------------------------------------------------
def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows])


def _perturbed(want: pd.DataFrame) -> pd.DataFrame:
    out = want.copy()
    col = next(c for c in out.columns if pd.api.types.is_numeric_dtype(out[c]))
    out.loc[0, col] = out.loc[0, col] + 1
    return out


def _raise_on_mismatch(err: str | None) -> None:
    if err:
        raise RuntimeError(f"traced job mismatch: {err}")


def _scan_metrics(scan: dict) -> dict:
    return {
        "scan.rows": scan.get("scan_rows", 0),
        "scan.bytes": scan.get("scan_bytes", 0),
        "scan.spread_shuffle_bytes": scan.get("shuffle_bytes", 0),
    }


def _assign_metrics(lay: dict, plan_s: float, plan_jobs: int, boundary: int) -> dict:
    a = lay["assign"]
    python_rows = a["d_arrow_rows"]
    return {
        "cover.broadcast_bytes": a.get("cover_broadcast_bytes", 0),
        "cover.broadcast_ms": 1e3 * a.get("cover_broadcast_s", 0),
        "assign.plan_s": plan_s,
        "assign.plan_jobs": plan_jobs,
        "assign.candidate_rows": a.get("join_rows_max", 0),
        "assign.boundary_rows": boundary,
        "assign.python_rows": python_rows,
        "assign.python_bytes": a["d_arrow_bytes"],
        "assign.python_s": a["d_arrow_s"],
        "assign.useful_ratio": boundary / python_rows if python_rows else 0.0,
        "assign.kept_rows": a["out_rows"],
        "assign.self_s": a["self_s"],
    }


def _zonal_metrics(z: dict) -> dict:
    """The root-most aggregation of the zonal prefix, and the shuffle bytes
    it adds to the prefix before it."""
    return {
        "zonal.partial_rows": z.get("top_agg_partial_rows", 0),
        "zonal.shuffle_bytes": z["d_shuffle_bytes"],
        "zonal.agg_ms": 1e3 * z.get("top_agg_s", 0),
        "zonal.peak_mem_bytes": z.get("top_agg_peak_mem", 0),
        "zonal.self_s": z["self_s"],
    }


def _pip_rate(lon, lat, cover: pd.DataFrame, wkb: dict, reps: int = 3) -> float:
    """Points per second of ``pip.points_in_geom`` over the points that
    fall in boundary cells, grouped per admin as the Arrow kernel groups
    them; median of ``reps`` passes."""
    x0, y0, x1, y1 = DOMAIN
    on = (lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)
    ix = np.floor((lon[on] - GRID.x0) / GRID.dx).astype(np.int64)
    iy = np.floor((lat[on] - GRID.y0) / GRID.dy).astype(np.int64)
    pts = pd.DataFrame({"cell_id": iy * GRID.nx + ix, "lon": lon[on], "lat": lat[on]})
    cand = pts.merge(cover[~cover.interior][["cell_id", "admin_id"]], on="cell_id")
    if cand.empty:
        return 0.0
    groups = [
        (g.lon.to_numpy(), g.lat.to_numpy(), PreparedGeom(wkb_to_rings(wkb[aid])))
        for aid, g in cand.groupby("admin_id")
    ]
    secs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for x, y, prep in groups:
            points_in_geom(x, y, prep)
        secs.append(time.perf_counter() - t0)
    return len(cand) / statistics.median(secs)


WORKLOADS = {
    "points_hotspot": PointsHotspot,
    "points_border": PointsBorder,
    "image_tiles": ImageTiles,
    "raster_monthly": RasterMonthly,
}
