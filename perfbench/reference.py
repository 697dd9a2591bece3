"""Independent references for the benchmark workloads.

Every reference is computed from the generated inputs alone, without
Spark and without the engine's cover, broadcast join or Arrow kernels:

* closed-form DuckDB SQL where the answer has one (rectangle admins are
  ``floor`` arithmetic, decoded image means come from the ground-truth
  pixel table, near-duplicate pairs are an all-pairs Hamming scan);
* brute-force NumPy otherwise (wiggly polygons, the monthly raster chain).

Results are compared at the 1e-9 relative tolerance of
``scripts/check_oracle.compare``, never by exact hash: double sums change
in the last digits with how partitions are grouped.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

REL_TOL = 1e-9
OPS = ["count", "mean", "sum", "min", "max"]


# ---- point layouts (identical double arithmetic in Spark, NumPy, DuckDB) ---
def _u(i, a: int, c: int):
    return ((i * a + c) % 99991).astype(np.float64) / 99991.0


def hotspot_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) of the hotspot layout: 4 of 5 points in a 0.5-degree box
    inside one admin, the rest uniform over the 10 x 10 degree country."""
    u1, u2 = _u(ids, 48271, 7), _u(ids, 16807, 11)
    hot = (ids % 5) < 4
    lat = np.where(hot, 12.25 + u1 * 0.5, 10.0 + u1 * 10.0)
    lon = np.where(hot, 104.25 + u2 * 0.5, 100.0 + u2 * 10.0)
    return lon, lat


def border_np(ids: np.ndarray, shift: float) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) of the border layout: every point within 0.02 degrees of
    one of the nine inner vertical admin borders, moved east by ``shift``."""
    u1, u2 = _u(ids, 48271, 7), _u(ids, 16807, 11)
    lon = ((100.0 + (ids % 9).astype(np.float64)) + (1.0 + shift)) + (u2 * 0.04 - 0.02)
    lat = (10.0 + u1 * 9.98) + 0.01
    return lon, lat


HOTSPOT_POINTS_SQL = """
SELECT
  CASE WHEN i % 5 < 4
       THEN 12.25 + (CAST((i * 48271 + 7) % 99991 AS DOUBLE) / 99991.0) * 0.5
       ELSE 10.0  + (CAST((i * 48271 + 7) % 99991 AS DOUBLE) / 99991.0) * 10.0
  END AS lat,
  CASE WHEN i % 5 < 4
       THEN 104.25 + (CAST((i * 16807 + 11) % 99991 AS DOUBLE) / 99991.0) * 0.5
       ELSE 100.0  + (CAST((i * 16807 + 11) % 99991 AS DOUBLE) / 99991.0) * 10.0
  END AS lon,
  CAST(i % 1000 AS DOUBLE) AS value
FROM range({lo}, {hi}) t(i)
"""


def duckdb_connect(tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


# ---- workload references ---------------------------------------------------
def hotspot_reference(con, lo: int, hi: int) -> pd.DataFrame:
    """Per-admin count/mean/sum/min/max by floor arithmetic (DuckDB)."""
    from geoglue_spark.synth import ADMIN_ID_SQL

    return con.execute(
        f"""
        WITH points AS ({HOTSPOT_POINTS_SQL.format(lo=lo, hi=hi)})
        SELECT {ADMIN_ID_SQL} AS admin_id, count(value) AS count,
               avg(value) AS mean, sum(value) AS sum,
               min(value) AS min, max(value) AS max
        FROM points GROUP BY 1
        """
    ).df()


def _ring_edges(wkb: bytes) -> list[np.ndarray]:
    from geoglue_spark.geometry import wkb_to_rings

    out = []
    for poly in wkb_to_rings(wkb):
        for ring in poly:
            r = np.asarray(ring, dtype=np.float64)
            if not np.array_equal(r[0], r[-1]):
                r = np.vstack([r, r[:1]])
            out.append(r)
    return out


def inside_brute_force(lon: np.ndarray, lat: np.ndarray, wkb: bytes) -> np.ndarray:
    """Even-odd test of every point against every edge of one polygon,
    with the same half-open crossing rule as the engine's ray cast."""
    inside = np.zeros(len(lon), dtype=bool)
    for r in _ring_edges(wkb):
        for k in range(len(r) - 1):
            (x1, y1), (x2, y2) = r[k], r[k + 1]
            idx = np.nonzero((y1 > lat) != (y2 > lat))[0]
            xint = (x2 - x1) * (lat[idx] - y1) / (y2 - y1) + x1
            inside[idx[lon[idx] < xint]] ^= True
    return inside


def border_reference(
    lon: np.ndarray, lat: np.ndarray, value: np.ndarray,
    admins: list[tuple[str, bytes]], domain: tuple[float, float, float, float],
) -> pd.DataFrame:
    """Per-admin stats over every (point, polygon) containment pair.
    Wiggly admins overlap and leave gaps, so a point counts once per
    polygon holding it. Points outside the assignment grid are dropped,
    as the engine drops them."""
    x0, y0, x1, y1 = domain
    on_grid = (lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)
    frames = []
    for aid, wkb in admins:
        xs = np.concatenate([r[:, 0] for r in _ring_edges(wkb)])
        ys = np.concatenate([r[:, 1] for r in _ring_edges(wkb)])
        near = np.nonzero(
            on_grid & (lon >= xs.min()) & (lon <= xs.max())
            & (lat >= ys.min()) & (lat <= ys.max())
        )[0]
        hit = near[inside_brute_force(lon[near], lat[near], wkb)]
        frames.append(pd.DataFrame({"admin_id": aid, "value": value[hit]}))
    df = pd.concat(frames, ignore_index=True)
    g = df.groupby("admin_id")["value"]
    out = pd.DataFrame(
        {"count": g.count(), "mean": g.mean(), "sum": g.sum(),
         "min": g.min(), "max": g.max()}
    ).reset_index()
    return out


def image_tile_reference(con, images_path: str, truth_path: str) -> pd.DataFrame:
    """Per-admin tile count and pixel-weighted mean from ground-truth pixel
    statistics (no encode/decode round trip); lossless formats only."""
    from geoglue_spark.synth import ADMIN_ID_SQL

    return con.execute(
        f"""
        WITH a AS (
          SELECT {ADMIN_ID_SQL} AS admin_id, t.mean_px, t.n_px
          FROM read_parquet('{images_path}') i
          JOIN read_parquet('{truth_path}') t USING (image_id)
          WHERE i.fmt <> 'qnt'
        )
        SELECT admin_id, count(*) AS n_tiles,
               sum(mean_px * n_px) / sum(n_px) AS mean_px,
               CAST(0 AS BIGINT) AS null_rows,
               CAST(0 AS BIGINT) AS phash_mismatch
        FROM a GROUP BY 1
        """
    ).df()


PAIR_CHECKSUM_SQL = (
    "CAST(substr({a}, 4) AS BIGINT) * 1000003 + CAST(substr({b}, 4) AS BIGINT)"
)


def dedup_reference(con, images_path: str, max_hamming: int) -> pd.DataFrame:
    """All-pairs phash Hamming scan: pair count and id checksum per
    distance."""
    chk = PAIR_CHECKSUM_SQL.format(a="a.image_id", b="b.image_id")
    return con.execute(
        f"""
        WITH p AS (SELECT image_id, phash FROM read_parquet('{images_path}'))
        SELECT bit_count(xor(a.phash, b.phash)) AS hamming,
               count(*) AS n_pairs, sum({chk}) AS id_checksum
        FROM p a JOIN p b
          ON a.image_id < b.image_id
         AND bit_count(xor(a.phash, b.phash)) <= {max_hamming}
        GROUP BY 1
        """
    ).df()


def raster_reference(spec: dict) -> pd.DataFrame:
    """The monthly chain in NumPy: hourly t2m/tp -> local-time daily
    mean/sum -> sparse bilinear resample -> area-weighted zonal
    count/sum/mean per (admin, date, var). Admins are the 1-degree
    rectangles and the target grid is aligned to them, so every target
    cell belongs to one admin with coverage 1."""
    nx, ny, hours = spec["nx"], spec["ny"], spec["hours"]
    x0, y0, inc, shift = spec["x0"], spec["y0"], spec["inc"], spec["shift"]
    ix = np.arange(nx)
    iy = np.arange(ny)
    h = np.arange(hours)
    lon = x0 + ix.astype(np.float64) * inc
    lat = y0 + iy.astype(np.float64) * inc
    LON, LAT = lon[None, None, :], lat[None, :, None]
    H = h[:, None, None]
    coast = (((ix[None, :] * 7 + iy[:, None] * 13) % 23) == 0)[None, :, :]
    t2m = ((280.0 + np.sin(LON / 10) * 5) + np.cos(LAT / 10) * 3) + (H % 24).astype(
        np.float64
    ) * 0.1
    tp = np.maximum(0.0, np.sin((LON + LAT) + H.astype(np.float64) / 7.0) * 2.0)
    t2m = np.where(coast, np.nan, t2m)
    tp = np.where(coast, np.nan, tp)

    t0 = np.datetime64("2019-01-01")
    daily = {}
    for var, arr, offset, how in (("t2m", t2m, shift, "mean"), ("tp", tp, shift - 1, "sum")):
        day = (h + offset) // 24
        for d in np.unique(day):
            sel = arr[day == d]
            valid = ~np.isnan(sel)
            n = valid.sum(axis=0)
            s = np.where(valid, sel, 0.0).sum(axis=0)
            val = s / np.maximum(n, 1) if how == "mean" else s
            daily[(str(t0 + np.timedelta64(int(d), "D")), var)] = np.where(n > 0, val, np.nan)

    # sparse bilinear onto the target grid (source addressed by centres)
    tg = spec["target"]
    tix = np.arange(tg["nx"])
    tiy = np.arange(tg["ny"])
    tlon = tg["x0"] + (tix.astype(np.float64) + 0.5) * tg["dx"]
    tlat = tg["y0"] + (tiy.astype(np.float64) + 0.5) * tg["dy"]
    fx = (tlon - x0) / inc
    fy = (tlat - y0) / inc
    ix0 = np.floor(fx).astype(np.int64)
    iy0 = np.floor(fy).astype(np.int64)
    ax = fx - ix0
    ay = fy - iy0
    refs = []
    for dxi, wx in ((0, 1 - ax), (1, ax)):
        for dyi, wy in ((0, 1 - ay), (1, ay)):
            sx = np.clip(ix0 + dxi, 0, nx - 1)
            sy = np.clip(iy0 + dyi, 0, ny - 1)
            refs.append((sy[:, None], sx[None, :], wy[:, None] * wx[None, :]))

    # zonal: admin by floor arithmetic on the target cell centre; weight =
    # spherical cell area (coverage is exactly 1 on the aligned grid)
    admin = np.array(
        [[f"ADM2-{int(math.floor(la - 10.0)) * 10 + int(math.floor(lo - 100.0)):02d}"
          for lo in tlon] for la in tlat]
    )
    y_bot = tg["y0"] + tiy.astype(np.float64) * tg["dy"]
    area = (6371.0088**2 * math.radians(tg["dx"])) * (
        np.sin(np.radians(y_bot + tg["dy"])) - np.sin(np.radians(y_bot))
    )
    covw = np.broadcast_to(area[:, None], (tg["ny"], tg["nx"]))
    rows = []
    for (date, var), src in daily.items():
        num = np.zeros((tg["ny"], tg["nx"]))
        den = np.zeros_like(num)
        wtot = np.zeros_like(num)
        for sy, sx, w in refs:
            v = src[sy, sx]
            ok = ~np.isnan(v)
            pos = w > 0
            num += np.where(pos & ok, np.where(ok, v, 0.0) * w, 0.0)
            den += np.where(pos & ok, w, 0.0)
            wtot += np.where(pos, w, 0.0)
        with np.errstate(invalid="ignore", divide="ignore"):
            val = np.where(den / wtot > 1e-6, num / den, np.nan)
        ok = ~np.isnan(val)
        df = pd.DataFrame(
            {"admin_id": admin[ok], "v": val[ok], "w": covw[ok]}
        )
        df["vw"] = df.v * df.w
        g = df.groupby("admin_id").agg(count=("w", "sum"), sum=("vw", "sum"))
        g["mean"] = g["sum"] / g["count"]
        g["date"] = date
        g["var"] = var
        rows.append(g.reset_index())
    return pd.concat(rows, ignore_index=True)


# ---- comparison --------------------------------------------------------------
def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(
        [c for c in df.columns if not pd.api.types.is_float_dtype(df[c])]
        or list(df.columns)
    ).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal: same rows, same columns, floats within 1e-9
    relative; otherwise a one-line description of the first mismatch."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            x, y = a[c].astype("float64"), b[c].astype("float64")
            bad = ~((x.isna() & y.isna()) | ((x - y).abs() <= REL_TOL * (1 + y.abs())))
        else:
            bad = a[c].astype(str) != b[c].astype(str)
        if bad.any():
            i = int(bad.idxmax())
            return f"col {c} row {i}: got {a[c][i]!r} want {b[c][i]!r} ({int(bad.sum())} diffs)"
    return None
