"""Seeded input generators for the engine benchmark.

Every input a workload sees is a pure function of ``(seed, sizes)``. The
generators live here rather than in ``lib_gdal_spark.sources`` so that the
benchmark's inputs stay fixed while the program changes.

Spatial layout (mirrors the pages fixture of ``sources/pages.py``): 40 city
centres with Zipf weights ``1/(k+1)``; 80 % of pages carry coordinates, 80 %
of those fall in a city cluster, the rest are uniform background. Clusters are
Gaussian in *Web-Mercator* space, so the number of points per mercator cell,
and with it every join's candidate volume, does not depend on the latitude a
seed happens to give a city. Coordinates sit on the 1e-4 degree lattice the
page HTML carries.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd

N_CITIES = 40
GEO_FRACTION = 0.8
CITY_FRACTION = 0.8
CLUSTER_SIGMA = 0.05 / 360.0  # mercator-normalised units (0.05 deg of lon)
MAX_MERC_LAT = 85.05112877980659

_WORDS = np.array(
    "data tile raster vector layer cell grid zoom pixel band warp scan line "
    "point polygon spatial join index query page city river mountain road "
    "map coast valley bridge harbor market".split()
)
_LANGS = np.array(["en", "de", "fr", "es", "ru", "zh"])

def rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream)."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


# --------------------------------------------------------------- mercator


def to_merc(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) degrees -> normalised mercator (mx east, my south) in [0, 1)."""
    lat = np.clip(lat, -MAX_MERC_LAT, MAX_MERC_LAT)
    s = np.sin(np.radians(lat))
    return (lon + 180.0) / 360.0, 0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * np.pi)


def from_merc(mx: np.ndarray, my: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = mx * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * my))))
    return lon, lat


# --------------------------------------------------------------- points


def city_centers(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic city centres: lon in [-175, 175), lat in [-50, 60)."""
    g = rng(seed, 1)
    lon = g.uniform(-175.0, 175.0, N_CITIES)
    lat = g.uniform(-50.0, 60.0, N_CITIES)
    return lon, lat


def city_weights() -> np.ndarray:
    w = 1.0 / (np.arange(N_CITIES) + 1.0)
    return w / w.sum()


def point_coords(seed: int, n: int, stream: int) -> dict[str, np.ndarray]:
    """``n`` page coordinates on the 1e-4 lattice; NaN where a page has none.

    Returns lon, lat and ``city`` (-1 for background or no coordinates).
    """
    g = rng(seed, stream)
    has_geo = g.random(n) < GEO_FRACTION
    in_city = g.random(n) < CITY_FRACTION
    city = g.choice(N_CITIES, size=n, p=city_weights())
    off = g.normal(0.0, CLUSTER_SIGMA, size=(n, 2))
    bg_lon = g.uniform(-180.0, 180.0, n)
    bg_lat = g.uniform(-55.0, 65.0, n)

    clon, clat = city_centers(seed)
    cmx, cmy = to_merc(clon, clat)
    lon_c, lat_c = from_merc(cmx[city] + off[:, 0], cmy[city] + off[:, 1])
    lon = np.where(in_city, lon_c, bg_lon)
    lat = np.where(in_city, lat_c, bg_lat)
    lon = np.round(np.clip(lon, -179.9999, 179.9999), 4)
    lat = np.round(np.clip(lat, -84.9999, 84.9999), 4)
    nan = np.float64(np.nan)
    return {
        "lon": np.where(has_geo, lon, nan),
        "lat": np.where(has_geo, lat, nan),
        "city": np.where(has_geo & in_city, city, -1),
    }


# --------------------------------------------------------------- pages


def _fixed4(v: np.ndarray) -> pd.Series:
    """Format lattice degrees as ``-?\\d+\\.\\d{4}`` without a per-row lambda."""
    q = np.rint(np.abs(v) * 10000.0).astype(np.int64)
    sign = pd.Series(np.where(v < 0, "-", ""))
    whole = pd.Series(q // 10000).astype(str)
    frac = pd.Series(q % 10000).astype(str).str.zfill(4)
    return sign + whole + "." + frac


def pages_frame(seed: int, ids: np.ndarray, coords: dict[str, np.ndarray],
                stream: int = 2) -> pd.DataFrame:
    """Pages table rows ``(url, warc_ts, html, text, lang)`` for ``ids``.

    The HTML follows the extraction contract documented in
    ``functions/extract.py``: a ``geo.position`` meta tag in the head and a
    ``data-lat``/``data-lon`` span in the body for pages with coordinates.
    """
    n = len(ids)
    g = rng(seed, stream)
    ids_s = pd.Series(ids).astype(str)
    url = "https://host" + pd.Series(ids % 1000).astype(str) + ".example/page/" + ids_s
    title = "Page " + ids_s
    picks = g.integers(0, len(_WORDS), size=(8, n))
    body = pd.Series(_WORDS[picks[0]])
    for p in picks[1:]:
        body = body + " " + _WORDS[p]
    lang = pd.Series(_LANGS[g.integers(0, len(_LANGS), n)])
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        g.integers(0, 365 * 24 * 3600, n), unit="s")

    lon, lat = coords["lon"], coords["lat"]
    has_geo = pd.Series(~np.isnan(lon))
    lat_s = _fixed4(np.nan_to_num(lat))
    lon_s = _fixed4(np.nan_to_num(lon))
    geo_txt = "geo: " + lat_s + "," + lon_s
    meta = ('<meta name="geo.position" content="' + lat_s + ";" + lon_s + '">').where(has_geo, "")
    span = ('<span data-lat="' + lat_s + '" data-lon="' + lon_s + '">' + geo_txt
            + "</span>").where(has_geo, "")
    html = ("<html><head><title>" + title + "</title>" + meta + "</head><body><h1>"
            + title + "</h1><p>" + body + "</p>" + span + "</body></html>")
    text = (title + "\n" + body).where(~has_geo, title + "\n" + body + "\n" + geo_txt)
    return pd.DataFrame({
        "url": url,
        "warc_ts": ts,
        "html": html.str.encode("utf-8"),
        "text": text,
        "lang": lang,
    })


# --------------------------------------------------------------- polygons


def wkb_polygon(ring: np.ndarray) -> bytes:
    """Little-endian OGC WKB Polygon with one closed ring."""
    ring = np.asarray(ring, dtype="<f8")
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.tobytes()


def star_ring(g: np.random.Generator, cmx: float, cmy: float, radius: float,
              n_vertices: int) -> np.ndarray:
    """Irregular, non-convex, simple ring around a mercator centre.

    A star-shaped polygon: sorted jittered angles with radii in
    [0.45, 1.0] x ``radius``, so the ring has many reflex vertices but never
    self-intersects. Returned as closed (lon, lat) degrees.
    """
    ang = np.sort((np.arange(n_vertices) + g.uniform(0.1, 0.9, n_vertices))
                  * (2.0 * np.pi / n_vertices))
    r = radius * g.uniform(0.45, 1.0, n_vertices)
    lon, lat = from_merc(cmx + r * np.cos(ang), cmy + r * np.sin(ang))
    ring = np.column_stack([lon, lat])
    return np.vstack([ring, ring[:1]])


def pip_polygons(seed: int) -> pd.DataFrame:
    """Polygon layer ``(fid, name, geom_wkb)`` over the seed's city clusters.

    One 64-vertex star ring per city (radius 3 cluster sigmas) plus four
    large 256-vertex background rings at fixed mercator positions that catch
    the uniform background points. Also returns each ``ring`` as an array.
    """
    g = rng(seed, 3)
    clon, clat = city_centers(seed)
    cmx, cmy = to_merc(clon, clat)
    rings = [star_ring(g, cmx[k], cmy[k], 3.0 * CLUSTER_SIGMA, 64) for k in range(N_CITIES)]
    for b in range(4):
        bx = (b + 0.5) / 4 + g.uniform(-0.03, 0.03)
        by = 0.45 + g.uniform(-0.05, 0.05)
        rings.append(star_ring(g, bx, by, 0.06, 256))
    return pd.DataFrame({
        "fid": np.arange(len(rings), dtype=np.int64),
        "name": [f"poly{k}" for k in range(len(rings))],
        "geom_wkb": [wkb_polygon(r) for r in rings],
        "ring": rings,
    })


# --------------------------------------------------------------- raster


def world_raster(seed: int, width: int, height: int) -> np.ndarray:
    """Smooth uint8 field over the world (EPSG:4326, north-up).

    A sum of a few seeded plane waves: content varies with the seed while
    its compressibility, and so the encode cost, stays about the same.
    """
    g = rng(seed, 4)
    j, i = np.meshgrid(np.arange(height, dtype=np.float64),
                       np.arange(width, dtype=np.float64), indexing="ij")
    acc = np.zeros((height, width))
    for _ in range(4):
        fx, fy = g.uniform(0.01, 0.08, 2)
        ph = g.uniform(0.0, 2.0 * np.pi)
        acc += np.sin(i * fx + j * fy + ph)
    return np.clip(np.rint(128.0 + 30.0 * acc), 0, 255).astype(np.uint8)


def raster_tile_rows(raster_id: str, arr: np.ndarray, tile: int) -> pd.DataFrame:
    """World-extent raster -> rows of the engine's tile-table schema."""
    h, w = arr.shape
    gt = (-180.0, 360.0 / w, 0.0, 90.0, 0.0, -180.0 / h)
    rows = []
    for ty in range((h + tile - 1) // tile):
        for tx in range((w + tile - 1) // tile):
            y0, x0 = ty * tile, tx * tile
            patch = arr[y0:y0 + tile, x0:x0 + tile]
            rows.append(dict(
                raster_id=raster_id, band=1, zoom=0, tile_x=tx, tile_y=ty,
                dtype=str(arr.dtype), tile_w=patch.shape[1], tile_h=patch.shape[0],
                gt0=gt[0] + x0 * gt[1], gt1=gt[1], gt2=0.0,
                gt3=gt[3] + y0 * gt[5], gt4=0.0, gt5=gt[5],
                nodata=None, pixels=patch.astype(np.float64).ravel(),
            ))
    return pd.DataFrame(rows)


# --------------------------------------------------------------- digests


def digest(*parts) -> str:
    """Stable sha256 over numpy arrays, pandas frames/series, bytes and scalars."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            for col in p.columns:
                h.update(col.encode())
                h.update(digest(p[col]).encode())
        elif isinstance(p, pd.Series) and p.dtype == object:
            vals = p.tolist()
            if vals and isinstance(vals[0], (bytes, bytearray)):
                h.update(b"\x00".join(bytes(v) for v in vals))
            else:
                h.update("\x00".join(map(str, vals)).encode())
        elif isinstance(p, (pd.Series, np.ndarray)):
            a = np.asarray(p)
            h.update(str(a.dtype).encode())
            h.update(np.ascontiguousarray(a).tobytes())
        elif isinstance(p, (bytes, bytearray)):
            h.update(bytes(p))
        else:
            h.update(repr(p).encode())
    return h.hexdigest()
