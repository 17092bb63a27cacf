"""Reference answers for the benchmark, independent of ``lib_gdal_spark``.

Each oracle is plain NumPy / stdlib code written against the published
contract of the operator it checks (even-odd point-in-polygon, Web-Mercator
XYZ tiles, haversine kNN with a tid tie-break, the PNG and MBTiles formats,
the quadtree cell packing). Nothing here imports the program under test.
"""

from __future__ import annotations

import sqlite3
import struct
import zlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

EARTH_RADIUS_KM = 6371.0088
MAX_MERC_LAT = 85.05112877980659


# --------------------------------------------------------------- cells / tiles


def merc_norm(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_MERC_LAT, MAX_MERC_LAT)
    s = np.sin(np.radians(lat))
    mx = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0
    my = 0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * np.pi)
    return mx, my


def xyz_tile(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """XYZ tile (row 0 at the top) of each point at zoom ``z``."""
    n = 1 << z
    mx, my = merc_norm(lon, lat)
    tx = np.clip(np.floor(mx * n), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor(my * n), 0, n - 1).astype(np.int64)
    return tx, ty


def quad_cell(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Packed int64 cell: res in bits 58+, x in bits 29..57, y in bits 0..28."""
    tx, ty = xyz_tile(lon, lat, res)
    return (np.int64(res) << np.int64(58)) | (tx << np.int64(29)) | ty


# --------------------------------------------------------------- point in polygon


def even_odd(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd rule for a closed ring: a horizontal ray to +x from each point
    crosses edge (a, b) iff ``(ya > py) != (yb > py)`` and the crossing lies
    strictly right of the point."""
    inside = np.zeros(len(px), dtype=bool)
    for (xa, ya), (xb, yb) in zip(ring[:-1], ring[1:]):
        if ya == yb:
            continue
        spans = (ya > py) != (yb > py)
        t = (py - ya) / (yb - ya)
        inside ^= spans & (px < xa + t * (xb - xa))
    return inside


def pip_pairs(lon: np.ndarray, lat: np.ndarray, rings: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """All (point index, polygon index) pairs with the point inside."""
    pts, fids = [], []
    ok = ~np.isnan(lon)
    for fid, ring in enumerate(rings):
        box = (ok & (lon >= ring[:, 0].min()) & (lon <= ring[:, 0].max())
               & (lat >= ring[:, 1].min()) & (lat <= ring[:, 1].max()))
        idx = np.flatnonzero(box)
        hit = idx[even_odd(lon[idx], lat[idx], ring)]
        pts.append(hit)
        fids.append(np.full(len(hit), fid, dtype=np.int64))
    return np.concatenate(pts), np.concatenate(fids)


def tile_hit_table(urls: np.ndarray, lon: np.ndarray, lat: np.ndarray,
                   rings: list[np.ndarray], z: int) -> dict[tuple[int, int, int], tuple[int, int]]:
    """Expected ``(fid, tx, ty) -> (hits, sum of crc32(url))`` of the geojoin."""
    p, f = pip_pairs(lon, lat, rings)
    tx, ty = xyz_tile(lon[p], lat[p], z)
    crc = np.array([zlib.crc32(u.encode()) for u in urls[p]], dtype=np.int64)
    out: dict[tuple[int, int, int], list[int]] = {}
    for key, c in zip(zip(f.tolist(), tx.tolist(), ty.tolist()), crc.tolist()):
        acc = out.setdefault(key, [0, 0])
        acc[0] += 1
        acc[1] += c
    return {k: (v[0], v[1]) for k, v in out.items()}


# --------------------------------------------------------------- kNN


def haversine_km(lon1, lat1, lon2, lat2) -> np.ndarray:
    rl1, rl2 = np.radians(lat1), np.radians(lat2)
    dlat = rl2 - rl1
    dlon = np.radians(lon2) - np.radians(lon1)
    h = np.sin(dlat / 2) ** 2 + np.cos(rl1) * np.cos(rl2) * np.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(h, 1.0)))


def round_half_up(x: float, decimals: int) -> float:
    """Decimal HALF_UP rounding of the shortest repr, as SQL ROUND does."""
    q = Decimal(1).scaleb(-decimals)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def knn_brute(qlon, qlat, tid, tlon, tlat, k: int, decimals: int = 6,
              chunk: int = 64) -> tuple[np.ndarray, np.ndarray]:
    """Exact kNN by brute force: ranks by (rounded distance, tid).

    Returns (tids, dists) of shape (n_queries, k). The ``k + 16`` nearest by
    raw distance are re-ranked after rounding, which is where ties arise.
    """
    nq = len(qlon)
    out_t = np.empty((nq, k), dtype=np.int64)
    out_d = np.empty((nq, k), dtype=np.float64)
    m = min(k + 16, len(tid))
    for s in range(0, nq, chunk):
        d = haversine_km(qlon[s:s + chunk, None], qlat[s:s + chunk, None],
                         tlon[None, :], tlat[None, :])
        near = np.argpartition(d, m - 1, axis=1)[:, :m]
        for r in range(d.shape[0]):
            cand = [(round_half_up(d[r, j], decimals), int(tid[j])) for j in near[r]]
            cand.sort()
            out_d[s + r] = [c[0] for c in cand[:k]]
            out_t[s + r] = [c[1] for c in cand[:k]]
    return out_t, out_d


def knn_rows_match(rows, expect: dict[int, tuple[np.ndarray, np.ndarray]]) -> bool:
    """Engine rows (qid, tid, rank, dist_km) equal the brute-force answer:
    same queries, ranks 1..k, same tid at every rank, distances within half
    a unit of the sixth decimal."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["qid"], []).append((r["rank"], r["tid"], r["dist_km"]))
    if set(got) != set(expect):
        return False
    for qid, (tids, dists) in expect.items():
        g = sorted(got[qid])
        if [x[0] for x in g] != list(range(1, len(tids) + 1)):
            return False
        if [x[1] for x in g] != tids.tolist():
            return False
        if not np.allclose([x[2] for x in g], dists, rtol=0.0, atol=5e-7):
            return False
    return True


def ring_guard_km(qlon: np.ndarray, qlat: np.ndarray, res: int, rings: int) -> np.ndarray:
    """Distance from each query to the edge of its k-ring box of cells.

    A kNN answer found inside the ring is exact when its k-th distance is
    below this guard: nothing outside the box can be nearer.
    """
    n = 1 << res
    mx, my = merc_norm(qlon, qlat)
    cx, cy = np.floor(mx * n), np.floor(my * n)
    lon0 = (cx - rings) / n * 360.0 - 180.0
    lon1 = (cx + rings + 1) / n * 360.0 - 180.0
    y0 = np.clip((cy - rings) / n, 0.0, 1.0)
    y1 = np.clip((cy + rings + 1) / n, 0.0, 1.0)
    lat_top = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y0))))
    lat_bot = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y1))))
    clat = np.clip(qlat, lat_bot, lat_top)
    return np.minimum.reduce([
        haversine_km(qlon, qlat, qlon, lat_top),
        haversine_km(qlon, qlat, qlon, lat_bot),
        haversine_km(qlon, qlat, lon0, clat),
        haversine_km(qlon, qlat, lon1, clat),
    ])


# --------------------------------------------------------------- raster


def pyramid_average(children: dict[tuple[int, int], np.ndarray], tile: int) -> np.ndarray:
    """One 2:1 AVERAGE overview step on uint8: round-half-up box mean."""
    mosaic = np.zeros((2 * tile, 2 * tile), dtype=np.int64)
    for (dx, dy), arr in children.items():
        mosaic[dy * tile:(dy + 1) * tile, dx * tile:(dx + 1) * tile] = arr
    s = (mosaic[0::2, 0::2] + mosaic[1::2, 0::2] + mosaic[0::2, 1::2] + mosaic[1::2, 1::2])
    return ((s + 2) // 4).astype(np.uint8)


def expected_pyramid(base: dict[tuple[int, int], np.ndarray], z: int, levels: int,
                     tile: int) -> dict[tuple[int, int, int], np.ndarray]:
    """XYZ-keyed tiles of a base zoom ``z`` plus ``levels`` coarser zooms."""
    out = {(z, x, y): a for (x, y), a in base.items()}
    cur = base
    for lvl in range(1, levels + 1):
        parents: dict[tuple[int, int], dict] = {}
        for (x, y), a in cur.items():
            parents.setdefault((x // 2, y // 2), {})[(x % 2, y % 2)] = a
        cur = {k: pyramid_average(ch, tile) for k, ch in parents.items()}
        out.update({(z - lvl, x, y): a for (x, y), a in cur.items()})
    return out


def _unfilter(raw: bytes, w: int, h: int) -> np.ndarray:
    """Undo PNG scanline filters for 8-bit single-channel images."""
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)
    out = np.zeros((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.int64)
    for r in range(h):
        ftype, line = rows[r, 0], rows[r, 1:].astype(np.int64)
        if ftype == 0:
            cur = line
        elif ftype == 1:
            cur = np.cumsum(line) % 256
        elif ftype == 2:
            cur = (line + prev) % 256
        elif ftype in (3, 4):
            cur = np.zeros(w, dtype=np.int64)
            for i in range(w):
                a = cur[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                if ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[i] = (line[i] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[r] = cur
        prev = cur
    return out


def decode_png(png: bytes) -> np.ndarray:
    """8-bit grayscale PNG -> (h, w) uint8, straight from the file format."""
    if png[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    off, idat, w, h = 8, [], None, None
    while off < len(png):
        (ln,) = struct.unpack_from(">I", png, off)
        tag = png[off + 4:off + 8]
        data = png[off + 8:off + 8 + ln]
        if zlib.crc32(tag + data) != struct.unpack_from(">I", png, off + 8 + ln)[0]:
            raise ValueError("PNG chunk CRC mismatch")
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or ctype != 0 or interlace != 0:
                raise ValueError("only 8-bit grayscale, non-interlaced PNG")
        elif tag == b"IDAT":
            idat.append(data)
        off += 12 + ln
    return _unfilter(zlib.decompress(b"".join(idat)), w, h)


def read_mbtiles(path: str) -> dict[tuple[int, int, int], np.ndarray]:
    """MBTiles file -> {(z, x, y_xyz): pixels}; rows are TMS-flipped on disk."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        rows = con.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles").fetchall()
    finally:
        con.close()
    return {(z, x, (1 << z) - 1 - row): decode_png(bytes(blob)) for z, x, row, blob in rows}


def compare_tiles(got: dict, want: dict) -> list[str]:
    """Human-readable differences between two tile dicts (empty if equal)."""
    errs = [f"missing tile {k}" for k in sorted(set(want) - set(got))]
    errs += [f"unexpected tile {k}" for k in sorted(set(got) - set(want))]
    for k in sorted(set(got) & set(want)):
        if got[k].shape != want[k].shape or not np.array_equal(got[k], want[k]):
            errs.append(f"pixels differ in tile {k}")
    return errs
