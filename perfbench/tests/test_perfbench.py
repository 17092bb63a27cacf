"""Tests of the benchmark itself (inputs, metric names, oracles); no Spark.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sqlite3
import struct
import zlib

import numpy as np
import pandas as pd
import pytest

import gen
import oracle
import run
from workloads import WORKLOADS, enriched_digest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --------------------------------------------------------------- determinism


def _inputs(seed):
    c = gen.point_coords(seed, 3000, stream=100)
    pages = gen.pages_frame(seed, np.arange(3000), c, stream=200)
    polys = gen.pip_polygons(seed)
    return {
        "points": gen.digest(c["lon"], c["lat"], c["city"]),
        "pages": gen.digest(pages),
        "polygons": gen.digest(polys[["fid", "geom_wkb"]]),
        "raster": gen.digest(gen.world_raster(seed, 128, 64)),
    }


def test_same_seed_same_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert all(a[k] != b[k] for k in a)


def test_pages_carry_the_generated_coordinates():
    c = gen.point_coords(3, 500, stream=1)
    pages = gen.pages_frame(3, np.arange(500), c)
    html = pages["html"].str.decode("utf-8")
    got = html.str.extract(r'content="(-?\d+\.\d{4});(-?\d+\.\d{4})"').astype(float)
    ok = ~np.isnan(c["lon"])
    assert np.array_equal(got[0].to_numpy()[ok], c["lat"][ok])
    assert np.array_equal(got[1].to_numpy()[ok], c["lon"][ok])
    assert got[0].isna().to_numpy()[~ok].all()


def test_city_polygons_sit_on_the_clusters():
    c = gen.point_coords(5, 20000, stream=1)
    rings = list(gen.pip_polygons(5)["ring"])
    p, _ = oracle.pip_pairs(c["lon"], c["lat"], rings)
    geo = int((~np.isnan(c["lon"])).sum())
    assert len(np.unique(p)) > 0.5 * geo


# --------------------------------------------------------------- metric names


def test_metric_names_and_units_are_well_formed():
    b = bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]), m
    moved = set(run.END_TO_END) | {"commit_s_p50", "commit_s_tail", "resume_s"}
    for wl in WORKLOADS.values():
        for n, (unit, e2e) in wl.layer_map.items():
            assert NAME.match(n) and UNIT.match(unit), (wl.name, n, unit)
            assert e2e in moved, (wl.name, n, e2e)


def test_runner_prints_the_declared_metrics():
    b = bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert "setup_s" in run.END_TO_END
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def test_tail_is_highest_percentile_with_ten_beyond():
    from harness import tail

    xs = list(range(1, 41))
    v, pct = tail(xs)
    assert v == 30 and pct == 75.0
    assert sum(x > v for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (2.5, 75.0)
    assert tail([4.0]) == (4.0, 100.0)


# --------------------------------------------------------------- oracles


def test_even_odd_on_a_concave_ring():
    # U shape: the notch (1.5, 1.5) is outside, both arms inside.
    ring = np.array([[0, 0], [3, 0], [3, 3], [2, 3], [2, 1], [1, 1], [1, 3], [0, 3], [0, 0]], float)
    px = np.array([0.5, 2.5, 1.5, 1.5, 4.0])
    py = np.array([2.0, 2.0, 2.0, 0.5, 1.0])
    assert oracle.even_odd(px, py, ring).tolist() == [True, True, False, True, False]


def test_geojoin_oracle_rejects_perturbed_output():
    c = gen.point_coords(9, 4000, stream=1)
    urls = np.array([f"u{i}" for i in range(4000)])
    rings = list(gen.pip_polygons(9)["ring"])
    want = oracle.tile_hit_table(urls, c["lon"], c["lat"], rings, 12)
    assert want == oracle.tile_hit_table(urls, c["lon"], c["lat"], rings, 12)
    key = next(iter(want))
    n, h = want[key]
    for bad in ({**want, key: (n + 1, h)}, {**want, key: (n, h + 1)},
                {k: v for k, v in want.items() if k != key}):
        assert bad != want
    # One hit point moved outside every polygon changes the answer.
    p, _ = oracle.pip_pairs(c["lon"], c["lat"], rings)
    lon = c["lon"].copy()
    lon[p[0]] = 179.0
    assert oracle.tile_hit_table(urls, lon, c["lat"], rings, 12) != want


def _knn_case():
    g = np.random.default_rng(0)
    tlon, tlat = g.uniform(10, 10.2, 400), g.uniform(45, 45.2, 400)
    tid = np.arange(400, dtype=np.int64)
    qlon, qlat = g.uniform(10.05, 10.15, 5), g.uniform(45.05, 45.15, 5)
    ot, od = oracle.knn_brute(qlon, qlat, tid, tlon, tlat, 4)
    expect = {q: (ot[q], od[q]) for q in range(5)}
    rows = [{"qid": q, "tid": int(ot[q][r]), "rank": r + 1, "dist_km": float(od[q][r])}
            for q in range(5) for r in range(4)]
    return tlon, tlat, qlon, qlat, ot, od, expect, rows


def test_knn_brute_force_is_exact():
    tlon, tlat, qlon, qlat, ot, od, _, _ = _knn_case()
    for q in range(5):
        d = oracle.haversine_km(qlon[q], qlat[q], tlon, tlat)
        assert set(ot[q]) == set(np.argsort(d)[:4])
        assert np.all(np.diff(od[q]) >= 0)


def test_knn_oracle_rejects_perturbed_output():
    *_, expect, rows = _knn_case()
    assert oracle.knn_rows_match(rows, expect)
    swapped = [dict(r) for r in rows]
    swapped[0]["tid"], swapped[1]["tid"] = swapped[1]["tid"], swapped[0]["tid"]
    moved = [dict(r) for r in rows]
    moved[2]["dist_km"] += 1e-5
    for bad in (swapped, moved, rows[1:], rows + [dict(rows[0], rank=5)]):
        assert not oracle.knn_rows_match(bad, expect)


def test_round_half_up_matches_sql_round():
    assert oracle.round_half_up(0.0000025, 6) == 0.000003
    assert oracle.round_half_up(1.2345675, 6) == 1.234568
    assert oracle.round_half_up(2.5e-7, 6) == 0.0


def test_ring_guard_bounds_the_ring_box():
    lon, lat = np.array([10.01]), np.array([45.01])
    g = oracle.ring_guard_km(lon, lat, 14, 1)
    cell_km = 40075.0 * np.cos(np.radians(45.0)) / (1 << 14)
    assert cell_km * 0.9 < g[0] < 2.1 * cell_km


def _png(arr, ftype=0):
    h, w = arr.shape
    if ftype == 0:
        rows = [b"\x00" + arr[r].tobytes() for r in range(h)]
    else:  # Sub filter
        d = np.diff(arr.astype(np.int64), axis=1, prepend=0) % 256
        rows = [b"\x01" + d[r].astype(np.uint8).tobytes() for r in range(h)]

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(rows))) + chunk(b"IEND", b""))


def test_png_decoder_reads_filters_and_checks_crc():
    arr = (np.arange(64 * 32).reshape(32, 64) % 251).astype(np.uint8)
    assert np.array_equal(oracle.decode_png(_png(arr, 0)), arr)
    assert np.array_equal(oracle.decode_png(_png(arr, 1)), arr)
    bad = bytearray(_png(arr))
    bad[40] ^= 0xFF
    with pytest.raises(ValueError):
        oracle.decode_png(bytes(bad))


def test_mbtiles_oracle_rejects_perturbed_tiles(tmp_path):
    ramp = np.arange(64, dtype=np.uint8).reshape(8, 8)
    base = {(x, y): ramp + 10 * x + y for x in range(4) for y in range(4)}
    base[(3, 3)] = np.zeros((8, 8), np.uint8)
    base[(3, 3)][0, 1] = 2
    want = oracle.expected_pyramid(base, 2, 2, 8)
    assert set(want) == {(2, x, y) for x in range(4) for y in range(4)} | {
        (1, x, y) for x in range(2) for y in range(2)} | {(0, 0, 0)}
    assert want[(1, 0, 0)][0, 0] == (0 + 1 + 8 + 9 + 2) // 4
    assert want[(1, 1, 1)][4, 4] == 1  # mean 0.5 rounds half up

    def write(tiles, path):
        con = sqlite3.connect(path)
        con.execute("CREATE TABLE tiles (zoom_level, tile_column, tile_row, tile_data)")
        con.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?)",
                        [(z, x, (1 << z) - 1 - y, _png(a)) for (z, x, y), a in tiles.items()])
        con.commit()
        con.close()

    good = str(tmp_path / "good.mbtiles")
    write(want, good)
    assert oracle.compare_tiles(oracle.read_mbtiles(good), want) == []
    pixel = {k: v.copy() for k, v in want.items()}
    pixel[(1, 1, 0)][3, 3] ^= 1
    missing = {k: v for k, v in want.items() if k != (0, 0, 0)}
    for i, bad in enumerate((pixel, missing)):
        path = str(tmp_path / f"bad{i}.mbtiles")
        write(bad, path)
        assert oracle.compare_tiles(oracle.read_mbtiles(path), want)


def test_enriched_digest_rejects_perturbed_rows():
    c = gen.point_coords(4, 200, stream=1)
    pages = gen.pages_frame(4, np.arange(200), c)
    ok = ~np.isnan(c["lon"])
    cell = np.full(200, -1, np.int64)
    cell[ok] = oracle.quad_cell(c["lon"][ok], c["lat"][ok], 12)
    df = pd.DataFrame({"url": pages["url"], "text": pages["text"], "lon": c["lon"],
                       "lat": c["lat"], "cell": cell})
    want = enriched_digest(df)
    assert enriched_digest(df.sample(frac=1.0, random_state=1)) == want
    i = int(np.flatnonzero(ok)[0])
    for col, val in (("text", "x"), ("cell", cell[i] + 1), ("lon", c["lon"][i] + 1e-4)):
        bad = df.copy()
        bad.loc[i, col] = val
        assert enriched_digest(bad) != want
    assert enriched_digest(df.iloc[1:]) != want
