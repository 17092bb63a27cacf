"""The benchmark workloads.

Each workload generates its inputs from the seed in ``setup`` (files under its
own directory plus the oracle's answers), then serves closed-loop requests in
``step``: the single client submits one job, waits for the result, checks it
against the oracle (outside the timed region) and only then submits the next.

``prefixes`` returns the job's cumulative layer prefixes as DataFrames, which
the traced run forces one after another to attribute time to each layer
(Spark is lazy, so a span around a layer call only covers plan building).
``layer_metrics`` times calls into each layer's public functions and counts
the work the layers do.
"""

from __future__ import annotations

import inspect
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from harness import Tracer, timed


@dataclass
class Sample:
    """One closed-loop job: wall seconds, items served, oracle verdict."""

    seconds: float
    items: int
    ok: bool


def _write_parquet(df: pd.DataFrame, path: str, files: int, schema: pa.Schema | None = None) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    step = -(-len(df) // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet"),
                       coerce_timestamps="us", allow_truncated_timestamps=True)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _median_call_s(fn, reps: int) -> float:
    return statistics.median(timed(fn)[0] for _ in range(reps))


class Workload:
    name = ""
    rate = ""  # workload-specific name of items_per_s
    sizes: dict = {}
    # Per-layer metric -> (unit, the end-to-end metric it should move here).
    layer_map: dict[str, tuple[str, str]] = {}

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.root = ""
        self.checks: list[bool] = []  # oracle verdicts of traced-run extras

    def setup(self, rep: int) -> dict:
        """Generate every input and the oracle's answers; returns input digests."""
        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.work, f"inputs-{rep}")
        os.makedirs(self.root)
        return self._setup()

    def _setup(self) -> dict:
        raise NotImplementedError

    def step(self, i: int) -> Sample:
        raise NotImplementedError

    def prefixes(self, i: int) -> list[tuple[str, object]]:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        raise NotImplementedError


# =============================================================== pages_geojoin


class PagesGeojoin(Workload):
    """pages parquet -> geo.enrich_pages -> geo.with_tile(z12) -> pip_join ->
    per-(polygon, tile) hit counts."""

    name = "pages_geojoin"
    rate = "pages_per_s"
    sizes = {"shards": 4, "pages_per_shard": 10_000, "files_per_shard": 4,
             "polygons": "40 city rings x 64 vertices + 4 background rings x 256 vertices",
             "tile_zoom": 12, "cell_res": 12}
    layer_map = {
        "source.read.self_s": ("s", "job_s_p50"),
        "geo.enrich_pages.self_s": ("s", "items_per_s"),
        "geo.with_tile.self_s": ("s", "items_per_s"),
        "pip_join.self_s": ("s", "items_per_s"),
        "geojoin.aggregate.self_s": ("s", "job_s_p50"),
        "span.geo.enrich_pages.self_s": ("s", "job_s_p50"),
        "span.geo.with_tile.self_s": ("s", "job_s_p50"),
        "span.pip_join.pip_join.self_s": ("s", "job_s_p50"),
        "span.job.self_s": ("s", "job_s_p50"),
        "extract.extract_enriched.us_per_page": ("us", "items_per_s"),
        "cells.lonlat_to_cell.ns_per_point": ("ns", "items_per_s"),
        "pip_join.cover_rows": ("count", "items_per_s"),
        "pip_join.candidates": ("count", "items_per_s"),
        "pip_join.envelope_pass": ("count", "items_per_s"),
        "pip_join.hits": ("count", "items_per_s"),
        "pip_join.hits_per_candidate": ("ratio", "items_per_s"),
        "pip_join.hits_per_geo_page": ("ratio", "items_per_s"),
        "geometry.points_in_rings.ns_per_point": ("ns", "items_per_s"),
        "checkpoint.run_partition.s": ("s", "commit_s_p50"),
        "checkpoint.run_partition.s_max": ("s", "commit_s_tail"),
        "checkpoint.resume.s": ("s", "resume_s"),
        "checkpoint.read_output.s": ("s", "resume_s"),
        "checkpoint.rollback.s": ("s", "resume_s"),
        "checkpoint.bytes_written_per_input_byte": ("ratio", "commit_s_p50"),
        "checkpoint.recomputed_per_rolled_back": ("ratio", "resume_s"),
    }

    def _setup(self) -> dict:
        s = self.sizes
        m = s["pages_per_shard"]
        polys = gen.pip_polygons(self.seed)
        self.rings = list(polys["ring"])
        self.polys = self.spark.createDataFrame(polys[["fid", "name", "geom_wkb"]])
        self.shards, self.expect, self.geo, enriched = [], [], [], []
        digests = {"polygons": gen.digest(polys[["fid", "geom_wkb"]])}
        for k in range(s["shards"]):
            c = gen.point_coords(self.seed, m, stream=100 + k)
            pages = gen.pages_frame(self.seed, np.arange(k * m, (k + 1) * m), c, stream=200 + k)
            path = os.path.join(self.root, f"pages-{k}")
            _write_parquet(pages, path, s["files_per_shard"])
            self.shards.append(path)
            self.geo.append(c)
            self.expect.append(oracle.tile_hit_table(
                pages["url"].to_numpy(), c["lon"], c["lat"], self.rings, s["tile_zoom"]))
            cell = np.full(m, -1, dtype=np.int64)
            ok = ~np.isnan(c["lon"])
            cell[ok] = oracle.quad_cell(c["lon"][ok], c["lat"][ok], s["cell_res"])
            enriched.append(pd.DataFrame({"url": pages["url"], "text": pages["text"],
                                          "lon": c["lon"], "lat": c["lat"], "cell": cell}))
            digests[f"pages-{k}"] = gen.digest(pages)
        self.sample_html = pages["html"]
        self.enriched = enriched
        return digests

    def _layers(self, shard: int):
        from pyspark.sql import functions as F

        from lib_gdal_spark.operators import geo, pip_join

        t = self.tracer
        z = self.sizes["tile_zoom"]
        pages = self.spark.read.parquet(self.shards[shard])
        with t.span("geo.enrich_pages"):
            enr = geo.enrich_pages(pages, res=self.sizes["cell_res"])
        with t.span("geo.with_tile"):
            tiled = geo.with_tile(enr, z)
        keyed = tiled.withColumn("key", F.concat_ws("|", "tx", "ty", "url"))
        with t.span("pip_join.pip_join"):
            hits = pip_join.pip_join(keyed, self.polys, points_res=self.sizes["cell_res"],
                                     point_cols=("key", "lon", "lat"))
        part = F.split("key", r"\|")
        out = hits.select(
            "fid", part[0].cast("long").alias("tx"), part[1].cast("long").alias("ty"),
            F.crc32(F.element_at(part, 3)).alias("h"),
        ).groupBy("fid", "tx", "ty").agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"))
        return [("source.read", pages), ("geo.enrich_pages", enr), ("geo.with_tile", tiled),
                ("pip_join", hits), ("geojoin.aggregate", out)]

    def step(self, i: int) -> Sample:
        shard = i % len(self.shards)
        t0 = time.perf_counter()
        with self.tracer.span("job"):
            rows = self._layers(shard)[-1][1].collect()
        dt = time.perf_counter() - t0
        got = {(r["fid"], r["tx"], r["ty"]): (r["n"], r["h"]) for r in rows}
        return Sample(dt, self.sizes["pages_per_shard"], got == self.expect[shard])

    def prefixes(self, i: int):
        return self._layers(i % len(self.shards))

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        from lib_gdal_spark.functions import cells as C
        from lib_gdal_spark.functions import extract as X
        from lib_gdal_spark.functions import geometry as G
        from lib_gdal_spark.operators import pip_join

        out: dict[str, tuple[float, str]] = {}
        html = X.decode_html(self.sample_html)
        out["extract.extract_enriched.us_per_page"] = (
            _median_call_s(lambda: X.extract_enriched(html), 3) / len(html) * 1e6, "us")

        c = self.geo[-1]
        ok = ~np.isnan(c["lon"])
        lon, lat = c["lon"][ok], c["lat"][ok]
        out["cells.lonlat_to_cell.ns_per_point"] = (
            _median_call_s(lambda: C.lonlat_to_cell(lon, lat, self.sizes["cell_res"]), 20)
            / len(lon) * 1e9, "ns")

        # Work counts of the join plan, derived from the program's public cover
        # and the points' cells at the cover resolution.
        res = inspect.signature(pip_join.pip_join).parameters["res"].default
        cover = pip_join.polygon_cover(self.polys, res).toPandas()
        out["pip_join.cover_rows"] = (float(len(cover)), "count")
        cand = env = hits = 0
        ray_s = ray_pts = 0.0
        rings = [G.polygon_rings(bytes(w)) for w in
                 self.polys.orderBy("fid").select("geom_wkb").toPandas()["geom_wkb"]]
        for c in self.geo:
            ok = ~np.isnan(c["lon"])
            lon, lat = c["lon"][ok], c["lat"][ok]
            cells = pd.DataFrame({"cell": oracle.quad_cell(lon, lat, res), "i": np.arange(len(lon))})
            j = cells.merge(cover, on="cell")
            cand += len(j)
            px, py = lon[j["i"].to_numpy()], lat[j["i"].to_numpy()]
            inbox = ((px >= j["minx"]) & (px <= j["maxx"]) & (py >= j["miny"])
                     & (py <= j["maxy"])).to_numpy()
            env += int(inbox.sum())
            je = j[inbox]
            for fid, g in je.groupby("fid"):
                gx, gy = lon[g["i"].to_numpy()], lat[g["i"].to_numpy()]
                dt, inside = timed(G.points_in_rings, gx, gy, rings[int(fid)])
                ray_s += dt
                ray_pts += len(gx)
                hits += int(inside.sum())
        out["pip_join.candidates"] = (float(cand), "count")
        out["pip_join.envelope_pass"] = (float(env), "count")
        out["pip_join.hits"] = (float(hits), "count")
        out["pip_join.hits_per_candidate"] = (hits / cand, "ratio")
        out["geometry.points_in_rings.ns_per_point"] = (ray_s / ray_pts * 1e9, "ns")
        geo_pages = sum(int((~np.isnan(c["lon"])).sum()) for c in self.geo)
        out["pip_join.hits_per_geo_page"] = (hits / geo_pages, "ratio")
        out.update(self.checkpoint_cycle())
        return out

    def checkpoint_cycle(self) -> dict[str, tuple[float, str]]:
        """The enrichment stage on the write side: each shard committed through
        checkpoint.CheckpointedStage, the stage rolled back to half its
        snapshots and resumed, the output read back and checked."""
        from pyspark.sql import functions as F

        from lib_gdal_spark.operators import geo
        from lib_gdal_spark.streaming.checkpoint import CheckpointedStage

        root = os.path.join(self.work, "ckpt")
        stage = CheckpointedStage(self.spark, root, "enrich")
        keys = [f"shard{k:02d}" for k in range(len(self.shards))]

        def make(k: int):
            return lambda: geo.enrich_pages(self.spark.read.parquet(self.shards[k]),
                                            res=self.sizes["cell_res"])

        m = self.sizes["pages_per_shard"]
        commits = []
        for k, key in enumerate(keys):
            dt, meta = timed(stage.run_partition, key, make(k))
            commits.append(dt)
            self.checks.append(meta["rows"] == m)
        half = len(keys) // 2
        rollback_s, rolled = timed(stage.rollback, half)
        t0 = time.perf_counter()
        recomputed = 0
        for k, key in enumerate(keys):
            dt, meta = timed(stage.run_partition, key, make(k))
            if meta["snapshot_id"] > half:
                recomputed += 1
                commits.append(dt)
                self.checks.append(meta["rows"] == m)
        resume_s = time.perf_counter() - t0
        read_s, got = timed(lambda: stage.read_output().select(
            "url", "text",
            F.coalesce("lon", F.lit(float("nan"))).alias("lon"),
            F.coalesce("lat", F.lit(float("nan"))).alias("lat"),
            F.coalesce("cell", F.lit(-1).cast("long")).alias("cell"),
        ).toPandas())
        written = _dir_bytes(root)
        shutil.rmtree(root)
        ratio = recomputed / len(rolled)
        self.checks.append(ratio == 1.0)
        self.checks.append(enriched_digest(got) == enriched_digest(pd.concat(self.enriched)))
        return {
            "checkpoint.run_partition.s": (statistics.median(commits), "s"),
            "checkpoint.run_partition.s_max": (max(commits), "s"),
            "checkpoint.resume.s": (resume_s, "s"),
            "checkpoint.read_output.s": (read_s, "s"),
            "checkpoint.rollback.s": (rollback_s, "s"),
            "checkpoint.bytes_written_per_input_byte":
                (written / sum(_dir_bytes(p) for p in self.shards), "ratio"),
            "checkpoint.recomputed_per_rolled_back": (ratio, "ratio"),
        }


def enriched_digest(df: pd.DataFrame) -> str:
    """Order-independent digest of enriched rows (url, text, lon, lat, cell)."""
    df = df.sort_values("url", kind="stable")
    return gen.digest(df["url"].to_numpy().astype(str), df["text"].to_numpy().astype(str),
                      df["lon"].to_numpy(np.float64), df["lat"].to_numpy(np.float64),
                      df["cell"].to_numpy(np.int64))


# =============================================================== knn_hotcells


class KnnHotcells(Workload):
    """knn.knn_kring (k=10) for query batches drawn in the hottest city cells
    over the point table materialised in set-up."""

    name = "knn_hotcells"
    rate = "knn_queries_per_s"
    sizes = {"pages": 60_000, "target_files": 4, "batches": 4, "queries_per_batch": 64,
             "k": 10, "res": 14, "rings": 1, "hot_share": 0.8}
    layer_map = {
        "source.read.self_s": ("s", "job_s_p50"),
        "knn.self_s": ("s", "items_per_s"),
        "span.knn.knn_kring.self_s": ("s", "job_s_p50"),
        "span.job.self_s": ("s", "job_s_p50"),
        "knn.query_ring_rows": ("count", "items_per_s"),
        "knn.candidates": ("count", "items_per_s"),
        "knn.candidates_per_result": ("ratio", "items_per_s"),
        "knn.shuffle_write_bytes": ("B", "items_per_s"),
        "knn.task_s_max_over_median": ("ratio", "job_s_tail"),
    }

    def _setup(self) -> dict:
        s = self.sizes
        c = gen.point_coords(self.seed, s["pages"], stream=300)
        ok = ~np.isnan(c["lon"])
        tid = np.flatnonzero(ok).astype(np.int64)
        tlon, tlat, city = c["lon"][ok], c["lat"][ok], c["city"][ok]
        targets = pd.DataFrame({"tid": tid, "tlon": tlon, "tlat": tlat})
        self.targets = os.path.join(self.root, "targets")
        _write_parquet(targets, self.targets, s["target_files"])

        # Queries sit on jittered copies of points in the hottest cells: 80 %
        # in the Zipf-first city, the rest in the next four. Each is kept only
        # if the ring of cells around it provably holds its k nearest points,
        # the documented domain in which knn_kring is exact.
        g = gen.rng(self.seed, 301)
        need = s["batches"] * s["queries_per_batch"]
        pool = need + need // 4
        hot = g.random(pool) < s["hot_share"]
        picks = np.where(hot, g.choice(np.flatnonzero(city == 0), pool),
                         g.choice(np.flatnonzero((city >= 1) & (city <= 4)), pool))
        qlon = tlon[picks] + g.normal(0.0, 2e-4, pool)
        qlat = tlat[picks] + g.normal(0.0, 2e-4, pool)
        ot, od = oracle.knn_brute(qlon, qlat, tid, tlon, tlat, s["k"])
        guard = oracle.ring_guard_km(qlon, qlat, s["res"], s["rings"])
        keep = np.flatnonzero(od[:, -1] < 0.98 * guard)[:need]
        if len(keep) < need:
            raise RuntimeError("too few queries inside the exact k-ring domain")
        self.batches, self.expect = [], []
        digests = {"targets": gen.digest(tid, tlon, tlat)}
        for b in range(s["batches"]):
            sel = keep[b * s["queries_per_batch"]:(b + 1) * s["queries_per_batch"]]
            q = pd.DataFrame({"qid": sel.astype(np.int64), "qlon": qlon[sel], "qlat": qlat[sel]})
            path = os.path.join(self.root, f"queries-{b}")
            _write_parquet(q, path, 1)
            self.batches.append(path)
            self.expect.append({int(qi): (ot[qi], od[qi]) for qi in sel})
            digests[f"queries-{b}"] = gen.digest(q)
        self.tlon, self.tlat = tlon, tlat
        return digests

    def _layers(self, b: int):
        from lib_gdal_spark.operators import knn

        s = self.sizes
        targets = self.spark.read.parquet(self.targets)
        queries = self.spark.read.parquet(self.batches[b])
        with self.tracer.span("knn.knn_kring"):
            out = knn.knn_kring(queries, targets, s["k"], res=s["res"], rings=s["rings"])
        return [("source.read", targets), ("knn", out)]

    def step(self, i: int) -> Sample:
        b = i % len(self.batches)
        t0 = time.perf_counter()
        with self.tracer.span("job"):
            rows = self._layers(b)[-1][1].collect()
        dt = time.perf_counter() - t0
        return Sample(dt, self.sizes["queries_per_batch"], oracle.knn_rows_match(rows, self.expect[b]))

    def prefixes(self, i: int):
        return self._layers(i % len(self.batches))

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        from lib_gdal_spark.functions import cells as C

        s = self.sizes
        tcell = pd.Series(C.lonlat_to_cell(self.tlon, self.tlat, s["res"])).value_counts()
        ring_rows = cand = nq = 0
        for b in self.batches:
            q = pd.read_parquet(b)
            ring = C.k_ring(C.lonlat_to_cell(q["qlon"].to_numpy(), q["qlat"].to_numpy(), s["res"]),
                            s["rings"]).ravel()
            ring = ring[ring >= 0]
            ring_rows += len(ring)
            cand += int(tcell.reindex(ring).fillna(0).sum())
            nq += len(q)
        return {
            "knn.query_ring_rows": (float(ring_rows), "count"),
            "knn.candidates": (float(cand), "count"),
            "knn.candidates_per_result": (cand / (nq * s["k"]), "ratio"),
        }


# =============================================================== raster_tiles


RASTER_ARROW = pa.schema([
    ("raster_id", pa.string()), ("band", pa.int32()), ("zoom", pa.int32()),
    ("tile_x", pa.int32()), ("tile_y", pa.int32()), ("dtype", pa.string()),
    ("tile_w", pa.int32()), ("tile_h", pa.int32()),
    ("gt0", pa.float64()), ("gt1", pa.float64()), ("gt2", pa.float64()),
    ("gt3", pa.float64()), ("gt4", pa.float64()), ("gt5", pa.float64()),
    ("nodata", pa.float64()), ("pixels", pa.list_(pa.float64())),
])


class RasterTiles(Workload):
    """EPSG:4326 raster -> raster.warp_to_mercator_tiles_dist (bilinear) ->
    raster.build_pyramid (average) -> tilestore.write_mbtiles."""

    name = "raster_tiles"
    rate = "tiles_per_s"
    sizes = {"width": 512, "height": 256, "src_tile": 128, "zoom": 2, "tile": 64, "levels": 1}
    layer_map = {
        "source.read.self_s": ("s", "job_s_p50"),
        "raster.warp.self_s": ("s", "items_per_s"),
        "raster.pyramid.self_s": ("s", "items_per_s"),
        "tilestore.write_mbtiles.self_s": ("s", "items_per_s"),
        "span.raster.warp_to_mercator_tiles_dist.self_s": ("s", "job_s_p50"),
        "span.raster.build_pyramid.self_s": ("s", "job_s_p50"),
        "span.tilestore.write_mbtiles.self_s": ("s", "job_s_p50"),
        "span.job.self_s": ("s", "job_s_p50"),
        "raster.warp.src_tiles_per_dst_tile": ("ratio", "items_per_s"),
        "resample.warp_tile.ms_per_tile": ("ms", "items_per_s"),
        "resample.overview_average.ms_per_tile": ("ms", "items_per_s"),
        "tilestore.encode_png_gray.ms_per_tile": ("ms", "items_per_s"),
        "tilestore.bytes_per_tile": ("B", "items_per_s"),
    }

    def _setup(self) -> dict:
        from lib_gdal_spark.operators import raster as RA

        s = self.sizes
        arr = gen.world_raster(self.seed, s["width"], s["height"])
        self.src = os.path.join(self.root, "src")
        _write_parquet(gen.raster_tile_rows("world", arr, s["src_tile"]), self.src, 1,
                       schema=RASTER_ARROW)
        # Base zoom from the single-task mosaic warp, the differential reference
        # for the distributed windowed warp; coarser zooms from oracle.py.
        base = RA.warp_to_mercator_tiles(self.spark.read.parquet(self.src), s["zoom"],
                                         alg="bilinear", tile=s["tile"]).toPandas()
        tiles = {(int(r.tile_x), int(r.tile_y)):
                 np.clip(np.asarray(r.pixels).reshape(s["tile"], s["tile"]), 0, 255).astype(np.uint8)
                 for r in base.itertuples()}
        self.expect = oracle.expected_pyramid(tiles, s["zoom"], s["levels"], s["tile"])
        self.arr = arr
        return {"raster": gen.digest(arr)}

    def _layers(self, i: int):
        from pyspark.sql import functions as F

        from lib_gdal_spark.operators import raster as RA

        s = self.sizes
        src = self.spark.read.parquet(self.src)
        with self.tracer.span("raster.warp_to_mercator_tiles_dist"):
            warped = RA.warp_to_mercator_tiles_dist(src, s["zoom"], alg="bilinear", tile=s["tile"])
        with self.tracer.span("raster.build_pyramid"):
            pyr = RA.build_pyramid(warped, s["levels"], alg="average", tile=s["tile"])
        # build_pyramid numbers levels like overviews (coarser = zoom + 1);
        # MBTiles wants XYZ zooms (coarser = zoom - 1).
        xyz = pyr.withColumn("zoom", F.lit(2 * s["zoom"]) - F.col("zoom"))
        return [("source.read", src), ("raster.warp", warped), ("raster.pyramid", xyz)]

    def _write(self, i: int, df) -> tuple[float, str]:
        from lib_gdal_spark.sinks import tilestore as TS

        path = os.path.join(self.work, f"tiles-{i}.mbtiles")
        with self.tracer.span("tilestore.write_mbtiles"):
            dt, _ = timed(TS.write_mbtiles, df, path, "world")
        return dt, path

    def step(self, i: int) -> Sample:
        t0 = time.perf_counter()
        with self.tracer.span("job"):
            xyz = self._layers(i)[-1][1]
            _, path = self._write(i, xyz)
        dt = time.perf_counter() - t0
        got = oracle.read_mbtiles(path)
        ok = not oracle.compare_tiles(got, self.expect)
        self.bytes_per_tile = os.path.getsize(path) / max(len(got), 1)
        os.remove(path)
        return Sample(dt, len(got), ok)

    def prefixes(self, i: int):
        return self._layers(i)

    def write_seconds(self, i: int) -> float:
        dt, path = self._write(i, self._layers(i)[-1][1])
        os.remove(path)
        return dt

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        from lib_gdal_spark.kernels import resample as R
        from lib_gdal_spark.operators import raster as RA
        from lib_gdal_spark.sinks import tilestore as TS

        s = self.sizes
        t = s["tile"]
        src = self.spark.read.parquet(self.src)
        tasks = RA.mercator_warp_tasks(src, s["zoom"], alg="bilinear", tile=t).count()
        h, w = self.arr.shape
        gt = (-180.0, 360.0 / w, 0.0, 90.0, 0.0, -180.0 / h)
        span = 2.0 * 20037508.342789244 / (1 << s["zoom"])
        dst_gt = (-20037508.342789244 + span, span / t, 0.0, 20037508.342789244 - span, 0.0, -span / t)
        mosaic = self.arr.astype(np.float64)
        warp_s = _median_call_s(lambda: R.warp_tile(mosaic, gt, (t, t), dst_gt, alg="bilinear",
                                                    dtype="uint8", transform=RA.merc_inverse), 5)
        child = self.arr[: 2 * t, : 2 * t]
        ov_s = _median_call_s(lambda: R.overview_average(child, (t, t)), 20)
        tile = self.expect[(s["zoom"], 1, 1)]
        png_s = _median_call_s(lambda: TS.encode_png_gray(tile), 20)
        return {
            "raster.warp.src_tiles_per_dst_tile": (tasks / (1 << s["zoom"]) ** 2, "ratio"),
            "resample.warp_tile.ms_per_tile": (warp_s * 1e3, "ms"),
            "resample.overview_average.ms_per_tile": (ov_s * 1e3, "ms"),
            "tilestore.encode_png_gray.ms_per_tile": (png_s * 1e3, "ms"),
            "tilestore.bytes_per_tile": (self.bytes_per_tile, "B"),
        }


WORKLOADS = {w.name: w for w in (PagesGeojoin, KnnHotcells, RasterTiles)}
