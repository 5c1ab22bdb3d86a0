"""The benchmark workloads.

A workload generates its inputs and oracle answers in ``prepare``
(outside every timed region), then exposes ``ops``: the calls one pass
makes, each returning a result that ``check`` compares with the
oracle. ``layers`` runs the traced breakdown: prefix cuts of the
pipeline written to the noop sink, layer call timings, Spark status
totals per job group, and the per-layer counts.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import gen
import oracle
import spans

STATUS_KEYS = ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes",
               "fetch_wait_s", "spill_bytes")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def checksum_cols(a: str, b: str) -> list:
    """Engine-side twin of oracle.pair_checksum."""
    return [F.count(F.lit(1)), F.sum(a), F.sum(b),
            F.sum(F.pmod(F.col(a) * F.lit(1000003) + F.col(b),
                         F.lit(oracle.MIX)))]


def stats_rows(rows, zone: str) -> dict:
    return {int(r[zone]): tuple(float(r[s]) for s in oracle.STATS)
            for r in rows}


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, scale: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        self.rows = 0
        self.digest = ""

    def after_pass(self) -> None:
        """Between passes, outside the timed region: drop every cached
        DataFrame and persisted RDD, so no pass reuses a result an
        earlier pass left in the cache."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def read(self, name: str):
        return self.spark.read.parquet(self.path(name + ".parquet"))

    def cut(self, name: str, thunk) -> tuple:
        """Run ``thunk`` under job group cut.<name>; returns (seconds,
        status totals of the group)."""
        with self.tr.span("cut." + name):
            _, t = timed(thunk)
        return t, spans.group_totals(self.spark, "cut." + name)

    def cut_chain(self, cuts: list, out: dict) -> None:
        """Cut each (layer, thunk) prefix; a layer's self time and
        status totals are its cut minus the previous cut."""
        prev_t, prev_g = 0.0, None
        for layer, thunk in cuts:
            t, g = self.cut(layer, thunk)
            out[f"{layer}.self_s"] = t - prev_t
            for k in STATUS_KEYS:
                out[f"{layer}.{k}"] = g[k] - (prev_g[k] if prev_g else 0.0)
            prev_t, prev_g = t, g


def status_of(spark, group: str, layer: str, out: dict, minus=None) -> None:
    g = spans.group_totals(spark, group)
    for k in STATUS_KEYS:
        out[f"{layer}.{k}"] = g[k] - (minus[k] if minus else 0.0)


def geoparse_ratios(df, n: int) -> dict:
    """Shares of input rows resolved by a geo: token, by the gazetteer
    fallback alone, or not at all."""
    r = df.agg(
        F.count(F.lit(1)).alias("ok"),
        F.sum(F.col("text").contains(" geo:").cast("int")).alias("tok"),
    ).collect()[0]
    return {"geoparse.token_ratio": r["tok"] / n,
            "geoparse.gazetteer_ratio": (r["ok"] - r["tok"]) / n,
            "geoparse.null_ratio": (n - r["ok"]) / n}


def sjoin_counts(idx, pg: dict, want: dict) -> dict:
    """Work the index hands the refine: rows the cell-key probe emits
    and rows passing the bbox prefilter, from the index's own cover."""
    import pandas as pd

    ok = ~np.isnan(pg["lon"])
    lon, lat = pg["lon"][ok], pg["lat"][ok]
    cover = pd.DataFrame(idx.cover_rows(),
                         columns=["poly_id", "cell", "xmin", "ymin", "xmax",
                                  "ymax"])
    probe = cand = 0
    for res in idx.res_set:
        n = float(1 << res)
        cx = np.floor((lon + 180.0) * n / 360.0).astype(np.int64)
        cy = np.floor((lat + 90.0) * n / 180.0).astype(np.int64)
        pts = pd.DataFrame({"cell": res * (1 << 56) + cx * (1 << 28) + cy,
                            "lon": lon, "lat": lat})
        m = pts.merge(cover, on="cell")
        probe += len(m)
        x = m["lon"].to_numpy()
        in_y = (m["lat"] >= m["ymin"]) & (m["lat"] <= m["ymax"])
        in_x = (x >= m["xmin"]) & (x <= m["xmax"])
        wrap = ((m["xmax"] > 180.0) & (x + 360.0 >= m["xmin"])
                & (x + 360.0 <= m["xmax"]))
        cand += int(((in_x | wrap) & in_y).sum())
    matches = sum(v[5] for v in want.values())
    return {"sjoin.probe_rows_per_input": probe / len(lon),
            "sjoin.candidates_per_match": cand / max(matches, 1)}


# -------------------------------------------------------- reference_layers
class ReferenceLayers(Workload):
    """A point table against three reference layers: a parcel layer
    too large to collect, a clustered site table, a raster grid."""

    name = "reference_layers"

    def prepare(self) -> None:
        s, seed = self.scale, self.seed
        n_pts = max(2000, int(12_000 * s))
        n_par = max(2000, int(20_000 * s))
        n_sites = max(200, int(1_000 * s))
        side = max(64, int(160 * s ** 0.5))
        pts = gen.points(seed, n_pts)
        par, rings = gen.parcels(seed, n_par)
        sts = gen.sites(seed, n_sites)
        grid, values = gen.grid(seed, side, side)
        self.zones = gen.zones(seed, side, side, 24)
        for name, t in (("points", pts), ("parcels", par), ("sites", sts),
                        ("grid", grid)):
            gen.write_parquet(t, self.path(name + ".parquet"))
        self.rows = n_pts + n_par + n_sites + side * side
        self.n_pts, self.n_pixels = n_pts, side * side
        self.digest = gen.digest(pts, par, sts, grid)

        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        pid = pts["pt_id"].to_numpy()
        a, b = oracle.parcel_pairs(pid, lon, lat, rings)
        self.want_sjoin = oracle.pair_checksum(a, b)
        nn, d2 = oracle.nearest_site(lon, lat, sts["site_lon"].to_numpy(),
                                     sts["site_lat"].to_numpy(),
                                     sts["site_id"].to_numpy())
        self.want_knn = oracle.pair_checksum(pid, nn) + (float(d2.sum()),)
        self.want_raster = oracle.raster_zonal(
            values, self.zones, gen.GRID_ORIGIN, gen.GRID_RES, gen.GRID_NODATA)

    def ops(self) -> list:
        return [("parcel_sjoin", self.parcel_sjoin),
                ("nearest_site", self.nearest_site),
                ("raster_zonal", self.raster_zonal)]

    def sjoin_pairs(self):
        from rsgislib_spark.operators import spatial_join as sj

        return sj.spatial_join_df(self.read("points"), self.read("parcels"),
                                  pt_id_col="pt_id", with_payload=False)

    def parcel_sjoin(self):
        with self.tr.span("sjoin_df.plan", group="sjoin_df"):
            pairs = self.sjoin_pairs()
        with self.tr.span("sjoin_df", group="sjoin_df"):
            return tuple(pairs.agg(*checksum_cols("pt_id", "poly_id"))
                         .collect()[0])

    def knn_result(self):
        from rsgislib_spark.operators import knn

        return knn.knn_kring(self.read("points"), self.read("sites"),
                             pt_id_col="pt_id", with_payload=False)

    def nearest_site(self):
        with self.tr.span("knn.plan", group="knn"):
            res = self.knn_result()
        with self.tr.span("knn", group="knn"):
            r = res.agg(*checksum_cols("pt_id", "nn_site_id"),
                        F.sum("nn_dist_sq")).collect()[0]
        return tuple(r)

    def burned(self):
        from rsgislib_spark.operators import raster

        ox, oy = gen.GRID_ORIGIN
        return raster.rasterize_polygons(self.read("grid"), self.zones, ox,
                                         oy, gen.GRID_RES)

    def raster_zonal(self):
        from rsgislib_spark.operators import zonal

        with self.tr.span("raster", group="raster"):
            burned = self.burned()
        with self.tr.span("zonal", group="zonal"):
            pix = self.read("grid").where("band = 1").select("x", "y", "value")
            joined = burned.join(pix, ["x", "y"]).select(
                F.col("burn").alias("poly_id"), "value")
            ids = self.spark.createDataFrame(
                [(z["poly_id"],) for z in self.zones], "poly_id BIGINT")
            return zonal.zonal_stats(joined, zone_col="poly_id",
                                     value_col="value", zones=ids,
                                     no_data_val=gen.GRID_NODATA).collect()

    def check(self, op: str, res) -> bool:
        if op == "parcel_sjoin":
            return tuple(int(v) for v in res) == self.want_sjoin
        if op == "nearest_site":
            return (tuple(int(v) for v in res[:4]) == self.want_knn[:4]
                    and np.isclose(res[4], self.want_knn[4], rtol=1e-9))
        return oracle.stats_match(stats_rows(res, "poly_id"),
                                  self.want_raster)

    def layers(self) -> dict:
        """Breakdown of the traced pass: its spans give call and action
        times, its job groups the status totals; the scans of each op's
        inputs and the burn alone are cut and subtracted."""
        out: dict = {}
        sec = self.tr.seconds
        scans = {
            "sjoin_df": lambda: (noop(self.read("points").select("pt_id", "lon", "lat")),
                                 noop(self.read("parcels"))),
            "knn": lambda: (noop(self.read("points").select("pt_id", "lon", "lat")),
                            noop(self.read("sites"))),
            "raster": lambda: noop(self.read("grid").select("x", "y")),
        }
        scan_t, scan_g = {}, {}
        for layer, thunk in scans.items():
            scan_t[layer], scan_g[layer] = self.cut("scan." + layer, thunk)
        # the scan layer: every op's input scans, cut alone
        out["scan.self_s"] = sum(scan_t.values())
        for k in STATUS_KEYS + ("input_bytes",):
            out[f"scan.{k}"] = sum(g[k] for g in scan_g.values())

        for layer in ("sjoin_df", "knn"):
            out[f"{layer}.plan_s"] = sec(f"{layer}.plan")
            out[f"{layer}.self_s"] = (sec(f"{layer}.plan") + sec(layer)
                                      - scan_t[layer])
            status_of(self.spark, layer, layer, out, scan_g[layer])
        out.update(self.sjoin_df_counts())
        # inside the call, each ring round is one execution that
        # explodes the site rings (Generate) and joins them
        rounds = [e for e in sql_executions(self.spark, "knn")
                  if e[0] == "knn.plan" and "Generate" in e[1]]
        out["knn.rounds"] = len(rounds)
        out["knn.candidates_per_point"] = (
            sum(e[2] for e in rounds) / self.n_pts)

        with self.tr.span("cut.raster"):
            n_burned, burn_t = timed(self.burned().count)
        out["raster.burn_self_s"] = burn_t - scan_t["raster"]
        status_of(self.spark, "cut.raster", "raster", out, scan_g["raster"])
        out["raster.python_rows"] = self.n_pixels
        out["raster.burned_ratio"] = n_burned / self.n_pixels
        out["zonal.self_s"] = sec("zonal") - burn_t
        status_of(self.spark, "zonal", "zonal", out,
                  spans.group_totals(self.spark, "cut.raster"))
        out["zonal.groups"] = len(self.want_raster)
        return out

    def sjoin_df_counts(self) -> dict:
        """Cover rows from the layer's own distributed cover, and the
        candidates that cover sends to the Python refine."""
        import pandas as pd
        from rsgislib_spark.operators import spatial_join as sj

        cover = sj.poly_cover_df(self.read("parcels")).toPandas()
        pts = self.read("points").select("lon", "lat").toPandas()
        cand = 0
        for res in sorted(cover["res"].unique()):
            n = float(1 << int(res))
            cx = np.floor((pts["lon"] + 180.0) * n / 360.0).astype(np.int64)
            cy = np.floor((pts["lat"] + 90.0) * n / 180.0).astype(np.int64)
            p = pd.DataFrame({"cell": int(res) * (1 << 56) + cx * (1 << 28) + cy,
                              "lon": pts["lon"], "lat": pts["lat"]})
            m = p.merge(cover[cover["res"] == res], on="cell")
            cand += int(((m["lon"] >= m["xmin"]) & (m["lon"] <= m["xmax"])
                         & (m["lat"] >= m["ymin"]) & (m["lat"] <= m["ymax"])).sum())
        return {"sjoin_df.cover_rows": len(cover),
                "sjoin_df.python_rows": cand,
                "sjoin_df.candidates_per_match": cand / max(self.want_sjoin[0], 1)}


def sql_executions(spark, group: str) -> list:
    """(description, plan node names, join output rows) of every SQL
    execution whose jobs ran under job group ``group``."""
    spans.drain(spark)
    sql = spark._jsparkSession.sharedState().statusStore()
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    mine = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if g.isDefined() and g.get() == group:
            mine.add(j.jobId())
    out = []
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        ids = set()
        it = e.jobs().keys().iterator()
        while it.hasNext():
            ids.add(it.next())
        if not ids & mine:
            continue
        values = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        names, rows = set(), 0
        for k in range(nodes.size()):
            node = nodes.apply(k)
            names.add(node.name())
            if "Join" not in node.name():
                continue
            ms = node.metrics()
            for m in range(ms.size()):
                metric = ms.apply(m)
                if metric.name() != "number of output rows":
                    continue
                v = values.get(metric.accumulatorId())
                if v.isDefined():
                    rows += int(str(v.get()).replace(",", "") or 0)
        out.append((e.description(), names, rows))
    return out


# ---------------------------------------------------------- tile_writeback
class TileWriteback(Workload):
    """Pages with the full html/text payload, read and written back.

    ``geotile_join`` is the north-star read path: scan -> geoparse ->
    assign_tiles -> spatial_join on the fixture polygons (broadcast
    cover, codegen refine) -> zonal stats of a page measure per
    polygon, collected. ``tile_write`` runs the same front layers into
    a resumable cell_r5-partitioned write, ``tile_resume`` repeats it
    on a plan rebuilt from scratch, ``tile_readback`` reads the tiles
    back."""

    name = "tile_writeback"

    def prepare(self) -> None:
        from rsgislib_spark.data import fixtures

        n = max(2000, int(20_000 * self.scale))
        pg = gen.pages(self.seed, n, payload_words=40)
        gen.write_parquet(pg["table"], self.path("pages.parquet"))
        self.rows = n
        self.digest = gen.digest(pg["table"])
        self.polygons = fixtures.POLYGONS
        self.want_zonal = oracle.geotile(pg, self.polygons)
        self.want_tiles = oracle.tile_counts(pg, 5)
        self.pg = pg
        self.k = 0
        self.stats: dict = {}

    def ops(self) -> list:
        return [("geotile_join", self.geotile_join),
                ("tile_write", self.tile_write),
                ("tile_resume", self.tile_resume),
                ("tile_readback", self.tile_readback)]

    def stages(self) -> list:
        """The front layers as (layer, builder) steps; each builder
        takes the previous step's DataFrame."""
        from rsgislib_spark.functions.geoparse import geoparse
        from rsgislib_spark.operators import tiling

        return [("scan", lambda _: self.read("pages")),
                ("geoparse", lambda d: geoparse(d).where("lon IS NOT NULL")),
                ("cells", lambda d: tiling.assign_tiles(d))]

    def assigned(self):
        """The tile frame, built from scratch on every call, as a
        restarted job would build it."""
        df = None
        for layer, build in self.stages():
            with self.tr.span(layer):
                df = build(df)
        return df

    def joined(self, df):
        from rsgislib_spark.operators import spatial_join as sj

        with self.tr.span("sjoin"):
            with self.tr.span("sjoin.index"):
                idx = sj.PolygonIndex.from_fixture(self.polygons, res=None)
            return sj.spatial_join(df, idx).withColumn(
                "meas", F.length("text").cast("double"))

    def geotile_join(self):
        from rsgislib_spark.operators import zonal

        joined = self.joined(self.assigned())
        with self.tr.span("zonal"):
            return zonal.zonal_stats(joined, zone_col="poly_id",
                                     value_col="meas").collect()

    def out_dir(self) -> str:
        return self.path(f"tiles_{self.k}")

    def tile_write(self):
        from rsgislib_spark.plans import checkpoint

        self.k += 1
        df = self.assigned()
        with self.tr.span("checkpoint.write"):
            self.stats["write"] = checkpoint.checkpointed_write(
                df, self.out_dir(), "cell_r5")
        return self.stats["write"]

    def tile_resume(self):
        from rsgislib_spark.plans import checkpoint

        df = self.assigned()
        with self.tr.span("checkpoint.resume"):
            self.stats["resume"] = checkpoint.checkpointed_write(
                df, self.out_dir(), "cell_r5")
        return self.stats["resume"]

    def tile_readback(self):
        from rsgislib_spark.sources import catalog

        with self.tr.span("catalog"):
            rows = (catalog.read_partitioned(self.spark, self.out_dir())
                    .groupBy("cell_r5").count().collect())
        return {int(r[0]): int(r[1]) for r in rows}

    def manifest_counts(self) -> dict:
        from rsgislib_spark.plans import checkpoint

        return {int(t): int(e["rows"])
                for t, e in checkpoint.read_manifest(self.out_dir()).items()}

    def check(self, op: str, res) -> bool:
        if op == "geotile_join":
            return oracle.stats_match(stats_rows(res, "poly_id"),
                                      self.want_zonal)
        if op in ("tile_write", "tile_resume"):
            done = res["written"] + res["skipped"]
            return (done == len(self.want_tiles)
                    and self.manifest_counts() == self.want_tiles)
        return res == self.want_tiles == self.manifest_counts()

    def after_pass(self) -> None:
        """Also drop the previous pass's tiles."""
        super().after_pass()
        old = self.path(f"tiles_{self.k - 1}")
        if os.path.isdir(old):
            shutil.rmtree(old)

    def bytes_on_disk(self) -> tuple:
        files = size = 0
        for root, _, names in os.walk(self.out_dir()):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return files, size

    def layers(self) -> dict:
        from rsgislib_spark.operators import spatial_join as sj
        from rsgislib_spark.plans import checkpoint

        out: dict = {}
        # the read path, cut after each layer; each cut projects what
        # the full plan reads from that layer. Catalyst prunes the rest,
        # including the tile columns the zonal stats never use, so the
        # sjoin cut carries no cell work but the join's own probe cells
        keep = {"scan": ["url", "text"], "geoparse": ["text", "lon", "lat"],
                "sjoin": ["poly_id", "meas"]}
        built, prefix, cuts = {}, None, []
        for layer, build in self.stages() + [("sjoin", self.joined)]:
            prefix = built[layer] = build(prefix)
            if layer in keep:
                cuts.append((layer, lambda d=prefix, c=keep[layer]:
                             noop(d.select(*c))))
        cuts.append(("zonal", self.geotile_join))
        self.cut_chain(cuts, out)
        out["scan.input_bytes"] = spans.group_totals(
            self.spark, "cut.scan")["input_bytes"]
        out.update(geoparse_ratios(built["geoparse"], self.rows))
        idx, out["sjoin.index_s"] = timed(
            lambda: sj.PolygonIndex.from_fixture(self.polygons, res=None))
        out.update(sjoin_counts(idx, self.pg, self.want_zonal))
        out["zonal.groups"] = len(self.want_zonal)

        # the tile columns: the full tile frame (what the write
        # computes) less the full geoparsed frame it is built on
        geo_t, geo_g = self.cut("geoparse_rows", lambda: noop(built["geoparse"]))
        tiles_t, tiles_g = self.cut("tiles", lambda: noop(self.assigned()))
        out["cells.self_s"] = tiles_t - geo_t
        for k in STATUS_KEYS:
            out[f"cells.{k}"] = tiles_g[k] - geo_g[k]

        # the write path, from the traced pass: its write and resume
        # calls less the tile frame they both compute, and its read-back
        fresh = self.assigned()
        _, out["checkpoint.fingerprint_s"] = timed(
            lambda: checkpoint.lineage_fingerprint(fresh))
        out["checkpoint.write_s"] = self.tr.seconds("checkpoint.write") - tiles_t
        w = spans.group_totals(self.spark, "checkpoint.write")
        r = spans.group_totals(self.spark, "checkpoint.resume")
        for k in STATUS_KEYS:
            out[f"checkpoint.{k}"] = w[k] + r[k] - 2 * tiles_g[k]
        ws, rs = self.stats["write"], self.stats["resume"]
        out["checkpoint.tiles_written"] = ws["written"]
        out["checkpoint.resume_skip_ratio"] = (
            rs["skipped"] / max(rs["skipped"] + rs["written"], 1))
        out["checkpoint.resume_rows_recomputed"] = rs["rows"]
        tiles = np.array(list(self.manifest_counts().values()))
        out["tiling.max_tile_rows_ratio"] = tiles.max() / np.median(tiles)
        out["catalog.read_s"] = self.tr.seconds("catalog")
        status_of(self.spark, "catalog", "catalog", out)
        out["catalog.files_written"], out["catalog.bytes_written"] = (
            self.bytes_on_disk())
        return out


WORKLOADS = {w.name: w for w in (ReferenceLayers, TileWriteback)}
