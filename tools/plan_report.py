"""Generate PLANS.md: the physical-plan evidence for the key
operators (column pruning, pushed filters, join strategies, codegen
spans) — the `.explain("formatted")` review the task brief asks for,
persisted so a reviewer can read it without running Spark."""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHECKS = {
    "headline pipeline (read → geoparse → cells → spatial join → count)": dict(
        expect=["ReadSchema: struct<url:string,text:string>",
                "BroadcastHashJoin"],
        # round 3: the refine is a codegen CASE for dimension-sized
        # layers — ZERO Python processes anywhere in the hot path
        forbid=["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "spatial join (derived points, codegen refine)": dict(
        expect=["BroadcastHashJoin"],
        forbid=["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "spatial join (edge refine forced — the large-ring-set path)": dict(
        # candidates meet their polygon's edges in a broadcast band
        # join and a crossing count decides — no Python per candidate
        expect=["BroadcastHashJoin", "partial_count"],
        forbid=["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "zonal stats": dict(
        # one histogram, one aggregate over it: the input is read once
        # and no join puts separate aggregates back together
        expect=["HashAggregate", "partial_"],
        forbid=["SortMergeJoin", "ShuffledHashJoin"],
    ),
    "minhash signatures": dict(
        expect=["HashAggregate", "partial_min"],
        forbid=["BatchEvalPython", "ArrowEvalPython"],
    ),
    "dense ids (add_unq_numeric_col, two-pass histogram rank)": dict(
        expect=["BroadcastHashJoin"],
        # the r1 implementation was dense_rank over a GLOBAL window =
        # the whole table through one partition; must never come back
        forbid=["Exchange SinglePartition"],
    ),
    "spatial join how=left on the pages schema (id-keyed join-back)": dict(
        expect=["BroadcastHashJoin"],
        # the join-back key is the temp id — payload columns must
        # never become shuffle keys
        forbid=["hashpartitioning(url", "hashpartitioning(html",
                "hashpartitioning(text", "Exchange SinglePartition"],
    ),
    "overlay candidate pairs (cell join + bbox prefilter)": dict(
        expect=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "clump border equivalence edges (equi-join on shifted coords)": dict(
        expect=["FlatMapGroupsInPandas"],
        # the r2-fixed anti-pattern: an OR'd adjacency condition made
        # this a nested-loop join over the whole raster
        forbid=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "knn_kring bounded join on the pages schema (slim cell-keyed join)": dict(
        # one join of the points to their cells' bounded site windows,
        # keyed on the cell; url/html/text must never become shuffle
        # keys (r2's knn_kring grouped by every point column)
        expect=["Exchange hashpartitioning(_cx", "Generate explode(sequence("],
        forbid=["hashpartitioning(url", "hashpartitioning(html",
                "hashpartitioning(text", "Exchange SinglePartition"],
    ),
    "spatial_join_df on a large polygon layer (banded edge refine)": dict(
        # the polygon pass ran once, into its checkpoint (Scan
        # ExistingRDD), never a LocalTableScan of driver-collected
        # rows; candidates meet their band's edges in a join and a
        # crossing count decides — no Python node in the plan
        expect=["Scan ExistingRDD", "partial_count"],
        forbid=["LocalTableScan", "CartesianProduct",
                "BroadcastNestedLoopJoin", "FlatMapCoGroupsInPandas",
                "ArrowEvalPython", "BatchEvalPython", "MapInArrow"],
    ),
    "lsh near-dup pairs (banded buckets → candidate equi-join → exact rescore)": dict(
        # signature dots above _CODEGEN_MAX_TERMS run in ONE Arrow
        # batch fold (the r4 fix: a 2048-term unrolled expression hit
        # Janino's compile cliff and fell back to interpreted eval);
        # candidates come from an equi-join on band buckets, never an
        # all-pairs product
        expect=["ArrowEvalPython"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython"],
    ),
    "minhash lsh pairs (band-bucket equi-join → candidate verify)": dict(
        # candidates come from the shared band-bucket self-join, an
        # equi-join on (band, key): never an all-pairs product, and
        # no Python anywhere
        expect=["Join [bk#"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "ArrowEvalPython"],
    ),
    "simhash near pairs (band-bucket equi-join → xor verify)": dict(
        expect=["Join [bk#"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "ArrowEvalPython"],
    ),
    "ivf top-k (quantize → probe-cell equi-join)": dict(
        # corpus joins queries on ivf_cell (the inverted-file layout);
        # quantization against 64 centroids is the Arrow fold tier
        expect=["ArrowEvalPython"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython"],
    ),
    "decontamination (corpus vs broadcast eval shingle set)": dict(
        # the eval side is small by construction; the corpus must
        # stream map-side through a broadcast hash join — a shuffle
        # of corpus shingles is the 100 TB anti-pattern
        expect=["BroadcastHashJoin", "partial_count"],
        forbid=["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "repetition quality stats (per-row projections)": dict(
        # scan-speed per-doc signals: no shuffle, no Python anywhere
        expect=["Project"],
        forbid=["Exchange", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "span dedup (codegen span explode → hashed keys → two aggs)": dict(
        # spans are hashed to 8-byte keys BEFORE any shuffle and the
        # frequency agg partial-combines; no Python anywhere
        expect=["HashAggregate", "partial_count"],
        forbid=["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython",
                "Exchange SinglePartition", "CartesianProduct"],
    ),
    "url host rollup (codegen parse → |hosts|-cardinality agg)": dict(
        # host/TLD/path parsing is pure string codegen; the only
        # shuffle is the per-host aggregation with map-side combine
        expect=["HashAggregate", "partial_count"],
        forbid=["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython",
                "Exchange SinglePartition"],
    ),
    "pii scrub (per-row regexp redaction)": dict(
        # scan-speed per-doc redaction: no shuffle, no Python anywhere
        expect=["Project"],
        forbid=["Exchange", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "parquet filter pushdown (pt_id = 42)": dict(
        expect=["PushedFilters: [IsNotNull(pt_id), EqualTo(pt_id,42)]"],
        forbid=[],
    ),
    "tile-partition pruning (cell_r5 = <hot cell>)": dict(
        expect=["PartitionFilters: [isnotnull(cell_r5"],
        forbid=[],
    ),
    "rasterize: no Python node (pixel centres through the spatial join)": dict(
        # the burn is the spatial join's point-in-polygon core over the
        # distinct pixel centres — no per-pixel Python
        expect=["BroadcastHashJoin"],
        forbid=["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
    ),
    "vector geometry map (explode_multipolygon, one per-geometry pass)": dict(
        # the per-geometry operators are one Arrow map over the rows:
        # no shuffle and no pandas or row-at-a-time Python node
        expect=["MapInArrow"],
        forbid=["Exchange", "MapInPandas", "BatchEvalPython",
                "ArrowEvalPython"],
    ),
}


def main():
    from rsgislib_spark.session import get_spark
    from rsgislib_spark.cells import quadcell, s2cell
    from rsgislib_spark.data import derived, fixtures, pages
    from rsgislib_spark.functions.geoparse import geoparse
    from rsgislib_spark.operators import dedup, spatial_join as sj, zonal

    spark = get_spark("plans", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"

    tmp = "/tmp/plan_pages.parquet"
    pages.pages_df(spark, 1000).drop("lon_true", "lat_true") \
        .write.mode("overwrite").parquet(tmp)

    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)

    def headline():
        pts = geoparse(spark.read.parquet(tmp))
        pts = pts.selectExpr("*", quadcell.cell_sql("lon", "lat", 9) + " AS c9",
                             s2cell.cell_sql("lon", "lat", 10) + " AS s2")
        return sj.spatial_join(pts.where("lon IS NOT NULL"), idx,
                               how="inner").groupBy().count()

    def spatial():
        return sj.spatial_join(derived.points_df(spark, sf), idx, how="inner")

    def spatial_edges():
        return sj._edge_join(derived.points_df(spark, sf), idx, how="inner")

    def zonal_q():
        joined = sj.spatial_join(derived.points_df(spark, sf), idx, how="inner")
        return zonal.zonal_stats(joined, value_col="meas")

    def minhash():
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.minhash_signatures(docs, n_perm=8)

    def unq_ids():
        from rsgislib_spark.operators import vector_ops

        return vector_ops.add_unq_numeric_col(
            derived.points_df(spark, sf), "meas")

    def sj_left_pages():
        pts = geoparse(spark.read.parquet(tmp)).where("lon IS NOT NULL")
        return sj.spatial_join(pts, idx, how="left")

    def overlay_pairs():
        from rsgislib_spark.geometry import wkb as wkb_codec
        from rsgislib_spark.operators import overlay as ovl

        def layer(ids):
            return spark.createDataFrame(
                [(i, wkb_codec.polygon_to_wkb(
                    [[(i, 0.0), (i + 5.0, 0.0), (i + 5.0, 5.0),
                      (i, 5.0)]])) for i in ids],
                "a_id BIGINT, geometry BINARY")

        a = layer(range(0, 40, 2))
        b = layer(range(1, 40, 2)).withColumnRenamed("a_id", "b_id")
        return ovl.intersection(a, b, res=6)

    def clump_edges():
        from rsgislib_spark.operators import clump as cl

        grid = fixtures.grid_df(spark, bands=(1,)).selectExpr(
            "x", "y", "CAST(((x DIV 5) + (y DIV 5)) % 2 AS DOUBLE) AS value")
        return cl.clump(grid, tile=64)

    def knn_pages():
        from rsgislib_spark.operators import knn as knn_ops

        pts = geoparse(spark.read.parquet(tmp)).where("lon IS NOT NULL")
        return knn_ops.knn_kring(pts, derived.sites_df(spark), res=3)

    def sj_df_big():
        from rsgislib_spark.geometry import wkb as wkb_codec

        p = "/tmp/plan_polys.parquet"
        spark.createDataFrame(
            [(p_["poly_id"],
              bytearray(wkb_codec.polygon_to_wkb(fixtures.poly_rings(p_))))
             for p_ in fixtures.POLYGONS],
            "poly_id BIGINT, geometry BINARY",
        ).write.mode("overwrite").parquet(p)
        polys = spark.read.parquet(p)
        return sj.spatial_join_df(derived.points_df(spark, sf), polys,
                                  pt_id_col="pt_id")

    def lsh_pairs():
        from rsgislib_spark.operators import similarity

        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        return similarity.lsh_neardup_pairs(emb, threshold=0.4, n_bits=32,
                                            bands=4, dim=64, seed=42)

    def minhash_lsh():
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.minhash_lsh_pairs(docs, threshold=0.5)

    def simhash_near():
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.simhash_near_pairs(docs, k=3)

    def ivf():
        from rsgislib_spark.operators import similarity

        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        return similarity.ivf_topk(emb.limit(16), emb, k=5,
                                   n_centroids=64, dim=64)

    def decontaminate():
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.contamination_flags(docs.where("doc_id % 50 <> 0"),
                                         docs.where("doc_id % 50 = 0"))

    def repetition():
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.repetition_stats(docs)

    def span_dd():
        import __spark_entry__ as entry

        return entry.q_span_dedup(spark, sf)

    def url_rollup():
        import __spark_entry__ as entry

        return entry.q_url_host_rollup(spark, sf)

    def pii():
        import __spark_entry__ as entry

        return entry.q_pii_scrub(spark, sf)

    def pushdown():
        p = "/tmp/plan_pts.parquet"
        derived.points_df(spark, sf).write.mode("overwrite").parquet(p)
        return spark.read.parquet(p).where("pt_id = 42")

    def partition_prune():
        from rsgislib_spark.operators import tiling
        from rsgislib_spark.sources import catalog

        p = "/tmp/plan_tiles.parquet"
        assigned = tiling.assign_tiles(
            geoparse(spark.read.parquet(tmp)).where("lon IS NOT NULL"))
        catalog.write_partitioned(
            assigned.select("url", "lon", "lat", "cell_r5"), p, "cell_r5",
            mode="overwrite-partitions")
        a_cell = assigned.select("cell_r5").limit(1).collect()[0][0]
        return spark.read.parquet(p).where(f"cell_r5 = {a_cell}")

    def rasterize():
        from rsgislib_spark.operators import raster

        return raster.rasterize_polygons(
            fixtures.grid_df(spark, bands=(1, 2)), fixtures.GRID_POLYGONS,
            fixtures.GRID_ORIGIN_X, fixtures.GRID_ORIGIN_Y, fixtures.GRID_RES)

    def vector_geom_map():
        from rsgislib_spark.operators import vector_geom

        return vector_geom.explode_multipolygon(fixtures.polygons_df(spark))

    dfs = dict(zip(CHECKS, [headline, spatial, spatial_edges, zonal_q,
                            minhash, unq_ids,
                            sj_left_pages, overlay_pairs, clump_edges,
                            knn_pages, sj_df_big,
                            lsh_pairs, minhash_lsh, simhash_near, ivf,
                            decontaminate, repetition,
                            span_dd, url_rollup, pii,
                            pushdown, partition_prune, rasterize,
                            vector_geom_map]))

    out = ["# PLANS — physical-plan evidence (generated by tools/plan_report.py)",
           "",
           "Checklist per plan: column-pruned scans (ReadSchema), pushed",
           "filters, broadcast (not sort-merge) joins on the dimension side,",
           "zero Python in the spatial-join hot path (codegen CASE refine,",
           "or a banded edge join for large ring sets), partial (map-side)",
           "aggregation.",
           ""]
    ok = True
    for name, fn in dfs.items():
        plan = fn()._jdf.queryExecution().executedPlan().toString()
        plan_short = "\n".join(plan.splitlines()[:40])
        checks = CHECKS[name]
        lines = [f"## {name}", ""]
        for e in checks["expect"]:
            hit = e in plan
            ok &= hit
            lines.append(f"- {'✅' if hit else '❌ MISSING'} expect `{e}`")
        for f_ in checks["forbid"]:
            bad = f_ in plan
            ok &= not bad
            lines.append(f"- {'✅ absent' if not bad else '❌ PRESENT'} forbid `{f_}`")
        lines += ["", "```", plan_short, "```", ""]
        out += lines
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    # fingerprint drift rule: a gated query changed outside the
    # driver window fails the plan report (round-5 process fix)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import query_fingerprints

    ok &= query_fingerprints.check() == 0
    print("PLANS.md written; all checks pass:", ok)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
