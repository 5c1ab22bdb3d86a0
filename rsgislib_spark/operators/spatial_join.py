"""Spatial join: cell-prefix hash join + exact ray-cast refinement.

Re-expresses ``perform_spatial_join`` (reference:
python/rsgislib/vectorattrs/__init__.py:1229-1308 — geopandas sjoin
over an rtree index, join_how in {left,right,inner}, join_op in
{intersects,within,contains}) for the points-in-polygons case that
dominates the web-scale workload (pages are points).

Plan shape (SURVEY.md §3 EP3):

  pages ──(codegen)── cell id at res r ─┐
                                        ├─ hash join on cell ── bbox
  polys ── cover cells (numpy, driver) ─┘    prefilter (codegen) ──
       ray-cast refine (Arrow-batched pandas UDF) ── how-semantics

Scale notes (the 100 TB story):
- The polygon side is broadcast when its exploded cover is small
  (< ``broadcast_max_cover`` rows) — no shuffle at all: the join is a
  map-side BroadcastHashJoin and the refine is a mapPartitions-shaped
  pandas UDF. This mirrors the reference loading the small layer
  fully in memory (vectorattrs/__init__.py:1293) but distributes the
  probe side.
- For large polygon sets the cover is a DataFrame and Catalyst picks
  a shuffle hash join on the cell key; dense cells (cities) are the
  skew risk — see tiling.salt_hot_cells and AQE skew-join config in
  session.py.
- The refine UDF sees only candidates that already passed cell AND
  bbox filters (both JVM-side), so Python touches a small fraction of
  rows — the reference's filter-refine trick
  (vectorutils/__init__.py:2197) turned into dataflow.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType

from ..cells import quadcell
from ..geometry import predicates, wkb

_COVER_SCHEMA = pa.schema(
    [("poly_id", pa.int64()), ("cell", pa.int64())]
    + [(c, pa.float64()) for c in ("xmin", "ymin", "xmax", "ymax")])

DEFAULT_RES = 6


class PolygonIndex:
    """Driver-side polygon set: rings + bbox + cell cover.

    The analog of the reference's rtree
    (vectorattrs/__init__.py:1283): a structure that maps a point's
    key to candidate polygons — here realized as rows (poly_id, cell)
    joined by Catalyst, not a tree probed per row.

    res=None (adaptive) picks a PER-POLYGON resolution
    (quadcell.adaptive_cover_res): a city-block polygon indexes at
    fine res (selective join key — without this, every page in its
    ~5 degree res-6 cell would become a candidate), a continent at
    coarse res (bounded cover explode). The join then probes one point
    cell column per distinct res in use (a handful of codegen
    columns), which is how the index stays selective at 10^12 pages
    without a trillion-row cover.
    """

    def __init__(self, polys: list, res: int | None = DEFAULT_RES,
                 max_cells: int = 256):
        """polys: list of dicts with keys poly_id, rings (float64
        (k,2) arrays, antimeridian-unwrapped), plus free attrs."""
        self.polys = []
        for p in polys:
            rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
            bbox = predicates.ring_bbox(rings)
            unwrapped = bbox[2] > 180.0
            if res is None:
                xmin, ymin, xmax, ymax = bbox
                pres = quadcell.adaptive_cover_res(
                    xmin, ymin, xmax, ymax, max_cells=max_cells)
            else:
                pres = res
            self.polys.append(
                dict(poly_id=int(p["poly_id"]), rings=rings, bbox=bbox,
                     unwrapped=unwrapped, res=pres)
            )

    @property
    def res_set(self) -> list:
        return sorted({p["res"] for p in self.polys})

    @classmethod
    def from_fixture(cls, fixture_polys: list, res: int | None = DEFAULT_RES):
        from ..data import fixtures

        return cls(
            [dict(poly_id=p["poly_id"], rings=fixtures.poly_rings(p))
             for p in fixture_polys],
            res=res,
        )

    @classmethod
    def from_df(cls, polygons: DataFrame, res: int | None = DEFAULT_RES,
                id_col: str = "poly_id", geom_col: str = "geometry"):
        """Collect a (small) polygon DataFrame; geometry is WKB.

        Collecting the dimension side is the broadcast pattern — the
        polygon layer is the small side by design (north star: pages
        >> polygons). For huge polygon layers, pre-explode the cover
        into a table instead (cover_rows as a DataFrame join).
        """
        rows = polygons.select(id_col, geom_col).collect()
        polys = []
        for r in rows:
            rings = predicates.unwrap_antimeridian(wkb.wkb_to_rings(bytes(r[geom_col])))
            polys.append(dict(poly_id=r[id_col], rings=rings))
        return cls(polys, res=res)

    # -------------------------------------------------------- cover
    def cover_rows(self) -> list:
        """(poly_id, cell, xmin, ymin, xmax, ymax) candidate rows;
        each polygon's cells are at ITS resolution (cell ids encode
        the res, so mixed-res rows coexist in one table)."""
        out = []
        for p in self.polys:
            xmin, ymin, xmax, ymax = p["bbox"]
            if xmax > 180.0:  # unwrapped antimeridian bbox → wrap signature
                cells = quadcell.cover_bbox(xmin, ymin, xmax - 360.0, ymax, p["res"])
            else:
                cells = quadcell.cover_bbox(xmin, ymin, xmax, ymax, p["res"])
            for c in cells.tolist():
                out.append((p["poly_id"], c, xmin, ymin, xmax, ymax))
        return out

    def cover_df(self, spark) -> DataFrame:
        """The cover as a local relation. It is built from Arrow, not
        from a Python list (an RDD-backed leaf), so its rows are part
        of the plan: a checkpoint lineage fingerprint identifies it by
        content and a restarted job that rebuilds it can resume."""
        cols = list(zip(*self.cover_rows())) or [()] * len(_COVER_SCHEMA)
        return spark.createDataFrame(pa.table(cols, schema=_COVER_SCHEMA))

    # ------------------------------------------------------- refine
    def refine_udf(self):
        """Arrow-batched pandas UDF: (poly_id, lon, lat) → inside.

        Candidates are grouped by poly_id inside each Arrow batch and
        tested vectorized (point_in_rings broadcasts points x edges).
        The crossing formula is IEEE-identical to the SQL oracle
        (predicates.raycast_sql).
        """
        rings_by_id = {p["poly_id"]: (p["rings"], p["unwrapped"]) for p in self.polys}

        @F.pandas_udf(BooleanType())
        def _inside(poly_id: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
            out = np.zeros(len(poly_id), dtype=bool)
            pid = poly_id.to_numpy()
            px = lon.to_numpy(dtype=np.float64)
            py = lat.to_numpy(dtype=np.float64)
            for the_id in np.unique(pid):
                rings, unwrapped = rings_by_id[int(the_id)]
                m = pid == the_id
                x = px[m]
                if unwrapped:
                    x = np.where(x < 0.0, x + 360.0, x)
                out[m] = predicates.point_in_rings(x, py[m], rings)
            return pd.Series(out)

        return _inside

    def total_edges(self) -> int:
        return sum(len(r) - 1 for p in self.polys for r in p["rings"])

    def refine_expr(self, lon: str, lat: str, poly_id_col: str = "poly_id"):
        """Pure-codegen ray-cast refine: one CASE over per-polygon
        crossing expressions (predicates.raycast_sql — the SAME IEEE
        formula as refine_udf and the DuckDB oracle, so swapping
        refine paths is bit-exact).

        Why it exists: the Arrow refine ships every candidate row to a
        Python worker. At high core counts those workers compete with
        the executor JVMs for memory bandwidth — measurably hurting
        the N→4N scaling the north rule grades. For dimension-sized
        layers (bounded total edge count) the whole filter-refine
        pipeline instead stays inside one WholeStageCodegen span:
        zero Python processes in the hot path.
        """
        lon, lat = f"`{lon}`", f"`{lat}`"  # names, not expressions
        if not self.polys:
            # zero WHEN clauses would render "CASE ELSE false END",
            # which the SQL parser rejects; an empty index matches
            # nothing (the Arrow refine's behavior on no candidates)
            return F.lit(False)
        whens = []
        for p in self.polys:
            x = lon
            if p["unwrapped"]:
                # same wrap rule as refine_udf: unwrapped polys test
                # western-hemisphere points at lon+360
                x = (f"(CASE WHEN {lon} < CAST(0.0 AS DOUBLE) "
                     f"THEN {lon} + CAST(360.0 AS DOUBLE) ELSE {lon} END)")
            cond = predicates.raycast_sql(x, lat, p["rings"])
            whens.append(f"WHEN {poly_id_col} = {p['poly_id']} THEN {cond}")
        return F.expr("CASE " + " ".join(whens) + " ELSE false END")


def spatial_join(points: DataFrame, index: PolygonIndex, how: str = "inner",
                 lon: str = "lon", lat: str = "lat",
                 broadcast_max_cover: int = 4_000_000,
                 pt_id_col: str | None = None,
                 refine: str = "auto",
                 codegen_max_edges: int = 512) -> DataFrame:
    """Join points to the polygons containing them.

    how='inner' → matched (point, poly) pairs (a point in k polygons
    yields k rows — sjoin fan-out semantics); how='left' → unmatched
    points kept with null poly_id; how='right' → unmatched POLYGONS
    kept with null point columns (perform_spatial_join's right);
    how='left_semi' → just the matched points, deduped
    (spatial_select_gp semantics, vectorutils/__init__.py:1585:
    tmp unique id + drop_duplicates).
    """
    if how not in {"inner", "left", "right", "left_semi"}:
        raise ValueError(f"join_how must be inner/left/right/left_semi, got {how}")

    spark = points.sparkSession
    # Non-inner hows rejoin matches to the input. The join-back key is
    # ONE column (the reference's own temp-unique-id trick,
    # vectorutils/__init__.py:1585) — never the full payload columns
    # (html/text would become shuffle keys, duplicate rows would fan
    # out multiplicatively, and a NULL column would make the
    # null-unsafe equi-join drop matched rows).
    #
    # pt_id_col: pass the layer's natural unique key (url, pt_id) —
    # the robust zero-cost path. Without one, a temp
    # monotonically_increasing_id is generated; because the id is
    # re-evaluated on BOTH sides of the self-join, the tagged frame is
    # localCheckpoint'ed (eager): the ids are MATERIALIZED once, so a
    # nondeterministically-ordered upstream cannot assign different
    # ids per branch, and — unlike persist(), whose evicted partitions
    # silently RECOMPUTE with fresh ids — a lost checkpoint partition
    # fails the job loudly. The checkpointed blocks are released by
    # the ContextCleaner when the frame goes out of scope (no
    # explicit unpersist needed across the lazy output's lifetime).
    tagged_persisted = False
    if pt_id_col is not None:
        pt_id = pt_id_col
    else:
        pt_id = "__sj_pt_id"
        if how != "inner":
            points = points.withColumn(
                pt_id, F.monotonically_increasing_id()).localCheckpoint()
            tagged_persisted = True
    cover = index.cover_df(spark)
    if len(index.cover_rows()) <= broadcast_max_cover:
        cover = F.broadcast(cover)

    # one probe cell per resolution in use (cell ids encode the res,
    # so a single equi-join key serves every granularity); explode is
    # a |res_set|-fold fan-out of the PROBE side only, still a plain
    # hash join
    res_set = index.res_set
    if len(res_set) == 1:
        pts = points.withColumn("cell", quadcell.cell_col(lon, lat, res_set[0]))
    else:
        pts = points.withColumn(
            "cell",
            F.explode(F.array(*[quadcell.cell_col(lon, lat, r)
                                for r in res_set])),
        )
    cand = (
        pts.join(cover, "cell")
        .where(
            (F.col(lon) >= F.col("xmin")) & (F.col(lon) <= F.col("xmax"))
            & (F.col(lat) >= F.col("ymin")) & (F.col(lat) <= F.col("ymax"))
            # antimeridian bbox: xmax>180 means the wrapped-west part
            # is also in range; re-check lon+360
            | ((F.col("xmax") > 180.0) & (F.col(lon) + 360.0 >= F.col("xmin"))
               & (F.col(lon) + 360.0 <= F.col("xmax"))
               & (F.col(lat) >= F.col("ymin")) & (F.col(lat) <= F.col("ymax")))
        )
    )
    # refine path: codegen CASE for dimension-sized layers (keeps the
    # scan→join→refine pipeline in one WholeStageCodegen span, no
    # Python workers), Arrow pandas UDF for larger ring sets (a giant
    # expression would blow past the JIT method limit and fall back
    # to slower interpreted eval). Both evaluate the identical IEEE
    # crossing formula — gated queries verify either path bit-exact
    # vs the DuckDB oracle.
    if refine not in {"auto", "codegen", "arrow"}:
        raise ValueError(f"refine must be auto/codegen/arrow, got {refine}")
    use_codegen = refine == "codegen" or (
        refine == "auto" and index.total_edges() <= codegen_max_edges)
    if use_codegen:
        inside_pred = index.refine_expr(lon, lat)
    else:
        inside = index.refine_udf()
        inside_pred = inside(F.col("poly_id"), F.col(lon), F.col(lat))
    matched = (
        cand.where(inside_pred)
        .drop("cell", "xmin", "ymin", "xmax", "ymax")
    )

    temp_cols = [pt_id] if tagged_persisted else []
    if how == "inner":
        return matched
    if how == "left_semi":
        # matched ids only — dedupes polygon fan-out without touching
        # payload columns; LEFT SEMI keeps the probe side unshuffled
        # wide (only the id survives to the join key)
        hit_ids = matched.select(pt_id).dropDuplicates([pt_id])
        return points.join(hit_ids, pt_id, "left_semi").drop(*temp_cols)
    if how == "right":
        ids = spark.createDataFrame(
            [(p["poly_id"],) for p in index.polys], "poly_id BIGINT")
        out_cols = [c for c in points.columns if c not in temp_cols]
        return ids.join(matched.select(*out_cols, "poly_id"),
                        "poly_id", "left")
    # left: keep unmatched points with null poly_id; join back on the
    # single id key (matched side carries only id + poly_id)
    return (
        points.join(matched.select(pt_id, "poly_id"), pt_id, "left")
        .drop(*temp_cols)
    )


# poly_cover_df covers above this many rows are joined via shuffled
# hash instead of broadcast (~48 B/row -> ~190 MB of broadcast at the
# cap, inside the "few hundred MB" comfort zone of guide 3.1).
_COVER_BROADCAST_MAX_ROWS = 4_000_000


def poly_cover_df(polys: DataFrame, res: int | None = None,
                  max_cells: int = 8, id_col: str = "poly_id",
                  geom_col: str = "geometry") -> DataFrame:
    """DISTRIBUTED cell cover of a polygon DataFrame — the large-layer
    twin of PolygonIndex.cover_rows (which collects to the driver).

    ``max_cells`` defaults to 8 here (vs PolygonIndex's 256): on this
    path the cover is a SHUFFLED table, so its row count is the
    dominant cost — cover_rows ~= |polys| * cells_per_poly of
    (id, cell, bbox) rows written, shuffled, and joined. The finest
    res under 256 put ~58 cells on every city-block polygon (5.8M
    cover rows for a 100k layer, measured); at ~4-8 cells the cover
    shrinks ~10x while the candidate set only grows by the bbox
    overhang of one coarser cell — and every extra candidate is
    removed by the CODEGEN bbox prefilter before the Python refine
    ever sees it. At 10^12 pages x 10M polygons the 58-cell cover is
    the job's largest shuffle; the 4-8-cell cover is noise.

    mapInPandas over (poly_id, wkb): per polygon, decode rings,
    antimeridian-unwrap, pick the adaptive resolution (res=None) and
    emit (poly_id, cell, bbox, res) rows. Nothing reaches the driver;
    a 10M-polygon parcel layer covers in one Arrow-batched pass.
    xmax > 180 signals an unwrapped antimeridian bbox (same convention
    as PolygonIndex)."""
    from ..geometry import predicates as P

    def gen(batches):
        for pdf in batches:
            pid_out, cell_out, bx = [], [], [[], [], [], []]
            res_out = []
            for pid, g in zip(pdf[id_col], pdf[geom_col]):
                rings = P.unwrap_antimeridian(wkb.wkb_to_rings(bytes(g)))
                xmin, ymin, xmax, ymax = P.ring_bbox(rings)
                pres = (quadcell.adaptive_cover_res(
                    xmin, ymin, xmax, ymax, max_cells=max_cells)
                    if res is None else res)
                if xmax > 180.0:
                    cells = quadcell.cover_bbox(
                        xmin, ymin, xmax - 360.0, ymax, pres)
                else:
                    cells = quadcell.cover_bbox(xmin, ymin, xmax, ymax, pres)
                for c in cells.tolist():
                    pid_out.append(pid)
                    cell_out.append(c)
                    for k, v in zip(bx, (xmin, ymin, xmax, ymax)):
                        k.append(v)
                    res_out.append(pres)
            yield pd.DataFrame({
                "poly_id": pd.Series(pid_out, dtype="int64"),
                "cell": pd.Series(cell_out, dtype="int64"),
                "xmin": pd.Series(bx[0], dtype="float64"),
                "ymin": pd.Series(bx[1], dtype="float64"),
                "xmax": pd.Series(bx[2], dtype="float64"),
                "ymax": pd.Series(bx[3], dtype="float64"),
                "res": pd.Series(res_out, dtype="int32"),
            })

    return polys.select(F.col(id_col).alias(id_col), geom_col).mapInPandas(
        gen,
        "poly_id BIGINT, cell BIGINT, xmin DOUBLE, ymin DOUBLE, "
        "xmax DOUBLE, ymax DOUBLE, res INT")


def spatial_join_df(points: DataFrame, polys: DataFrame,
                    how: str = "inner", lon: str = "lon", lat: str = "lat",
                    res: int | None = None, max_cells: int = 8,
                    id_col: str = "poly_id", geom_col: str = "geometry",
                    pt_id_col: str | None = None,
                    salt: int = 8, refine_buckets: int = 64,
                    with_payload: bool = True) -> DataFrame:
    """Spatial join against a polygon DataFrame TOO LARGE TO COLLECT —
    the DataFrame-native path the reference's sjoin implies for
    arbitrary-size layers (vectorattrs/__init__.py:1301-1303).

    No driver collect anywhere:
    1. cover = poly_cover_df (distributed, adaptive per-polygon res);
    2. candidates = points ⋈ cover on the cell key + codegen bbox
       prefilter (the exact filter spatial_join uses);
    3. refine = COGROUPED applyInPandas on (hash-bucket(poly_id),
       salt): each group receives its bucket's polygon WKBs plus the
       candidates for those polygons — rings travel with the batch,
       never in a UDF closure, and each polygon is decoded once per
       group. Bucketing (NOT per-polygon groups) keeps the group
       count CONSTANT at refine_buckets*salt: per-group Python
       overhead would otherwise scale with |polygons| and dominate
       (measured 10x on a 100k-polygon layer). ``salt`` splits a hot
       polygon's candidates across ``salt`` tasks (the polygon rows
       are replicated salt-fold — KBs per task, vs a continent's
       candidate list in ONE task);
    4. matched pairs are slim (pt_id, poly_id); payload joins back
       once on the id key (the spatial_join pt_id discipline).

    The distinct-res probe set comes from one tiny aggregation over
    the cover (≤ a dozen rows collected — a scalar, not the layer).

    with_payload=False (inner join + natural pt_id_col only) returns
    the slim (pt_id, poly_id) pair frame directly: for callers that
    project exactly those columns, the payload join is a
    row-preserving identity (every matched id comes from points and
    the join key is unique there) and pure cost.
    """
    if how not in {"inner", "left", "right", "left_semi"}:
        raise ValueError(f"join_how must be inner/left/right/left_semi, got {how}")
    if not with_payload and (how != "inner" or pt_id_col is None):
        raise ValueError("with_payload=False requires how='inner' and a "
                         "natural pt_id_col")

    temp_id = pt_id_col is None
    pt_id = pt_id_col if pt_id_col is not None else "__sj_pt_id"
    if temp_id:
        # eager localCheckpoint: ids materialized once (see
        # spatial_join's note on id stability)
        points = points.withColumn(
            pt_id, F.monotonically_increasing_id()).localCheckpoint()

    cover = poly_cover_df(polys, res, max_cells, id_col, geom_col)
    # iterative consumer (res_set now, candidates later) → cache the
    # cover, not the polygons (cover is the small derived table)
    cover = cover.persist()
    # ONE aggregate action yields both the distinct-res probe set and
    # the cover row count (the broadcast gate below) — same job cost
    # as the previous select("res").distinct()
    res_rows = cover.groupBy("res").count().collect()
    res_set = sorted(r["res"] for r in res_rows)
    n_cover = sum(r["count"] for r in res_rows)

    from ..session import spread_scan

    # spread the slim point side: the cell-assign/explode stage feeds
    # the candidate shuffle, and a few-row-group source would write
    # that whole shuffle from 1-2 tasks. Hash-spread on the id key:
    # no sort-before-repartition inside the single scan task
    slim = spread_scan(points.select(pt_id, lon, lat), by=pt_id)
    if len(res_set) == 1:
        pts = slim.withColumn("cell", quadcell.cell_col(lon, lat, res_set[0]))
    else:
        pts = slim.withColumn(
            "cell",
            F.explode(F.array(*[quadcell.cell_col(lon, lat, r)
                                for r in res_set])))
    # Join-side discipline (guide §3.1): the point side's size estimate
    # comes from the (column-pruned) source file and is far below its
    # true exploded size, so left alone Catalyst BROADCASTS THE POINT
    # SIDE — a 10^12-row layer would OOM the driver the moment the
    # estimate stays under the threshold, and even here building a
    # 3M-row hashed relation measured 4x slower than broadcasting the
    # cover. Count-gate instead (the count is free, from the res-probe
    # aggregate above): a bounded cover is broadcast — the point side
    # is then never shuffled at all — and a huge cover falls back to a
    # shuffled-hash join (its per-partition build side is cover/N
    # rows; measured 1.8x faster than sort-merge on this shape).
    cov = cover.drop("res")
    cov = (F.broadcast(cov) if n_cover <= _COVER_BROADCAST_MAX_ROWS
           else cov.hint("shuffle_hash"))
    cand = (
        pts.join(cov, "cell")
        .where(
            (F.col(lon) >= F.col("xmin")) & (F.col(lon) <= F.col("xmax"))
            & (F.col(lat) >= F.col("ymin")) & (F.col(lat) <= F.col("ymax"))
            | ((F.col("xmax") > 180.0) & (F.col(lon) + 360.0 >= F.col("xmin"))
               & (F.col(lon) + 360.0 <= F.col("xmax"))
               & (F.col(lat) >= F.col("ymin")) & (F.col(lat) <= F.col("ymax")))
        )
        .select(pt_id, lon, lat, "poly_id")
        .withColumn("_bkt", F.pmod(F.xxhash64("poly_id"),
                                   F.lit(refine_buckets)).cast("int"))
        .withColumn("_salt", F.pmod(F.xxhash64(pt_id), F.lit(salt)).cast("int"))
    )
    # cast to BIGINT before hashing: xxhash64 is TYPE-sensitive
    # (hashInt != hashLong for the same value), and the cand side's
    # poly_id is BIGINT via poly_cover_df's declared schema — hashing
    # an INT id column raw would land the two sides in different
    # buckets and silently produce an empty join
    polys_s = polys.select(
        F.col(id_col).cast("bigint").alias("poly_id"),
        F.col(geom_col).alias("_wkb")
    ).withColumn("_bkt", F.pmod(F.xxhash64("poly_id"),
                                F.lit(refine_buckets)).cast("int")) \
     .withColumn("_salt", F.explode(F.array(*[F.lit(s) for s in range(salt)])))

    pt_id_type = dict(points.dtypes)[pt_id]
    out_schema = f"`{pt_id}` {pt_id_type}, poly_id BIGINT"
    from ..geometry import predicates as P

    def refine(cand_pdf: pd.DataFrame, poly_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            pt_id: pd.Series([], dtype=cand_pdf[pt_id].dtype
                             if pt_id in cand_pdf else "int64"),
            "poly_id": pd.Series([], dtype="int64")})
        if cand_pdf.empty or poly_pdf.empty:
            return empty
        wkb_by_id = dict(zip(poly_pdf["poly_id"].to_numpy(),
                             poly_pdf["_wkb"]))
        # decode each polygon ONCE per group, ray-cast its candidate
        # batch vectorized (same kernel as PolygonIndex.refine_udf).
        # Candidates are sliced as numpy RUNS of a sorted poly_id
        # array — the previous pandas groupby/.loc/.copy per polygon
        # cost ~1.3 ms of frame overhead per candidate polygon
        # (measured 79 s CPU per pass on the 100k-diamond layer, vs
        # ~3 s this way); the kept mask is one boolean array, and the
        # output is assembled once.
        pid_arr = cand_pdf["poly_id"].to_numpy(np.int64)
        order = np.argsort(pid_arr, kind="stable")
        pid_s = pid_arr[order]
        x_all = cand_pdf[lon].to_numpy(dtype=np.float64)[order]
        y_all = cand_pdf[lat].to_numpy(dtype=np.float64)[order]
        ptid_s = cand_pdf[pt_id].to_numpy()[order]
        bounds = np.flatnonzero(
            np.r_[True, pid_s[1:] != pid_s[:-1], True])
        keep = np.zeros(len(pid_s), dtype=bool)
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            g = wkb_by_id.get(pid_s[lo])
            if g is None:
                continue
            rings = P.unwrap_antimeridian(wkb.wkb_to_rings(bytes(g)))
            xs = x_all[lo:hi]
            if P.ring_bbox(rings)[2] > 180.0:
                xs = np.where(xs < 0.0, xs + 360.0, xs)
            keep[lo:hi] = P.point_in_rings(xs, y_all[lo:hi], rings)
        if not keep.any():
            return empty
        return pd.DataFrame({pt_id: ptid_s[keep],
                             "poly_id": pid_s[keep]})

    pairs = (
        cand.groupBy("_bkt", "_salt")
        .cogroup(polys_s.groupBy("_bkt", "_salt"))
        .applyInPandas(refine, out_schema)
    )

    if not with_payload:
        return pairs
    if how == "inner":
        out = points.join(pairs, pt_id, "inner")
    elif how == "left":
        out = points.join(pairs, pt_id, "left")
    elif how == "left_semi":
        out = points.join(pairs.select(pt_id).dropDuplicates([pt_id]),
                          pt_id, "left_semi")
    else:  # right: every polygon id, matched points or nulls
        ids = polys.select(F.col(id_col).alias("poly_id"))
        out = ids.join(points.join(pairs, pt_id, "inner"), "poly_id", "left")
    return out.drop(pt_id) if temp_id else out


def count_points_per_polygon(points: DataFrame, index: PolygonIndex,
                             lon: str = "lon", lat: str = "lat") -> DataFrame:
    """count_pt_intersects semantics
    (vectorattrs/__init__.py:1022-1103): per-polygon count of
    intersecting points; polygons with no points get NULL (the pandas
    left-merge leaves NaN, which the reference writes as missing)."""
    spark = points.sparkSession
    matched = spatial_join(points, index, how="inner", lon=lon, lat=lat)
    counts = matched.groupBy("poly_id").agg(F.count("*").alias("n_points"))
    ids = spark.createDataFrame(
        [(p["poly_id"],) for p in index.polys], "poly_id BIGINT"
    )
    return ids.join(counts, "poly_id", "left")


def annotate_selection(points: DataFrame, index: PolygonIndex,
                       flag_col: str = "sel", lon: str = "lon",
                       lat: str = "lat",
                       pt_id_col: str | None = None) -> DataFrame:
    """annotate_vec_selection semantics
    (vectorattrs/__init__.py:1158): boolean flag = point intersects
    any polygon. Implemented as an id-keyed probe (never the payload
    columns — see spatial_join's pt_id note; pass pt_id_col when the
    layer has a natural unique key, else a persisted temp id)."""
    if pt_id_col is not None:
        pt_id, tagged, temp = pt_id_col, points, []
    else:
        pt_id = "__sj_pt_id"
        # eager localCheckpoint, not persist — see spatial_join's note
        # on id stability under eviction
        tagged = points.withColumn(
            pt_id, F.monotonically_increasing_id()).localCheckpoint()
        temp = [pt_id]
    hit_ids = (
        spatial_join(tagged, index, how="inner", lon=lon, lat=lat)
        .select(pt_id).dropDuplicates([pt_id])
        .withColumn(flag_col, F.lit(True))
    )
    return (
        tagged.join(hit_ids, pt_id, "left")
        .withColumn(flag_col, F.coalesce(F.col(flag_col), F.lit(False)))
        .drop(*temp)
    )
