"""Spatial join: cell-prefix hash join + exact ray-cast refinement.

Re-expresses ``perform_spatial_join`` (reference:
python/rsgislib/vectorattrs/__init__.py:1229-1308 — geopandas sjoin
over an rtree index, join_how in {left,right,inner}, join_op in
{intersects,within,contains}) for the points-in-polygons case that
dominates the web-scale workload (pages are points).

Plan shape (SURVEY.md §3 EP3):

  points ──(codegen)── cell id per res ──┐
                                         ├─ hash join on cell ── bbox
  polygons ── polygon pass ──── cover ───┘   prefilter ── band, slab
                   └─────────── edges ────── hash join on (poly_id,
      band, slab) ── crossing test (codegen) ── count per (pt_id,
      poly_id), odd count = inside ── how-semantics

The polygon pass is the only Python in the plan and runs once per
layer: numpy over every polygon at once (``_cover_edges``), on the
driver (``PolygonIndex``) or in one ``mapInArrow`` over a polygon
DataFrame (``spatial_join_df``). It emits each polygon's cell cover
and its edge table together. The exact test never crosses into
Python — shipping candidates to Python workers costs Arrow
serialization per row and workers competing with the executor JVMs
("Accelerating Python UDFs in Vectorized Query Execution", CIDR
2022). A candidate meets its polygon's edges in its latitude band in
a JVM join, and the even-odd rule is a count. A polygon gets
``ceil(non-horizontal edges / BAND_EDGES)`` bands; edges that span a
band are further split into x-slabs, so a candidate meets a few dozen
edges however large or spiky its polygon. Dimension-sized driver
indexes (up to ``_CODEGEN_MAX_EDGES`` edges) refine with a codegen
CASE over literal rings instead, in one WholeStageCodegen span.

Both refines evaluate the IEEE crossing formula of
predicates.point_in_rings / raycast_sql: bit-exact against the numpy
and DuckDB oracles. Scale: no join carries a hint; Spark broadcasts a
side under ``spark.sql.autoBroadcastJoinThreshold`` by its planning
estimate, and AQE re-plans a shuffled join by the real size of its
materialized stage, so a large layer takes a shuffled join. Dense
cells (cities) are the skew risk — see tiling.salt_hot_cells and AQE
in session.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..cells import quadcell
from ..geometry import predicates, wkb

DEFAULT_RES = 6
BAND_EDGES = 16  # edges per latitude band, and spanning edges per x-slab

_COVER = pa.schema(
    [("poly_id", pa.int64()), ("cell", pa.int64())]
    + [(c, pa.float64()) for c in ("xmin", "ymin", "xmax", "ymax")]
    + [(c, pa.int32()) for c in ("res", "nb", "ms")])  # nb bands, ms slabs
_EDGES = pa.schema(
    [("poly_id", pa.int64()), ("band", pa.int32()), ("slab", pa.int32())]
    + [(c, pa.float64()) for c in ("x1", "y1", "x2", "y2")])
_PASS = pa.unify_schemas([_COVER, _EDGES])  # both outputs of the pass

# Bin of v in n equal bins over [lo, hi] (a latitude band, an x-slab),
# op for op the numpy ``_bin``. n = 1 needs no division (and the ring
# may have zero height: ANSI Spark raises on x / 0.0).
_BIN_SQL = ("CAST(CASE WHEN {n} > 1 THEN LEAST(GREATEST(FLOOR(({v} - {lo})"
            " * CAST({n} AS DOUBLE) / ({hi} - {lo})), 0), {n} - 1) ELSE 0 END"
            " AS INT)")
# point_in_rings' crossing test. y2 - y1 is never 0: the pass drops
# horizontal edges, and distinct doubles never subtract to zero.
_CROSS_SQL = ("((y1 > _y) <> (y2 > _y))"
              " AND _x < (x2 - x1) * (_y - y1) / (y2 - y1) + x1")
# a parity row: an edge far right spanning every latitude, so every
# candidate of its (band, slab) counts it (finite: the formula is exact)
_SURE = 1e300

_CODEGEN_MAX_EDGES = 512  # larger driver indexes take the edge refine


# ------------------------------------------------------ polygon pass

def _runs(counts: np.ndarray):
    """Owner index and offset within the run, for runs of ``counts``."""
    owner = np.repeat(np.arange(len(counts)), counts)
    return owner, np.arange(len(owner)) - np.repeat(np.cumsum(counts) - counts, counts)


def _bin(v, lo, hi, n) -> np.ndarray:
    """numpy twin of ``_BIN_SQL``. Monotone in v: bin(a) < bin(b)
    implies a < b, so an edge listed in bands band(ylo)..band(yhi)
    meets every point with ylo <= lat < yhi."""
    with np.errstate(divide="ignore", invalid="ignore"):
        b = np.floor((v - lo) * n.astype(np.float64) / (hi - lo))
    return np.where(n > 1, np.clip(b, 0, n - 1), 0).astype(np.int64)


def _cover_edges(pid, xy, ring_len, poly_rings, res, max_cells):
    """Cell cover and edge table of a polygon set, in numpy.

    pid: (P,) ids; xy: (V, 2) vertices of every ring, polygon after
    polygon; ring_len: vertices per ring; poly_rings: rings per
    polygon. Rings come antimeridian-unwrapped (bbox xmax > 180 marks
    the polygon). ``res`` None picks quadcell.adaptive_cover_res per
    polygon. Cover cells are exactly quadcell.cover_bbox's.

    Returns (res per polygon, cover table, edge table). Every
    non-horizontal edge is listed in each band its y-span touches: in
    its end bands as a row every candidate of the band tests (slab
    -1); in the bands it spans (it crosses every line of them, since
    the band is monotone) only for the slabs its x-range in the band
    may reach. Slabs it is surely left of skip it; for slabs it is
    surely right of it is counted in a parity row. The x-range uses
    margins far above rounding, so "surely" is exact.
    """
    pid = np.asarray(pid, np.int64)
    n_poly = len(pid)
    ring_len = np.asarray(ring_len, np.int64)
    owner = np.repeat(np.repeat(np.arange(n_poly), poly_rings), ring_len)
    poly_len = np.bincount(owner, minlength=n_poly)
    x, y = xy[:, 0], xy[:, 1]
    vstart = np.cumsum(poly_len) - poly_len
    xmin, xmax = np.minimum.reduceat(x, vstart), np.maximum.reduceat(x, vstart)
    ymin, ymax = np.minimum.reduceat(y, vstart), np.maximum.reduceat(y, vstart)
    res_p = (np.asarray(quadcell.adaptive_cover_res(
        xmin, ymin, xmax, ymax, max_cells=max_cells), np.int64)
        if res is None else np.full(n_poly, res, np.int64))

    # cover: the cover_bbox box of cells, x-major, wrapping past 2^res
    n = np.left_shift(1, res_p)

    def grid(v, half):
        return np.clip(np.floor((v + half) * n / (2 * half)), 0, n - 1).astype(np.int64)

    east = np.where(xmax > 180.0, xmax - 360.0, xmax)
    gx0, gx1, gy0, gy1 = (grid(xmin, 180.0), grid(east, 180.0),
                          grid(ymin, 90.0), grid(ymax, 90.0))
    nx = np.where(xmin > east, n - gx0 + gx1 + 1, gx1 - gx0 + 1)
    ny = gy1 - gy0 + 1
    c, j = _runs(nx * ny)
    cells = quadcell.pack(res_p[c], (gx0[c] + j // ny[c]) % n[c], gy0[c] + j % ny[c])

    # (edge, band) pairs of consecutive vertices of one ring
    last = np.zeros(max(len(x) - 1, 0), bool)
    last[(np.cumsum(ring_len) - 1)[:-1]] = True
    e = np.flatnonzero(~last & (y[:-1] != y[1:]))
    nb = np.maximum(1, -(-np.bincount(owner[e], minlength=n_poly) // BAND_EDGES))
    ylo, yhi = np.minimum(y[e], y[e + 1]), np.maximum(y[e], y[e + 1])
    lo, hi = (_bin(v, ymin[owner[e]], ymax[owner[e]], nb[owner[e]]) for v in (ylo, yhi))
    k, j = _runs(hi - lo + 1)
    e, band, span = e[k], lo[k] + j, (lo[k] + j > lo[k]) & (lo[k] + j < hi[k])
    p = owner[e]
    # ms slabs per polygon: ~BAND_EDGES spanning edges per slab
    ms = np.where(xmax > xmin, np.maximum(1, -(-np.bincount(
        p[span], minlength=n_poly) // (nb * BAND_EDGES))), 1)
    s = np.flatnonzero(span)
    ps, bs, ex, ey = p[s], band[s], x[e[s]], y[e[s]]
    dx, dy, h = x[e[s] + 1] - ex, y[e[s] + 1] - ey, ymax[ps] - ymin[ps]
    m = 1e-9 * (np.abs(ymin[ps]) + np.abs(ymax[ps]) + 1.0)
    ya = np.maximum(ylo[k][s], ymin[ps] + bs * h / nb[ps] - m)
    yb = np.minimum(yhi[k][s], ymin[ps] + (bs + 1) * h / nb[ps] + m)
    xa, xb = ex + (ya - ey) * dx / dy, ex + (yb - ey) * dx / dy
    mu = 1e-9 * (np.abs(ex) + np.abs(ex + dx) + 1.0)
    ka = _bin(np.minimum(xa, xb) - mu, xmin[ps], xmax[ps], ms[ps])
    kb = _bin(np.maximum(xa, xb) + mu, xmin[ps], xmax[ps], ms[ps])
    r, jr = _runs(kb - ka + 1)
    # parity rows: (band, slab) cells with an odd count of k < ka
    base = np.cumsum(nb * ms) - nb * ms
    first, n_cell = base[ps] + bs * ms[ps], int((nb * ms).sum())
    odd = np.flatnonzero(np.cumsum(
        np.bincount(first, minlength=n_cell + 1)
        - np.bincount(first + ka, minlength=n_cell + 1))[:n_cell] % 2)
    op = np.searchsorted(base, odd, side="right") - 1
    ob, ok = np.divmod(odd - base[op], ms[op])

    t = np.concatenate([np.flatnonzero(~span), s[r]])  # tested pairs
    sure = np.full(len(odd), _SURE)
    cover = dict(poly_id=pid[c], cell=cells, xmin=xmin[c], ymin=ymin[c],
                 xmax=xmax[c], ymax=ymax[c], res=res_p[c], nb=nb[c], ms=ms[c])
    edges = dict(
        poly_id=np.concatenate([pid[p[t]], pid[op]]),
        band=np.concatenate([band[t], ob]),
        slab=np.concatenate([np.full(len(t) - len(r), -1),
                             np.where(ms[ps[r]] > 1, ka[r] + jr, -1), ok]),
        x1=np.concatenate([x[e[t]], sure]), y1=np.concatenate([y[e[t]], -sure]),
        x2=np.concatenate([x[e[t] + 1], sure]), y2=np.concatenate([y[e[t] + 1], sure]))
    return (res_p, pa.Table.from_pydict(cover, _COVER),
            pa.Table.from_pydict(edges, _EDGES))


def _pass_batch(batch: pa.RecordBatch, res, max_cells) -> pa.Table:
    """The polygon pass over one Arrow batch of (poly_id, WKB): cover
    rows then edge rows, in ``_PASS``.

    Single-ring little-endian polygons no wider than 180° are decoded
    in bulk over the batch's joined buffer: header fields gathered by
    fancy indexing, coordinates viewed as ``<f8``. Holes,
    multipolygons and wide rings take wkb.wkb_to_rings +
    predicates.unwrap_antimeridian. Both feed one ``_cover_edges``.
    """
    pid = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    geom = batch.column(1)
    otype = np.int64 if pa.types.is_large_binary(geom.type) else np.int32
    off = np.frombuffer(geom.buffers()[1], otype)[
        geom.offset:geom.offset + len(geom) + 1].astype(np.int64)
    data = (np.frombuffer(geom.buffers()[2], np.uint8)
            if geom.buffers()[2] is not None else np.zeros(0, np.uint8))
    start, size = off[:-1], np.diff(off)
    head = np.zeros((len(pid), 13), np.uint8)
    ok = size >= 13
    head[ok] = data[start[ok, None] + np.arange(13)]
    gtype, nrings, npts = head[:, 1:].copy().view("<u4").astype(np.int64).T
    ok &= ((head[:, 0] == 1) & (gtype == wkb.WKB_POLYGON) & (nrings == 1)
           & (npts > 0) & (size == 13 + 16 * npts))
    s = np.flatnonzero(ok)
    v, j = _runs(16 * npts[s])
    xy = data[start[s][v] + 13 + j].view("<f8").reshape(-1, 2)
    vs = np.cumsum(npts[s]) - npts[s]
    wide = np.maximum.reduceat(xy[:, 0], vs) - np.minimum.reduceat(xy[:, 0], vs) > 180.0
    ok[s[wide]] = False
    xy, s = xy[~np.repeat(wide, npts[s])], s[~wide]
    rest = np.flatnonzero(~ok)
    rings = [predicates.unwrap_antimeridian(wkb.wkb_to_rings(geom[i].as_py()))
             for i in rest]
    flat = [r for rs in rings for r in rs]
    _, cover, edges = _cover_edges(
        np.concatenate([pid[s], pid[rest]]),
        np.concatenate([xy] + flat) if flat else xy,
        np.concatenate([npts[s], [len(r) for r in flat]]).astype(np.int64),
        np.concatenate([np.ones(len(s), np.int64), [len(rs) for rs in rings]]).astype(np.int64),
        res, max_cells)
    return pa.concat_tables([cover, edges], promote_options="default")


def _polygon_pass(polys: DataFrame, res, max_cells, id_col, geom_col) -> DataFrame:
    """Cover and edge rows of a polygon DataFrame: one mapInArrow over
    (id cast to BIGINT, WKB). Nothing reaches the driver."""
    from pyspark.sql.pandas.types import from_arrow_schema

    def run(batches):
        for b in batches:
            yield from _pass_batch(b, res, max_cells).to_batches()

    return polys.select(F.col(id_col).cast("bigint"), geom_col).mapInArrow(
        run, from_arrow_schema(_PASS))


def _part(layer: DataFrame, schema: pa.Schema) -> DataFrame:
    """The cover (``_COVER``: cell set) or edge (``_EDGES``: band set)
    rows of a pass."""
    return layer.where(f"{schema.names[1]} IS NOT NULL").select(*schema.names)


# ---------------------------------------------------- driver index

class PolygonIndex:
    """Driver-side polygon set: rings + bbox + cell cover + edges.

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
            self.polys.append(dict(poly_id=int(p["poly_id"]), rings=rings,
                                   bbox=bbox, unwrapped=bbox[2] > 180.0))
        flat = [r for p in self.polys for r in p["rings"]]
        res_p, self._cover, self._edges = _cover_edges(
            [p["poly_id"] for p in self.polys],
            np.concatenate(flat) if flat else np.zeros((0, 2)),
            [len(r) for r in flat], [len(p["rings"]) for p in self.polys],
            res, max_cells)
        for p, r in zip(self.polys, res_p.tolist()):
            p["res"] = r

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
        >> polygons). For huge polygon layers use spatial_join_df,
        which runs the same polygon pass distributed.
        """
        rows = polygons.select(id_col, geom_col).collect()
        polys = []
        for r in rows:
            rings = predicates.unwrap_antimeridian(wkb.wkb_to_rings(bytes(r[geom_col])))
            polys.append(dict(poly_id=r[id_col], rings=rings))
        return cls(polys, res=res)

    # -------------------------------------------------------- tables
    def cover_rows(self) -> list:
        """(poly_id, cell, xmin, ymin, xmax, ymax) candidate rows;
        each polygon's cells are at ITS resolution (cell ids encode
        the res, so mixed-res rows coexist in one table)."""
        return list(zip(*(self._cover.column(i).to_pylist() for i in range(6))))

    # The frames below are local relations built from Arrow, not from
    # a Python list (an RDD-backed leaf), so their rows are part of the
    # plan: a checkpoint lineage fingerprint identifies them by content
    # and a restarted job that rebuilds them can resume.
    def cover_df(self, spark) -> DataFrame:
        return spark.createDataFrame(self._cover)

    def edges_df(self, spark) -> DataFrame:
        return spark.createDataFrame(self._edges)

    def ids_df(self, spark) -> DataFrame:
        return spark.createDataFrame(pa.table({"poly_id": pa.array(
            [p["poly_id"] for p in self.polys], pa.int64())}))

    def total_edges(self) -> int:
        return sum(len(r) - 1 for p in self.polys for r in p["rings"])

    def refine_expr(self, lon: str, lat: str, poly_id_col: str = "poly_id"):
        """Pure-codegen ray-cast refine: one CASE over per-polygon
        crossing expressions (predicates.raycast_sql — the SAME IEEE
        formula as the edge refine and the DuckDB oracle, so swapping
        refine paths is bit-exact). For dimension-sized layers the
        whole filter-refine pipeline stays in one WholeStageCodegen
        span; a giant CASE would blow past the JIT method limit, so
        larger layers take the edge refine.
        """
        lon, lat = f"`{lon}`", f"`{lat}`"  # names, not expressions
        if not self.polys:
            # zero WHEN clauses would render "CASE ELSE false END",
            # which the SQL parser rejects; an empty index matches
            # nothing
            return F.lit(False)
        whens = []
        for p in self.polys:
            x = lon
            if p["unwrapped"]:
                # same wrap rule as the edge refine: unwrapped polys
                # test western-hemisphere points at lon+360
                x = (f"(CASE WHEN {lon} < CAST(0.0 AS DOUBLE) "
                     f"THEN {lon} + CAST(360.0 AS DOUBLE) ELSE {lon} END)")
            cond = predicates.raycast_sql(x, lat, p["rings"])
            whens.append(f"WHEN {poly_id_col} = {p['poly_id']} THEN {cond}")
        return F.expr("CASE " + " ".join(whens) + " ELSE false END")


# ------------------------------------------------------ shared core

_HOWS = ("inner", "left", "right", "left_semi")


def _tag(points: DataFrame, pt_id_col: str | None, needed: bool):
    """(points, id column, temp columns). Without a natural key a temp
    monotonically_increasing_id is MATERIALIZED by an eager
    localCheckpoint, so no branch of the self-join sees other ids;
    unlike persist(), whose evicted partitions silently RECOMPUTE with
    fresh ids, a lost checkpoint partition fails the job loudly."""
    if pt_id_col is not None or not needed:
        return points, pt_id_col, []
    tagged = points.withColumn("__sj_pt_id", F.monotonically_increasing_id())
    return tagged.localCheckpoint(), "__sj_pt_id", ["__sj_pt_id"]


def _candidates(pts: DataFrame, cover: DataFrame, res_set: list | None,
                lon: str, lat: str) -> DataFrame:
    """Points ⋈ cover on one probe cell per resolution in use (cell
    ids encode the res, so one equi-join key serves every granularity;
    the explode fans out the PROBE side only), then the codegen bbox
    prefilter. ``res_set`` None takes them from the cover inside the
    action, by a scalar subquery (no join)."""
    if res_set is None:
        pts = pts.withColumn("_res", F.explode(cover.agg(F.collect_set("res")).scalar()))
        cell = quadcell.cell_col_at(lon, lat, "_res")
    elif len(res_set) == 1:
        cell = quadcell.cell_col(lon, lat, res_set[0])
    else:
        cell = F.explode(F.array(*[quadcell.cell_col(lon, lat, r) for r in res_set]))
    x, y = F.col(lon), F.col(lat)
    in_y = (y >= F.col("ymin")) & (y <= F.col("ymax"))
    return pts.withColumn("cell", cell).drop("_res").join(cover, "cell").where(
        (x >= F.col("xmin")) & (x <= F.col("xmax")) & in_y
        # antimeridian bbox: xmax>180 means the wrapped-west part is
        # also in range; re-check lon+360
        | ((F.col("xmax") > 180.0) & (x + 360.0 >= F.col("xmin"))
           & (x + 360.0 <= F.col("xmax")) & in_y))


def _edge_pairs(cand: DataFrame, edges: DataFrame, pt_id: str,
                lon: str, lat: str) -> DataFrame:
    """The edge refine: (pt_id, poly_id) pairs whose candidate crosses
    an odd number of its polygon's edges — the band's rows of slab -1
    and of the candidate's own slab (see ``_cover_edges``). Unwrapped
    antimeridian polygons test western points at lon+360."""
    x = F.when((F.col("xmax") > 180.0) & (F.col(lon) < 0.0),
               F.col(lon) + 360.0).otherwise(F.col(lon))
    band = _BIN_SQL.format(v=f"`{lat}`", lo="ymin", hi="ymax", n="nb")
    slab = _BIN_SQL.format(v="_x", lo="xmin", hi="xmax", n="ms")
    probe = cand.select(pt_id, "poly_id", x.alias("_x"), F.col(lat).alias("_y"),
                        F.expr(band).alias("band"), "xmin", "xmax", "ms")
    probe = probe.select(pt_id, "poly_id", "_x", "_y", "band", F.explode(F.expr(
        f"CASE WHEN ms > 1 THEN array(-1, {slab}) ELSE array(-1) END")).alias("slab"))
    return (probe.join(edges, ["poly_id", "band", "slab"]).where(F.expr(_CROSS_SQL))
            .groupBy(pt_id, "poly_id").count()
            .where("count % 2 = 1").select(pt_id, "poly_id"))


def _attach(points: DataFrame, how: str, pt_id: str | None, temp: list,
            ids: DataFrame | None, pairs: DataFrame | None = None,
            matched: DataFrame | None = None) -> DataFrame:
    """how-semantics over the refined matches: ``matched`` rows carry
    the payload (codegen refine), ``pairs`` only (pt_id, poly_id);
    ``ids`` lists every polygon, for how='right'. Non-inner hows join
    back on the ONE id column (the reference's temp-unique-id trick,
    vectorutils/__init__.py:1585), never on payload columns (shuffle
    keys of html/text, fan-out of duplicate rows, NULLs dropping
    matched rows in a null-unsafe equi-join)."""
    if matched is None and how in ("inner", "right"):
        matched = points.join(pairs, pt_id)
    if pairs is None and how != "inner":
        pairs = matched.select(pt_id, "poly_id")
    if how == "inner":
        out = matched
    elif how == "left_semi":
        # matched ids only — dedupes polygon fan-out; LEFT SEMI keeps
        # the probe side unshuffled wide (only the id is a join key)
        out = points.join(pairs.select(pt_id).dropDuplicates([pt_id]),
                          pt_id, "left_semi")
    elif how == "left":
        out = points.join(pairs, pt_id, "left")
    else:  # right: every polygon id, matched points or nulls
        out = ids.join(matched, "poly_id", "left")
    return out.drop(*temp)


# ------------------------------------------------------ entry points

def spatial_join(points: DataFrame, index: PolygonIndex, how: str = "inner",
                 lon: str = "lon", lat: str = "lat",
                 pt_id_col: str | None = None) -> DataFrame:
    """Join points to the polygons containing them.

    how='inner' → matched (point, poly) pairs (a point in k polygons
    yields k rows — sjoin fan-out semantics); how='left' → unmatched
    points kept with null poly_id; how='right' → unmatched POLYGONS
    kept with null point columns (perform_spatial_join's right);
    how='left_semi' → just the matched points, deduped
    (spatial_select_gp semantics, vectorutils/__init__.py:1585:
    tmp unique id + drop_duplicates).

    The refine follows the index: a codegen CASE over the literal
    rings up to ``_CODEGEN_MAX_EDGES`` total edges, the edge join
    above. Both evaluate the identical IEEE crossing formula.

    pt_id_col: pass the layer's natural unique key (url, pt_id) — the
    robust zero-cost path. Without one, the hows that join back (and
    the edge refine, which counts per point) tag the points with a
    materialized temp id (see ``_tag``).
    """
    if how not in _HOWS:
        raise ValueError(f"how must be one of {_HOWS}, got {how!r}")
    join = _codegen_join if index.total_edges() <= _CODEGEN_MAX_EDGES else _edge_join
    return join(points, index, how, lon, lat, pt_id_col)


def _codegen_join(points: DataFrame, index: PolygonIndex, how: str = "inner",
                  lon: str = "lon", lat: str = "lat", pt_id_col: str | None = None):
    """spatial_join refined by ``PolygonIndex.refine_expr``: candidates
    keep their payload, so only the hows that join back need an id."""
    points, pt_id, temp = _tag(points, pt_id_col, how != "inner")
    spark = points.sparkSession
    matched = (_candidates(points, index.cover_df(spark), index.res_set, lon, lat)
               .where(index.refine_expr(lon, lat)).drop(*_COVER.names[1:]))
    ids = index.ids_df(spark) if how == "right" else None
    return _attach(points, how, pt_id, temp, ids, matched=matched)


def _edge_join(points: DataFrame, index: PolygonIndex, how: str = "inner",
               lon: str = "lon", lat: str = "lat", pt_id_col: str | None = None):
    """spatial_join refined by the edge join (``_edge_pairs``): slim
    (pt_id, lon, lat) candidates, matches joined back on the id."""
    points, pt_id, temp = _tag(points, pt_id_col, True)
    spark = points.sparkSession
    cand = _candidates(points.select(pt_id, lon, lat), index.cover_df(spark),
                       index.res_set, lon, lat)
    ids = index.ids_df(spark) if how == "right" else None
    return _attach(points, how, pt_id, temp, ids, pairs=_edge_pairs(
        cand, index.edges_df(spark), pt_id, lon, lat))


def poly_cover_df(polys: DataFrame, res: int | None = None,
                  max_cells: int = 8, id_col: str = "poly_id",
                  geom_col: str = "geometry") -> DataFrame:
    """DISTRIBUTED cell cover of a polygon DataFrame — the large-layer
    twin of PolygonIndex.cover_rows: (poly_id, cell, xmin, ymin, xmax,
    ymax, res), from the same polygon pass spatial_join_df runs.

    ``max_cells`` defaults to 8 here (vs PolygonIndex's 256): on this
    path the cover may be a SHUFFLED table, so its row count is the
    dominant cost. The finest res under 256 put ~58 cells on every
    city-block polygon (5.8M cover rows for a 100k layer, measured);
    at ~4-8 cells the cover shrinks ~10x while the candidate set only
    grows by the bbox overhang of one coarser cell — removed by the
    codegen bbox prefilter before the refine. xmax > 180 signals an
    unwrapped antimeridian bbox (same convention as PolygonIndex)."""
    layer = _polygon_pass(polys, res, max_cells, id_col, geom_col)
    return _part(layer, _COVER).drop("nb", "ms")


def spatial_join_df(points: DataFrame, polys: DataFrame,
                    how: str = "inner", lon: str = "lon", lat: str = "lat",
                    res: int | None = None, max_cells: int = 8,
                    id_col: str = "poly_id", geom_col: str = "geometry",
                    pt_id_col: str | None = None,
                    with_payload: bool = True) -> DataFrame:
    """Spatial join against a polygon DataFrame TOO LARGE TO COLLECT —
    the DataFrame-native path the reference's sjoin implies for
    arbitrary-size layers (vectorattrs/__init__.py:1301-1303).

    No driver collect anywhere:
    1. the polygon pass (one mapInArrow) emits the cover and the edge
       table into a lazy localCheckpoint (no CacheManager entry): it
       runs once, inside the caller's first action, and both branches
       read its blocks. Building runs no job unless the polygon plan
       holds an exchange (a repartition), whose stage it then runs;
    2. candidates = points ⋈ cover on the cell key + codegen bbox
       prefilter (the exact filter spatial_join uses), probing
       ``[res]`` or the resolutions the cover uses (``_candidates``);
    3. the edge refine joins each candidate to its polygon's edges in
       its band and slab and keeps odd crossing counts — no Python
       sees a candidate;
    4. matched pairs are slim (pt_id, poly_id); payload joins back
       once on the id key (the spatial_join pt_id discipline).

    with_payload=False (inner join + natural pt_id_col only) returns
    the slim (pt_id, poly_id) pair frame directly: for callers that
    project exactly those columns, the payload join is a
    row-preserving identity (every matched id comes from points and
    the join key is unique there) and pure cost.

    A polygon frame Spark cannot size (an RDD, a Python-list
    createDataFrame) is never broadcast at planning time, so its edge
    join is a sort-merge join; AQE keeps it when most partitions of
    the polygon stage are empty (a small layer). Read such a layer
    from a file, or persist and count it, to size it.
    """
    if how not in _HOWS:
        raise ValueError(f"how must be one of {_HOWS}, got {how!r}")
    if not with_payload and (how != "inner" or pt_id_col is None):
        raise ValueError("with_payload=False requires how='inner' and a "
                         "natural pt_id_col")
    from ..session import spread_scan

    points, pt_id, temp = _tag(points, pt_id_col, True)
    # lazy, not a plain plan: each branch's filter and projection are
    # pushed below any shared exchange, so without the checkpoint the
    # pass would run once per branch
    layer = _polygon_pass(polys, res, max_cells, id_col, geom_col).localCheckpoint(eager=False)
    # spread the slim point side: the cell-assign/explode stage feeds
    # the candidate joins, and a few-row-group source would run them
    # in 1-2 tasks. Hash-spread on the id key: no sort inside the scan
    # task, and the per-point count needs no further shuffle
    slim = spread_scan(points.select(pt_id, lon, lat), by=pt_id)
    res_set = None if res is None else [res]
    pairs = _edge_pairs(_candidates(slim, _part(layer, _COVER), res_set, lon, lat),
                        _part(layer, _EDGES), pt_id, lon, lat)
    if not with_payload:
        return pairs
    ids = polys.select(F.col(id_col).alias("poly_id")) if how == "right" else None
    return _attach(points, how, pt_id, temp, ids, pairs=pairs)


def count_points_per_polygon(points: DataFrame, index: PolygonIndex,
                             lon: str = "lon", lat: str = "lat") -> DataFrame:
    """count_pt_intersects semantics
    (vectorattrs/__init__.py:1022-1103): per-polygon count of
    intersecting points; polygons with no points get NULL (the pandas
    left-merge leaves NaN, which the reference writes as missing)."""
    matched = spatial_join(points, index, how="inner", lon=lon, lat=lat)
    counts = matched.groupBy("poly_id").agg(F.count("*").alias("n_points"))
    return index.ids_df(points.sparkSession).join(counts, "poly_id", "left")


def annotate_selection(points: DataFrame, index: PolygonIndex,
                       flag_col: str = "sel", lon: str = "lon",
                       lat: str = "lat",
                       pt_id_col: str | None = None) -> DataFrame:
    """annotate_vec_selection semantics
    (vectorattrs/__init__.py:1158): boolean flag = point intersects
    any polygon. Implemented as an id-keyed probe (never the payload
    columns — see ``_attach``; pass pt_id_col when the layer has a
    natural unique key, else a materialized temp id)."""
    tagged, pt_id, temp = _tag(points, pt_id_col, True)
    hit_ids = (
        spatial_join(tagged, index, how="inner", lon=lon, lat=lat,
                     pt_id_col=pt_id)
        .select(pt_id).dropDuplicates([pt_id])
        .withColumn(flag_col, F.lit(True))
    )
    return (
        tagged.join(hit_ids, pt_id, "left")
        .withColumn(flag_col, F.coalesce(F.col(flag_col), F.lit(False)))
        .drop(*temp)
    )
