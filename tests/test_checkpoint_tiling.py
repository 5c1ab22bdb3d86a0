"""Checkpoint manifests (resume semantics) + tiling/salting."""

import itertools
import os

import pytest
from pyspark.sql import functions as F

from rsgislib_spark.cells import quadcell
from rsgislib_spark.data import pages
from rsgislib_spark.functions.geoparse import geoparse
from rsgislib_spark.operators import tiling
from rsgislib_spark.plans import checkpoint


@pytest.fixture(scope="module")
def assigned(spark):
    df = tiling.assign_tiles(
        geoparse(pages.pages_df(spark, 2000)).where("lon IS NOT NULL"))
    df.persist(); df.count()
    return df


def test_assign_tiles_columns(assigned):
    for r in (5, 6, 7, 8, 9):
        assert f"cell_r{r}" in assigned.columns
    assert "s2_cell" in assigned.columns


def test_tile_name_roundtrip(spark):
    df = spark.createDataFrame(
        [(quadcell.pack(5, 3, 7),)], "cell BIGINT"
    ).select(tiling.tile_name("cell").alias("name"))
    assert df.collect()[0].name == "r5x3y7"


def test_salt_splits_hot_cells(assigned):
    salted = tiling.salt_hot_cells(assigned, "cell_r5", threshold_rows=100,
                                   salt_buckets=8)
    per_key = salted.groupBy("cell_salted").count()
    hot = tiling.hot_cells(assigned, "cell_r5", 100).collect()
    assert len(hot) >= 1  # skew fixture guarantees hot cells
    # hot cells spread across >1 salted key; max salted-key size shrinks
    max_before = max(r.n_rows for r in hot)
    max_after = per_key.agg(F.max("count")).collect()[0][0]
    assert max_after < max_before


def test_salt_precomputed_hot_list_matches_inline(assigned):
    """hot= (catalog-stat path, avoids re-executing the upstream
    pipeline for detection) produces the identical salted keys as
    inline detection at the same threshold."""
    inline = tiling.salt_hot_cells(assigned, "cell_r5", threshold_rows=100)
    hot = tiling.hot_cells(assigned, "cell_r5", 100).localCheckpoint()
    pre = tiling.salt_hot_cells(assigned, "cell_r5", hot=hot)
    a = sorted((r.url, r.cell_salted) for r in
               inline.select("url", "cell_salted").collect())
    b = sorted((r.url, r.cell_salted) for r in
               pre.select("url", "cell_salted").collect())
    assert a == b


@pytest.mark.parametrize("threshold", [None, 100])
def test_repartition_by_cell_colocates_each_key(assigned, threshold):
    """Every row is kept, and each partition key (the cell, or the
    salted cell past the threshold) lands in one partition."""
    out = tiling.repartition_by_cell(assigned, "cell_r5", n_partitions=6,
                                     threshold_rows=threshold)
    key = "cell_r5" if threshold is None else "cell_salted"
    got = out.select("url", key, F.spark_partition_id().alias("p")).toPandas()
    want = assigned.select("url").toPandas()
    assert out.rdd.getNumPartitions() == 6
    assert sorted(got["url"]) == sorted(want["url"])
    assert (got.groupby(key)["p"].nunique() == 1).all()
    if threshold is not None:  # a hot cell spans several salted keys
        cells = got[key].str.split("_").str[0]
        assert got.groupby(cells)[key].nunique().max() > 1


def test_halo_explode_contains_neighbours(spark):
    df = spark.createDataFrame([(quadcell.pack(5, 10, 10),)], "cell BIGINT")
    out = tiling.halo_explode(df, "cell", res=5, k=1).collect()
    tiles = {r.tile_cell for r in out}
    assert quadcell.pack(5, 10, 10) in tiles
    assert quadcell.pack(5, 9, 10) in tiles and quadcell.pack(5, 11, 11) in tiles
    assert len(tiles) == 9
    assert all(r.home_cell == quadcell.pack(5, 10, 10) for r in out)


def test_checkpointed_write_resume(spark, assigned, tmp_path):
    path = str(tmp_path / "tiles")
    df = assigned.select("url", "lon", "lat", "cell_r5")
    r1 = checkpoint.checkpointed_write(df, path, "cell_r5")
    assert r1["written"] > 0 and r1["skipped"] == 0

    # identical rerun: everything skipped, nothing recomputed
    r2 = checkpoint.checkpointed_write(df, path, "cell_r5")
    assert r2["written"] == 0
    assert r2["skipped"] == r1["written"]

    # the data on disk is complete and readable
    back = spark.read.parquet(path)
    assert back.count() == df.count()

    # changed lineage (different plan) -> full recompute
    df2 = df.withColumn("lon", F.col("lon") + 0.0)
    r3 = checkpoint.checkpointed_write(df2, path, "cell_r5")
    assert r3["written"] == r1["written"]
    assert r3["lineage"] != r1["lineage"]
    assert spark.read.parquet(path).count() == df.count()  # idempotent overwrite


def test_manifest_contents(spark, assigned, tmp_path):
    path = str(tmp_path / "tiles2")
    df = assigned.select("url", "cell_r5")
    r = checkpoint.checkpointed_write(df, path, "cell_r5")
    mf = checkpoint.read_manifest(path)
    assert len(mf) == r["written"]
    assert sum(e["rows"] for e in mf.values()) == df.count()
    assert os.path.exists(os.path.join(path, checkpoint.MANIFEST_NAME))


def test_checkpointed_write_prunes_stale_partitions(spark, assigned, tmp_path):
    """A plan change that no longer produces some tiles must remove
    those partitions AND their manifest entries — reads of the output
    path never mix tiles from a superseded lineage."""
    path = str(tmp_path / "tiles3")
    df = assigned.select("url", "lon", "lat", "cell_r5")
    checkpoint.checkpointed_write(df, path, "cell_r5")
    all_tiles = set(checkpoint.read_manifest(path))

    keep = sorted(all_tiles)[: len(all_tiles) // 2]
    df2 = df.where(F.col("cell_r5").isin([int(t) for t in keep]))
    r = checkpoint.checkpointed_write(df2, path, "cell_r5",
                                      prune_stale=True)
    assert r["pruned"] == len(all_tiles) - len(keep)
    mf = checkpoint.read_manifest(path)
    assert set(mf) == set(keep)
    back = spark.read.parquet(path)
    assert back.count() == df2.count()
    assert {r[0] for r in back.select("cell_r5").distinct().collect()} \
        == set(keep)
    # manifest counts equal the written data per tile
    per_tile = {r[0]: r[1] for r in
                back.groupBy("cell_r5").count().collect()}
    assert {t: e["rows"] for t, e in mf.items()} == per_tile


def test_prune_default_off_keeps_old_subsets(spark, assigned, tmp_path):
    """Default (prune_stale=False): an append-style run writing a
    different tile subset must NOT delete previously written tiles —
    a benign lineage change cannot destroy data."""
    path = str(tmp_path / "tiles4")
    df = assigned.select("url", "lon", "lat", "cell_r5")
    checkpoint.checkpointed_write(df, path, "cell_r5")
    all_tiles = set(checkpoint.read_manifest(path))

    keep = sorted(all_tiles)[: len(all_tiles) // 2]
    df2 = df.where(F.col("cell_r5").isin([int(t) for t in keep]))
    r = checkpoint.checkpointed_write(df2, path, "cell_r5")
    assert r["pruned"] == 0
    # every original tile still on disk AND in the manifest
    assert set(checkpoint.read_manifest(path)) == all_tiles
    back_tiles = {r[0] for r in spark.read.parquet(path)
                  .select("cell_r5").distinct().collect()}
    assert back_tiles == {int(t) for t in all_tiles}


def test_prune_never_touches_unrecorded_partitions(spark, assigned, tmp_path):
    """prune_stale=True deletes only MANIFEST-KNOWN stale tiles;
    partitions this writer never recorded (foreign data) survive."""
    path = str(tmp_path / "tiles5")
    df = assigned.select("url", "lon", "lat", "cell_r5")
    checkpoint.checkpointed_write(df, path, "cell_r5")
    all_tiles = set(checkpoint.read_manifest(path))
    foreign = os.path.join(path, "cell_r5=987654321")
    os.makedirs(foreign)
    with open(os.path.join(foreign, "marker"), "w") as f:
        f.write("foreign")

    keep = sorted(all_tiles)[: len(all_tiles) // 2]
    df2 = df.where(F.col("cell_r5").isin([int(t) for t in keep]))
    r = checkpoint.checkpointed_write(df2, path, "cell_r5",
                                      prune_stale=True)
    assert r["pruned"] == len(all_tiles) - len(keep)
    assert os.path.exists(os.path.join(foreign, "marker"))


# ---------------------------------------------------- resume over inputs

@pytest.fixture(scope="module")
def pages_src(spark, tmp_path_factory):
    """A pages parquet input in two files."""
    src = str(tmp_path_factory.mktemp("pages") / "pages")
    pages.pages_df(spark, 2000).coalesce(2).write.parquet(src)
    return src


def _tiles_from(spark, src):
    """The tile frame built from scratch over ``src``, as a restarted
    job builds it (fresh exprIds, fresh file listing)."""
    return tiling.assign_tiles(
        geoparse(spark.read.parquet(src)).where("lon IS NOT NULL")
    ).select("url", "lon", "lat", "cell_r5")


_groups = itertools.count()


def _job_ids_during(spark, fn):
    """(fn(), ids of the Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"checkpoint_call_{next(_groups)}"
    sc.setJobGroup(group, "checkpointed_write call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _jobs_during(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    out, ids = _job_ids_during(spark, fn)
    return out, len(ids)


def test_resume_rebuilt_plan_skips_with_zero_jobs(spark, pages_src, tmp_path):
    """A restarted job rebuilds its plan from scratch over the same
    parquet input: every tile is skipped and no Spark job runs."""
    path = str(tmp_path / "tiles")
    df = _tiles_from(spark, pages_src)
    r1, jobs1 = _jobs_during(spark, lambda: checkpoint.checkpointed_write(
        df, path, "cell_r5"))
    assert r1["written"] > 0 and jobs1 > 0
    # (reading the parquet schema runs a job, so build outside the call)
    rebuilt = _tiles_from(spark, pages_src)
    r2, jobs2 = _jobs_during(spark, lambda: checkpoint.checkpointed_write(
        rebuilt, path, "cell_r5"))
    assert jobs2 == 0
    assert (r2["written"], r2["skipped"], r2["rows"]) == (0, r1["written"], 0)
    assert r2["lineage"] == r1["lineage"]


def test_touched_input_recomputes_every_tile(spark, pages_src, tmp_path):
    """A new modification time on one input file is a new input: the
    next call recomputes every tile under a new lineage."""
    import shutil

    src = str(tmp_path / "pages")
    shutil.copytree(pages_src, src)
    path = str(tmp_path / "tiles")
    r1 = checkpoint.checkpointed_write(_tiles_from(spark, src), path, "cell_r5")
    part = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[0]
    st = os.stat(os.path.join(src, part))
    os.utime(os.path.join(src, part), (st.st_atime, st.st_mtime + 10))
    r2 = checkpoint.checkpointed_write(_tiles_from(spark, src), path, "cell_r5")
    assert r2["lineage"] != r1["lineage"]
    assert (r2["written"], r2["skipped"]) == (r1["written"], 0)
    assert r2["rows"] == r1["rows"]


def test_fingerprint_separates_local_frames(spark):
    """The canonical plan of a local frame prints no rows: frames of one
    schema and different rows must still fingerprint apart. Local rows
    (LocalRelation) are hashed, so equal rows fingerprint equal; an
    RDD-backed frame is identified per object."""
    import pandas as pd

    schema = "cell_r5 BIGINT, v STRING"
    a = spark.createDataFrame([(1, "a")], schema)
    b = spark.createDataFrame([(1, "b")], schema)
    fp = checkpoint.lineage_fingerprint
    assert fp(a) != fp(b)
    assert fp(a) != fp(spark.createDataFrame([(1, "a")], schema))
    assert fp(a.where("v = 'a'")) == fp(a.where("v = 'a'"))
    pa = pd.DataFrame({"cell_r5": [1], "v": ["a"]})
    pb = pd.DataFrame({"cell_r5": [1], "v": ["b"]})
    assert fp(spark.createDataFrame(pa)) != fp(spark.createDataFrame(pb))
    assert fp(spark.createDataFrame(pa)) == fp(spark.createDataFrame(pa))


def test_fingerprint_reads_the_whole_plan(spark):
    """The plan is printed without Spark's 25-field cap: frames that
    differ only past it fingerprint apart, and the session's print
    settings are left as they were."""
    def wide(last):
        return spark.range(3).select(
            *[(F.col("id") + i).alias(f"c{i}") for i in range(30)],
            F.lit(last).alias("z"))

    fp = checkpoint.lineage_fingerprint
    assert fp(wide(1)) != fp(wide(2))
    assert fp(wide(1)) == fp(wide(1))
    assert spark.conf.get("spark.sql.debug.maxToStringFields", None) is None


def test_spatial_join_frame_fingerprints_equal_when_rebuilt(spark):
    """The polygon cover is a local relation identified by its rows, so
    a rebuilt spatial-join frame keeps its lineage and can resume."""
    from rsgislib_spark.data import fixtures
    from rsgislib_spark.operators import spatial_join as sj

    def build():
        pts = spark.range(50).selectExpr(
            "id AS pt_id", "CAST(id AS DOUBLE) - 25 AS lon",
            "CAST(id AS DOUBLE) AS lat")
        return sj.spatial_join(pts, sj.PolygonIndex.from_fixture(
            fixtures.POLYGONS), how="left", pt_id_col="pt_id")

    fp = checkpoint.lineage_fingerprint
    assert fp(build()) == fp(build())


def test_overwritten_tile_falls_back_to_anti_join(spark, pages_src, tmp_path):
    """A tile another lineage overwrote is no longer this lineage's: the
    next call rewrites exactly that tile and skips the rest."""
    path = str(tmp_path / "tiles")
    df = _tiles_from(spark, pages_src)
    r1 = checkpoint.checkpointed_write(df, path, "cell_r5")
    tile = sorted(checkpoint.read_manifest(path))[0]
    other = df.where(F.col("cell_r5") == tile).withColumn(
        "lon", F.col("lon") + 0.0)
    assert checkpoint.checkpointed_write(other, path, "cell_r5")["written"] == 1

    r3 = checkpoint.checkpointed_write(_tiles_from(spark, pages_src), path,
                                       "cell_r5")
    assert (r3["written"], r3["skipped"]) == (1, r1["written"] - 1)
    assert r3["rows"] == checkpoint.read_manifest(path)[tile]["rows"]
    assert {e["lineage"] for e in checkpoint.read_manifest(path).values()} \
        == {r1["lineage"]}
    assert spark.read.parquet(path).count() == r1["rows"]
    # the lineage's tile set is whole again: the next resume runs no job
    rebuilt = _tiles_from(spark, pages_src)
    r4, jobs = _jobs_during(spark, lambda: checkpoint.checkpointed_write(
        rebuilt, path, "cell_r5"))
    assert (r4["written"], jobs) == (0, 0)


def test_prune_stale_on_full_skip(spark, pages_src, tmp_path):
    """prune_stale=True still removes tiles a superseded lineage left
    behind when the call itself skips everything without a job."""
    path = str(tmp_path / "tiles")
    df = _tiles_from(spark, pages_src)
    checkpoint.checkpointed_write(df, path, "cell_r5")
    all_tiles = set(checkpoint.read_manifest(path))
    keep = sorted(all_tiles)[: len(all_tiles) // 2]
    checkpoint.checkpointed_write(
        df.where(F.col("cell_r5").isin(keep)), path, "cell_r5")
    assert set(checkpoint.read_manifest(path)) == all_tiles

    rebuilt = _tiles_from(spark, pages_src).where(F.col("cell_r5").isin(keep))
    r, jobs = _jobs_during(spark, lambda: checkpoint.checkpointed_write(
        rebuilt, path, "cell_r5", prune_stale=True))
    assert jobs == 0
    assert (r["written"], r["skipped"]) == (0, len(keep))
    assert r["pruned"] == len(all_tiles) - len(keep)
    assert set(checkpoint.read_manifest(path)) == set(keep)
    assert {r[0] for r in spark.read.parquet(path)
            .select("cell_r5").distinct().collect()} == set(keep)


def test_fresh_write_one_file_per_tile(spark, assigned, tmp_path):
    path = str(tmp_path / "tiles")
    df = assigned.select("url", "lon", "lat", "cell_r5")
    r = checkpoint.checkpointed_write(df, path, "cell_r5")
    parts = [d for d in os.listdir(path) if d.startswith("cell_r5=")]
    assert len(parts) == r["written"]
    for d in parts:
        files = [f for f in os.listdir(os.path.join(path, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, d


def test_fresh_write_runs_only_the_write(spark, pages_src, tmp_path):
    """A fresh call runs no more jobs than writing the same frame,
    repartitioned by tile, straight through the catalog; it persists
    nothing, and its manifest counts are the rows in each tile."""
    from rsgislib_spark.sources import catalog

    df = _tiles_from(spark, pages_src)
    plain = df.repartition(spark.sparkContext.defaultParallelism, "cell_r5")
    _, write_jobs = _jobs_during(spark, lambda: catalog.write_partitioned(
        plain, str(tmp_path / "plain"), "cell_r5",
        mode="overwrite-partitions"))
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs())
    path = str(tmp_path / "tiles")
    r, jobs = _jobs_during(spark, lambda: checkpoint.checkpointed_write(
        df, path, "cell_r5"))
    assert r["written"] > 0
    assert jobs <= write_jobs
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) == persisted
    per_tile = {t: n for t, n in spark.read.parquet(path)
                .groupBy("cell_r5").count().collect()}
    assert {t: e["rows"] for t, e in checkpoint.read_manifest(path).items()} \
        == per_tile


@pytest.mark.parametrize("where", ["false", "lon > 1000"])
def test_empty_frame_writes_no_tile(spark, pages_src, tmp_path, where):
    """An empty tile frame, empty by plan or only at run time, writes no
    tile directory and records no manifest entry."""
    path = str(tmp_path / "tiles")
    r = checkpoint.checkpointed_write(
        _tiles_from(spark, pages_src).where(where), path, "cell_r5")
    assert (r["written"], r["rows"]) == (0, 0)
    assert not [d for d in os.listdir(path) if d.startswith("cell_r5=")]
    assert checkpoint.read_manifest(path) == {}


def test_checkpointed_write_rejects_table_identifier(spark, assigned,
                                                     tmp_path, monkeypatch):
    """The manifest is a file next to the tiles, so a catalog table is
    refused up front: no job runs and no directory named after the
    table appears."""
    monkeypatch.chdir(tmp_path)
    df = assigned.select("url", "cell_r5")

    def reject():
        with pytest.raises(ValueError, match="filesystem path"):
            checkpoint.checkpointed_write(df, "local.db.tiles", "cell_r5")

    _, jobs = _jobs_during(spark, reject)
    assert jobs == 0
    assert os.listdir(tmp_path) == []


# ------------------------------------------------------ catalog backend

def test_readback_lists_tiles_one_task_per_core(spark, tmp_path):
    """Past 32 tile directories Spark lists them in a job of its own;
    the session caps that job, and every stage of the read, at one
    task per core (one task per directory, 40 here, uncapped)."""
    from rsgislib_spark.sources import catalog

    path = str(tmp_path / "tiles")
    df = spark.range(400).select((F.col("id") % 40).alias("cell"), "id")
    catalog.write_partitioned(df.repartition("cell"), path, "cell")
    counts, jobs = _job_ids_during(spark, lambda: dict(
        catalog.read_partitioned(spark, path).groupBy("cell").count()
        .collect()))
    assert counts == {c: 10 for c in range(40)}
    tracker = spark.sparkContext.statusTracker()
    tasks = [tracker.getStageInfo(s).numTasks
             for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert tasks and max(tasks) <= spark.sparkContext.defaultParallelism


def test_catalog_dispatch_parquet_roundtrip(spark, assigned, tmp_path):
    """Path target → parquet backend; dynamic overwrite keeps re-runs
    idempotent per tile (same rows back)."""
    from rsgislib_spark.sources import catalog

    path = str(tmp_path / "cat_tiles")
    df = assigned.select("url", "lon", "lat", "cell_r5")
    assert catalog.write_partitioned(df, path, "cell_r5") == "parquet"
    # idempotent re-run
    assert catalog.write_partitioned(df, path, "cell_r5") == "parquet"
    back = catalog.read_partitioned(spark, path)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_catalog_identifier_requires_iceberg(spark, assigned):
    """Catalog identifiers demand the Iceberg runtime; without the
    jar (this container) the dispatch fails loudly with guidance, it
    never silently writes a path named 'db.table'."""
    from rsgislib_spark.sources import catalog

    assert catalog.is_table_identifier("local.db.tiles")
    assert not catalog.is_table_identifier("/tmp/db.table/x")
    if catalog.iceberg_available(spark):
        pytest.skip("iceberg present — dispatch would succeed")
    df = assigned.select("url", "cell_r5")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        catalog.write_partitioned(df, "local.db.tiles", "cell_r5")


def test_catalog_path_vs_identifier_classification():
    """Filenames and paths must never route to the catalog branch."""
    from rsgislib_spark.sources import catalog

    assert catalog.is_table_identifier("local.db.tiles")
    assert catalog.is_table_identifier("prod.tiles")
    for path in ["/tmp/db.table/x", "out.parquet", "data.ORC",
                 "./rel.dir", "s3://bucket/x", "C:\\data\\t",
                 "plain_name", "warehouse.db"]:
        assert not catalog.is_table_identifier(path), path


def test_catalog_overwrite_static_vs_partitions(spark, tmp_path):
    """mode='overwrite' is a FULL-table replace (stale partitions
    gone — matches the Iceberg branch's createOrReplace), while
    'overwrite-partitions' replaces only partitions present in df."""
    from rsgislib_spark.sources import catalog

    path = str(tmp_path / "ow")
    full = spark.range(8).selectExpr("id", "id % 4 AS cell")
    catalog.write_partitioned(full, path, "cell")
    two = spark.range(4).selectExpr("id", "id % 2 AS cell")
    # dynamic: cells 2,3 survive
    catalog.write_partitioned(two, path, "cell", mode="overwrite-partitions")
    back = catalog.read_partitioned(spark, path)
    assert set(r["cell"] for r in back.select("cell").distinct().collect()) \
        == {0, 1, 2, 3}
    # static: cells 2,3 are gone
    catalog.write_partitioned(two, path, "cell", mode="overwrite")
    back = catalog.read_partitioned(spark, path)
    assert set(r["cell"] for r in back.select("cell").distinct().collect()) \
        == {0, 1}


def test_catalog_write_mode_error_is_not_coerced(spark, tmp_path):
    """mode='error' must raise on an existing target, never silently
    overwrite it."""
    import pytest as _pytest
    from rsgislib_spark.sources import catalog

    df = spark.range(4).selectExpr("id", "id % 2 AS cell")
    path = str(tmp_path / "modes.parquet")
    catalog.write_partitioned(df, path, "cell")
    with _pytest.raises(Exception):
        catalog.write_partitioned(df, path, "cell", mode="error")
    # and the original data survived
    assert catalog.read_partitioned(spark, path).count() == 4
