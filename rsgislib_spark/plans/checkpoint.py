"""Per-partition checkpoint manifests: lineage + row counts +
skip-if-committed resume.

The reference's restartability is implicit in its file-per-tile
layout: create_tiles_multi_core writes independent tile files
(imageutils/__init__.py:2813) and calc_dist_to_img_vals_tiled globs
already-finished tiles before dispatching work
(imagecalc/__init__.py:380-396 — the glob-and-skip is the resume).
We make that explicit: every write records a manifest row per tile
(cell id, row count, lineage fingerprint, size of the run's tile set,
wall time), and a re-run skips the tiles whose entry carries its own
fingerprint.

The fingerprint is what makes a restart resume. It hashes the
analyzed plan's text with its exprIds renumbered (so a plan rebuilt
from scratch by a restarted job, in the same driver or a new one,
hashes the same) plus the identity of every leaf the text does not
print: the status (path, length, modification time) of every input
file as the relation listed it, the rows of a local relation, and a
per-object identity for leaves it cannot describe (a rebuilt frame of
that kind recomputes rather than risk skipping stale tiles).

A resume of an unchanged plan over unchanged inputs is a driver-only
no-op: when every tile the manifest records under the fingerprint is
still there, and their number equals the tile-set size the writing
run recorded, no Spark job runs. Otherwise the missing tiles are found
with a broadcast anti-join and only they are recomputed; the rest of
the output is kept by dynamic partition overwrite (idempotent).

The write is the only materialization: an Observation on the written
frame reports the tiles it wrote, with the write's own job, and each
tile's row count is the sum of the parquet footers in its directory,
which dynamic partition overwrite replaced whole. The manifest counts
are the written rows by construction; nothing is cached or counted.

Manifests are plain JSON-lines next to the output (an Iceberg
deployment would put this in snapshot metadata; the JSONL keeps the
sandbox dependency-free while exercising identical logic), so the
output must be a filesystem path, not a catalog table.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, Observation, functions as F

from ..sources import catalog

MANIFEST_NAME = "_rsgis_manifest.jsonl"


def lineage_fingerprint(df: DataFrame, extra: str = "") -> str:
    """Fingerprint of what ``df`` computes: its analyzed plan, the
    identity of every leaf, the engine version and a caller tag.

    The plan text, exprIds renumbered (``_plan_text``), is the same for
    two independently built frames of one plan, but it prints a file
    source without its path and a local relation without its rows, so
    each leaf adds its identity (subquery leaves included):

    - file relation: every input file's path, length and modification
      time, from the relation's own file listing (no request per
      file; remote stores work);
    - ``LocalRelation``: its rows;
    - ``LogicalRDD``: the RDD id; any other leaf kind: its exprId-
      bearing text. Both are per object, so a rebuilt frame of such a
      leaf gets a new fingerprint and recomputes;
    - ``Range`` / ``OneRowRelation``: nothing, the plan text is complete.

    Python UDF bodies are not in the plan text, and a string literal
    that reads like an exprId (``'x#12'``) is renumbered with them;
    pass a version of such inputs in ``extra`` to recompute after
    changing one."""
    from .. import __version__

    spark = df.sparkSession
    analyzed = df._jdf.queryExecution().analyzed()
    h = hashlib.sha256()
    for part in (_plan_text(spark, analyzed), __version__, extra):
        h.update(part.encode() + b"\0")
    subs = analyzed.subqueriesAll()
    for plan in [analyzed] + [subs.apply(i) for i in range(subs.size())]:
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            h.update(_leaf_identity(leaves.apply(i)).encode() + b"\0")
    return h.hexdigest()[:16]


_EXPR_ID = re.compile(r"#(\d+)")
_MAX_FIELDS = "spark.sql.debug.maxToStringFields"
_MAX_PLAN_CHARS = "spark.sql.maxPlanStringLength"


def _plan_text(spark, plan) -> str:
    """``plan`` printed in full (no "... more fields", no length cap),
    its exprIds renumbered in order of first appearance.

    Not ``canonicalized()``: that orders commutative operands by
    hashCode, and some of those hash JVM object identities, so the
    canonical text of one plan differs between two driver processes
    and a restarted job could never resume."""
    saved = {k: spark.conf.get(k, None) for k in (_MAX_FIELDS, _MAX_PLAN_CHARS)}
    spark.conf.set(_MAX_FIELDS, str(2**31 - 1))
    spark.conf.unset(_MAX_PLAN_CHARS)
    try:
        text = plan.toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    ids: dict = {}
    return _EXPR_ID.sub(
        lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", text)


def _leaf_identity(leaf) -> str:
    kind = leaf.nodeName()
    if kind in ("Range", "OneRowRelation"):
        return kind
    if kind == "LocalRelation":
        return leaf.data().toString()
    if kind == "LogicalRDD":
        return f"rdd:{leaf.rdd().id()}"
    if (kind == "LogicalRelation" and leaf.relation().getClass()
            .getSimpleName() == "HadoopFsRelation"):
        # the relation's own listing: no file-system request per file
        files = leaf.relation().location().allFiles()
        return "\n".join(sorted(
            f"{st.getPath().toString()}|{st.getLen()}|"
            f"{st.getModificationTime()}"
            for st in (files.apply(i) for i in range(files.size()))))
    return leaf.toString()


def read_manifest(path: str) -> dict:
    """tile_key -> manifest entry."""
    mf = os.path.join(path, MANIFEST_NAME)
    out = {}
    if os.path.exists(mf):
        with open(mf) as f:
            for line in f:
                e = json.loads(line)
                out[e["tile"]] = e
    return out


def checkpointed_write(df: DataFrame, path: str, cell_col: str,
                       extra_lineage: str = "",
                       prune_stale: bool = False) -> dict:
    """Resumable cell-partitioned write to the filesystem ``path``.

    1. compute the lineage fingerprint of ``df``;
    2. if the manifest holds this fingerprint's complete tile set,
       skip everything without running a Spark job;
    3. otherwise skip the tiles already committed under the fingerprint
       (anti-join — pruning happens BEFORE compute, like the
       reference's glob-and-skip) and write the rest through
       ``catalog.write_partitioned`` with dynamic partition overwrite
       (idempotent on retry), one file per tile, spread over
       ``defaultParallelism`` tasks;
    4. rewrite the manifest with a row per written tile (tile, rows,
       lineage, run_tiles, ts); ``rows`` is read from the parquet
       footers of the tile's files, so it counts what was written.

    prune_stale=True additionally deletes on-disk partitions that the
    MANIFEST records under a different lineage and this plan no longer
    produces (full-output-replacement semantics — reads never mix
    stale tiles after a plan change). It is opt-in, and deletion is
    keyed on the manifest: partitions this writer never recorded
    (foreign data, tile subsets from append-style runs without a
    manifest row) are NEVER touched, so a benign lineage change cannot
    destroy data the manifest doesn't own.

    Raises ValueError for a catalog table identifier: the manifest and
    the pruning live on the filesystem next to the tiles.

    Returns {written: n_tiles, skipped: n_tiles, pruned: n, rows: n,
    lineage: fingerprint}.
    """
    if catalog.is_table_identifier(path):
        raise ValueError(
            f"checkpointed_write needs a filesystem path, not the catalog "
            f"table '{path}': its manifest is a file next to the tiles")
    fp = lineage_fingerprint(df, extra_lineage)
    manifest = read_manifest(path)
    done = {int(t) for t, e in manifest.items() if e.get("lineage") == fp}
    complete = bool(done) and all(
        manifest[t].get("run_tiles") == len(done) for t in done)
    counts = {} if complete else _write_missing(df, path, cell_col, done)

    # this plan's full tile set; optionally prune MANIFEST-KNOWN tiles
    # a superseded lineage left behind (never unrecorded partitions —
    # the manifest is the ownership boundary)
    produced = done | set(counts)
    stale = {
        int(t) for t, e in manifest.items()
        if e.get("lineage") != fp and int(t) not in produced
    }
    pruned_tiles: set = set()
    if prune_stale and stale and os.path.isdir(path):
        for tile in stale:
            part = os.path.join(path, f"{cell_col}={tile}")
            if os.path.isdir(part):
                shutil.rmtree(part)
            pruned_tiles.add(tile)

    # rewrite the manifest atomically: fresh entries for this run's
    # tiles, prior entries kept for every tile not pruned (append-run
    # subsets under other lineages stay recorded AND on disk). Every
    # entry of this lineage records the size of its full tile set, the
    # test of step 2.
    ts = time.time()
    os.makedirs(path, exist_ok=True)
    entries = {
        int(t): e for t, e in manifest.items()
        if int(t) not in pruned_tiles
    }
    for tile, n in counts.items():
        entries[tile] = {"tile": tile, "rows": n, "lineage": fp, "ts": ts}
    for tile in produced:
        entries[tile]["run_tiles"] = len(produced)
    tmp = os.path.join(path, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as f:
        for tile in sorted(entries):
            f.write(json.dumps(entries[tile]) + "\n")
    os.replace(tmp, os.path.join(path, MANIFEST_NAME))

    return {
        "written": len(counts),
        "skipped": len(done),
        "pruned": len(pruned_tiles),
        "rows": sum(counts.values()),
        "lineage": fp,
    }


def _write_missing(df: DataFrame, path: str, cell_col: str,
                   done: set) -> dict:
    """Write the tiles of ``df`` not in ``done``; return their row
    counts, tile -> rows, read from the files the write produced."""
    spark = df.sparkSession
    todo = df
    if done:
        done_df = spark.createDataFrame(
            [(t,) for t in sorted(done)], f"{cell_col} BIGINT")
        todo = df.join(F.broadcast(done_df), cell_col, "left_anti")

    # hash-partition on the tile so every core writes and each tile is
    # ONE file; the observation reports the written tiles from the
    # write's own job
    seen = Observation()
    todo = todo.repartition(
        spark.sparkContext.defaultParallelism, cell_col
    ).observe(seen, F.collect_set(cell_col).alias("tiles"))
    catalog.write_partitioned(todo, path, cell_col,
                              mode="overwrite-partitions")
    # dynamic partition overwrite replaced each written tile's
    # directory whole: its files hold exactly this run's rows
    return {int(t): _footer_rows(os.path.join(path, f"{cell_col}={t}"))
            for t in seen.get["tiles"]}


def _footer_rows(tile_dir: str) -> int:
    """Rows in the parquet files of ``tile_dir``, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(tile_dir, f)).num_rows
               for f in os.listdir(tile_dir) if f.endswith(".parquet"))
