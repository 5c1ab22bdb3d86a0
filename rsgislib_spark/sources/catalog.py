"""Iceberg-or-parquet backend dispatch for cell-partitioned sinks.

The north star writes tile assignments back "as Iceberg partitions
keyed by H3 cell". Iceberg gives three things over raw parquet:
atomic partition overwrite (no half-written tiles visible), snapshot
isolation for the resume story, and catalog-level schema evolution.
This module exposes ONE sink API; the backend is picked at runtime:

- ``catalog.db.table`` identifier + Iceberg classes on the JVM
  classpath → DataSourceV2 ``writeTo(...).overwritePartitions()``
  (atomic REPLACE of exactly the partitions present in the frame —
  the catalog twin of parquet's dynamic partitionOverwriteMode);
- filesystem path (or no Iceberg runtime) → cell-partitioned parquet
  with dynamic partition overwrite — byte-wise the same layout the
  Iceberg identity partition spec produces, minus the catalog.

This container ships no Iceberg runtime jar and has no network, so
the Iceberg branch cannot execute here; it is probe-gated
(iceberg_available), unit-tested for dispatch, and the parquet branch
carries the full resume test suite (tests/test_checkpoint_tiling.py).
On a real cluster, add
``--packages org.apache.iceberg:iceberg-spark-runtime-...`` and pass
a table identifier — nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def iceberg_available(spark) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


_PATH_SUFFIXES = (".parquet", ".orc", ".json", ".csv", ".avro", ".db")


def is_table_identifier(target: str) -> bool:
    """Heuristic: catalog identifiers are dotted names
    (``catalog.db.table``) without path separators. Anything with a
    path separator, a scheme, a relative-path prefix, or a data-file
    extension (``out.parquet`` is a filename, not a table) is a
    filesystem path — misrouting a path to the catalog branch would
    raise (no Iceberg runtime) or hit spark.table() with a filename."""
    if "/" in target or "\\" in target or ":" in target:
        return False
    if target.startswith("."):
        return False
    if target.lower().endswith(_PATH_SUFFIXES):
        return False
    return "." in target


def write_partitioned(df: DataFrame, target: str, cell_col: str,
                      mode: str = "overwrite-partitions") -> str:
    """Write ``df`` partitioned by ``cell_col`` to ``target``.

    Returns the backend used ("iceberg" | "parquet"). mode:
    - "overwrite-partitions": replace exactly the partitions present
      in df (idempotent re-runs — the checkpoint/resume contract);
    - "append": blind append;
    - "overwrite": full-table replace.
    """
    spark = df.sparkSession
    if is_table_identifier(target):
        if not iceberg_available(spark):
            raise RuntimeError(
                f"'{target}' looks like a catalog table but no Iceberg "
                "runtime is on the classpath — add the "
                "iceberg-spark-runtime package (and a catalog config), "
                "or pass a filesystem path for the parquet backend")
        if mode == "append":
            df.writeTo(target).append()
        elif mode == "overwrite":
            df.writeTo(target).using("iceberg") \
                .partitionedBy(F.col(cell_col)).createOrReplace()
        else:
            # explicit existence probe, NOT a bare try/except around
            # the write: a blanket except would read every failure
            # (schema mismatch, catalog misconfig, transient fault)
            # as "table missing" and bury the root cause under a
            # confusing create() error. Caveat: tableExists with a
            # 3-part identifier needs Spark 3.4+ — older builds return
            # False for an existing table — so the create() fallback
            # catches ONLY the already-exists error and retries as
            # overwritePartitions (never createOrReplace: a false
            # negative must not escalate partition-overwrite into a
            # full-table replace).
            if spark.catalog.tableExists(target):
                df.writeTo(target).overwritePartitions()
            else:
                try:
                    df.writeTo(target).using("iceberg") \
                        .partitionedBy(F.col(cell_col)).create()
                except Exception as e:  # noqa: BLE001
                    if "already exists" not in str(e).lower():
                        raise
                    df.writeTo(target).overwritePartitions()
        return "iceberg"
    if mode == "overwrite":
        # STATIC overwrite — full-table replace (matches the Iceberg
        # branch's createOrReplace). Pin the mode per-writer: relying
        # on the session default would silently degrade to dynamic
        # (keeping partitions absent from df) on clusters configured
        # with spark.sql.sources.partitionOverwriteMode=dynamic.
        df.write.option("partitionOverwriteMode", "static") \
            .partitionBy(cell_col).mode("overwrite").parquet(target)
        return "parquet"
    writer = df.write.option("partitionOverwriteMode", "dynamic") \
        .partitionBy(cell_col)
    if mode == "overwrite-partitions":
        # dynamic overwrite: replaces only the partitions present
        writer.mode("overwrite").parquet(target)
    else:
        # pass through append/error/errorifexists/ignore untouched —
        # coercing them to overwrite would destroy data the caller
        # asked to protect
        writer.mode(mode).parquet(target)
    return "parquet"


def read_partitioned(spark, target: str) -> DataFrame:
    """Read back either backend through one call.

    Past 32 tile directories Spark lists a parquet target in a job of
    its own; on a ``get_spark`` local master that job runs at most one
    task per core, not one per tile directory."""
    if is_table_identifier(target):
        return spark.table(target)
    return spark.read.parquet(target)
