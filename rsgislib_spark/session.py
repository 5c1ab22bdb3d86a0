"""SparkSession factory with the engine's scale-oriented defaults.

Single place where the 100 TB posture is configured: AQE (runtime
re-planning + skew-join splitting for dense city cells), Arrow for
every pandas-UDF boundary, a local master as wide as the CPUs this
process may use (``SPARK_GRAFT_CPUS`` overrides it), and
shuffle-partition defaults overridable for a real cluster via normal
spark-submit --conf.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession

DEFAULTS = {
    # Whole-stage codegen whose generated method exceeds HotSpot's
    # huge-method threshold (8000 bytecodes, -XX:DontCompileHugeMethods)
    # never gets JIT-compiled and runs in the JVM INTERPRETER — measured
    # 4x slower than the split-method non-fused path on this engine's
    # unrolled fixed-dim dot/norm projections (64-term expressions over
    # a broadcast nested-loop join: 2.8 s fused-but-interpreted vs
    # 0.65 s split). Spark's default limit (65535) only rejects methods
    # the JVM cannot LOAD; aligning it with what the JVM will actually
    # JIT keeps every stage on compiled code. JVM-level behavior, not a
    # local[32] artifact.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def get_spark(app: str = "rsgislib_spark", master: str | None = None,
              **conf) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    builder = SparkSession.builder.appName(app).master(master or f"local[{cpus}]")
    merged = {**DEFAULTS, **conf}
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread_scan(df, min_parts: int | None = None, by=None):
    """Raise a DataFrame's partition count to the cluster's default
    parallelism when the source delivers fewer splits.

    Parquet scans parallelize at ROW-GROUP granularity: a file written
    as one row group arrives as ONE split no matter what
    maxPartitionBytes says, so every narrow stage downstream (explode,
    regex projection, Arrow kernel) runs on a single core until the
    first shuffle. Compute-heavy operators call this right after the
    scan; the round-robin exchange costs one pass over the (small)
    input and unlocks cluster-wide parallelism for the expensive
    stage.

    Scale-adaptive by construction, two gates:
    - partition gate: only when the scan delivered fewer partitions
      than defaultParallelism (on a real cluster reading many-row-
      group files this is false and no exchange enters the plan);
    - size gate: only when the source files exceed ``min_bytes``
      (2 MB) — below that the exchange's fixed cost exceeds any
      parallelism gain (measured +0.1-0.6 s per query on sub-MB
      sf0.1 fixtures vs 3-5x wins on the same queries at sf1.0).
      Non-file sources (range, already-shuffled frames) report no
      input files and fall back to the partition gate alone.

    Round-robin repartition is deterministic under retries
    (spark.sql.execution.sortBeforeRepartition, on by default), so
    results are unchanged.

    ``by`` — optional column name (or sequence of names) with
    near-unique deterministic values (a natural row key, or lon/lat).
    When given, the exchange hash-partitions on those columns instead
    of round-robin: hash partitioning needs NO local sort (assignment
    is deterministic from the values themselves, retry-safe), while
    round-robin first sorts its input inside the (often single) scan
    task — measured 2.3x cheaper on a 1.5M-row single-row-group point
    table. Distribution quality is the caller's contract: a key with
    few distinct values would funnel rows to few partitions.

    The partition gate is decided from FILE BYTES, not
    ``df.rdd.getNumPartitions()``: materializing the RDD forces full
    physical planning on the driver — measured ~0.3 s of py4j/planning
    per call, paid at every query CONSTRUCTION (bench-visible and real
    user latency). Spark's own scan split count derives from the same
    byte arithmetic (FilePartition packing: each file charged
    openCostInBytes, packed into maxPartitionBytes splits), so the
    estimate matches what the scan would deliver; non-file sources
    (no inputFiles), remote paths (hdfs://, s3a://) and files deleted
    since planning fall back to the RDD probe."""
    spark = df.sparkSession
    sc = spark.sparkContext
    target = min_parts or sc.defaultParallelism
    min_bytes = 2 << 20
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — unknown source
        files = None
    sz = _local_bytes(files) if files else None
    if sz is not None:
        if sz < min_bytes:
            return df
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        open_cost = _parse_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
        est_splits = -(-(sz + open_cost * len(files)) // max_pb)
        if est_splits < target:
            return _respread(df, target, by)
        return df
    if df.rdd.getNumPartitions() < target:
        return _respread(df, target, by)
    return df


def _local_bytes(files) -> int | None:
    """Total size of the input files, or None when any of them is not
    a local file (hdfs://, s3a://) or is gone since planning — the
    caller then falls back to the partition probe."""
    if not all(f.startswith("file:") for f in files):
        return None
    try:
        return sum(os.path.getsize(unquote(urlparse(f).path)) for f in files)
    except OSError:
        return None


def _respread(df, target: int, by):
    if by is None:
        return df.repartition(target)
    cols = [by] if isinstance(by, str) else list(by)
    from pyspark.sql import functions as F

    return df.repartition(target, *[F.col(c) for c in cols])


def _parse_bytes(v: str) -> int:
    """'134217728' / '128m' / '1g' -> bytes (Spark size-string grammar,
    enough of it for the two file-split confs)."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                   ("g", 1 << 30), ("t", 1 << 40), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(float(s) * mult)
