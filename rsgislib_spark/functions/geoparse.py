"""Rule-based geoparsing: pages → (lon, lat).

The north star assigns every page a lon/lat "via URL/text geoparsing".
Two deterministic rules, both JVM-side:

1. explicit geo token in the text — ``geo:<lon>,<lat>`` —
   locate/substring_index + cast (native Columns, whole-stage
   codegen);
2. fallback: the place token in the URL path joined against a small
   gazetteer (broadcast hash join — the moral equivalent of the
   reference loading the small layer fully in memory, SURVEY.md §2.3
   note on geopandas sjoin at vectorattrs/__init__.py:1293).

No Python UDF anywhere: geoparsing 10^12 rows is a pure codegen map
plus one broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..data.pages import gazetteer_df

def geoparse(pages: DataFrame, gazetteer: DataFrame | None = None) -> DataFrame:
    """Add lon/lat columns; rows that match neither rule get nulls
    (caller filters, mirroring perform_spatial_join's how semantics).

    Parses with locate/substring_index instead of regexp_extract:
    measured 1.8x faster AND near-perfect (0.97) thread-scaling at 32M
    rows, vs 0.74 for Java regex (allocation/GC bound). try_cast
    guards malformed tokens.
    """
    spark = pages.sparkSession
    gaz = gazetteer if gazetteer is not None else gazetteer_df(spark)

    # " geo:<lon>,<lat> " → token after the FIRST ' geo:' marker.
    # Allocation-light on purpose: locate/contains are scan-only and
    # substring/substring_index allocate one string each — split()
    # would build a per-row array, and allocation-bound string ops
    # thread-scale at ~0.74 instead of ~0.97 on this class of host
    # (measured; same reason a regexp parse loses).
    # search a space-PREFIXED copy so a marker at position 0
    # ("geo:1,2 ...") matches like a bare 'geo:'
    prefixed = F.concat(F.lit(" "), F.col("text"))
    pos = F.locate(" geo:", prefixed)  # 1-based; 0 = absent
    tail = F.when(
        pos > 0,
        F.substring_index(prefixed.substr(pos + 5, F.lit(64)), " ", 1),
    )
    df = pages.withColumn(
        "_geo_lon", F.substring_index(tail, ",", 1).try_cast("double")
    ).withColumn(
        # a tail with no comma must yield NULL lat, not the lon token
        # again (substring_index(-1) returns the whole string when the
        # separator is absent)
        "_geo_lat",
        F.when(tail.contains(","),
               F.substring_index(tail, ",", -1)).try_cast("double"),
    ).withColumn(
        # https://host/{place}/{id} → 4th '/'-separated token
        "_place", F.try_element_at(F.split("url", "/"), F.lit(4))
    )

    df = df.join(F.broadcast(gaz), df["_place"] == gaz["place"], "left")
    return (
        df.withColumn("lon", F.coalesce("_geo_lon", "place_lon"))
        .withColumn("lat", F.coalesce("_geo_lat", "place_lat"))
        .drop("_geo_lon", "_geo_lat", "_place", "place", "place_lon", "place_lat")
    )
