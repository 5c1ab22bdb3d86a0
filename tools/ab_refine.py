"""Same-window codegen-vs-edges refine A/B for the headline pipeline.

Round-3 asked whether the headline should recover to <=1.5 s at
local[32]; round-4 couldn't settle it because this VM's per-window
CPU variance is 2-3x and the two candidate refine paths were never
measured back-to-back. This tool runs the IDENTICAL headline job
(generate pages -> geoparse -> cell assign -> spatial join -> count)
alternating refine='codegen' / refine='edges' within ONE Spark
session and one time window, so host noise hits both arms equally.

Writes BENCH/refine_ab.md and prints one JSON line.

Usage: python tools/ab_refine.py [n_pages] [rounds]   (defaults 1M, 4)
Run alone on the machine — a co-running job poisons the comparison.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_headline(spark, n_pages: int, refine: str) -> float:
    from rsgislib_spark.cells import quadcell, s2cell
    from rsgislib_spark.data import fixtures, pages
    from rsgislib_spark.functions.geoparse import geoparse
    from rsgislib_spark.operators import spatial_join as sj

    t0 = time.time()
    pg = pages.pages_df(spark, n_pages).drop("lon_true", "lat_true")
    pts = geoparse(pg)
    pts = pts.selectExpr(
        "*",
        quadcell.cell_sql("lon", "lat", 9) + " AS cell_r9",
        s2cell.cell_sql("lon", "lat", 10) + " AS s2_cell",
    )
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    joined = sj.spatial_join(pts.where("lon IS NOT NULL"), idx,
                             how="inner", refine=refine)
    joined.count()
    return time.time() - t0


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from rsgislib_spark.session import get_spark

    spark = get_spark("ab-refine")
    spark.sparkContext.setLogLevel("ERROR")
    cores = os.environ.get("SPARK_GRAFT_CPUS",
                           str(len(os.sched_getaffinity(0))))

    # warm both arms (codegen compile and the JIT are one-time costs
    # that must not land inside either timed series)
    run_headline(spark, n_pages, "codegen")
    run_headline(spark, n_pages, "edges")

    times: dict[str, list[float]] = {"codegen": [], "edges": []}
    for _ in range(rounds):
        for mode in ("codegen", "edges"):
            times[mode].append(round(run_headline(spark, n_pages, mode), 3))

    med = {m: statistics.median(v) for m, v in times.items()}
    tput = {m: round(n_pages / s, 1) for m, s in med.items()}
    winner = min(med, key=med.get)
    ratio = round(max(med.values()) / min(med.values()), 3)

    lines = [
        "# Codegen vs edge refine — same-window A/B (headline pipeline)",
        "",
        f"{n_pages:,} pages, local[{cores}], one Spark session, arms "
        f"interleaved per round so host noise hits both equally "
        f"({rounds} timed rounds after one warm pass per arm).",
        "",
        "| arm | runs (sec) | median sec | pages/sec |",
        "|---|---|---|---|",
    ]
    for m in ("codegen", "edges"):
        lines.append(f"| {m} | {', '.join(map(str, times[m]))} "
                     f"| {med[m]} | {tput[m]:,} |")
    lines += [
        "",
        f"Winner at {cores} cores: **{winner}** "
        f"(median ratio {ratio}x).",
        "",
        "Interpretation: the headline layer is dimension-sized "
        "(8 polygons, bounded edges), so refine='auto' picks codegen "
        "via the total_edges() threshold. The edge arm joins every "
        "candidate to its polygon's edges in its latitude band and "
        "counts crossings (a join plus an aggregate, no Python) — it "
        "exists for LARGE ring sets where a generated CASE would blow "
        "the JIT method limit.",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "refine_ab.md"), "w") as f:
        f.write("\n".join(lines) + "\n")

    print(json.dumps({"n_pages": n_pages, "cores": cores,
                      "times": times, "median": med,
                      "pages_per_sec": tput, "winner": winner,
                      "ratio": ratio}))


if __name__ == "__main__":
    main()
