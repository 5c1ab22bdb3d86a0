"""The benchmark's own tests: seeded inputs, the oracle, one smoke run.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402


@pytest.mark.parametrize("make", [
    lambda s: gen.pages(s, 500, payload_words=5)["table"],
    lambda s: gen.points(s, 500),
    lambda s: gen.parcels(s, 500)[0],
    lambda s: gen.sites(s, 500),
    lambda s: gen.grid(s, 64, 64)[0],
])
def test_seed_fixes_the_input_digest(make):
    assert gen.digest(make(3)) == gen.digest(make(3))
    assert gen.digest(make(3)) != gen.digest(make(4))


def test_zones_include_empty_and_overlapping():
    grid, values = gen.grid(5, 64, 64)
    zones = gen.zones(5, 64, 64, 24)
    stats = oracle.raster_zonal(values, zones, gen.GRID_ORIGIN, gen.GRID_RES,
                                gen.GRID_NODATA)
    assert len(stats) == 24
    assert stats[23] == (oracle.SENTINEL,) * 8  # off the grid
    assert stats[24] == (oracle.SENTINEL,) * 8  # between pixel centres


def test_ray_cast_agrees_with_engine_kernel():
    from rsgislib_spark.geometry import predicates

    rng = np.random.default_rng(0)
    rings = gen.parcel_rings(1, 50)
    for ring in rings:
        x = rng.uniform(ring[:, 0].min() - 0.01, ring[:, 0].max() + 0.01, 400)
        y = rng.uniform(ring[:, 1].min() - 0.01, ring[:, 1].max() + 0.01, 400)
        assert np.array_equal(oracle.inside(x, y, [ring]),
                              predicates.point_in_rings(x, y, [ring]))


def test_parcel_pairs_match_brute_force():
    pts = gen.points(2, 3000)
    _, rings = gen.parcels(2, 3000)
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    pid = pts["pt_id"].to_numpy()
    got = set(zip(*[a.tolist() for a in oracle.parcel_pairs(pid, lon, lat, rings)]))
    want = set()
    for g, ring in enumerate(rings):
        for i in np.flatnonzero(oracle.inside(lon, lat, [ring])):
            want.add((int(pid[i]), g + 1))
    assert got == want and want


def test_nearest_site_matches_brute_force():
    pts, sts = gen.points(6, 2000), gen.sites(6, 300)
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    sx, sy = sts["site_lon"].to_numpy(), sts["site_lat"].to_numpy()
    sid = sts["site_id"].to_numpy()
    nn, d2 = oracle.nearest_site(lon, lat, sx, sy, sid)
    dx, dy = lon[:, None] - sx[None, :], lat[:, None] - sy[None, :]
    full = dx * dx + dy * dy
    assert np.array_equal(nn, sid[np.argmin(full, axis=1)])
    assert np.array_equal(d2, full.min(axis=1))


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_smoke_run_reports_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "tile_writeback", "--seed", "1", "--seconds", "1", "--trace", "0",
         "--smoke"], cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=180)
    assert out.returncode == 0
    res = _last_json(out.stdout)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tile_writeback",
         "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
