"""Seeded workload inputs, generated once per (workload, seed, size).

Pages and truth tables come from the repository's own fixture generator
(``gosmonaut_spark.fixtures.pages``); the spatial points, polygons and
queries are taken from the truth tables. The same seed always gives
byte-identical files. The benchmark hands the engine only these files; the
truth tables stay on the checking side.

The cache directory name carries a hash of this file and of the fixture
generator, so a change to either makes fresh inputs.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# pages for the ingest workload (both the checkpointed ingest and the
# selective queries read the same table)
INGEST_PAGES = 400
# pages whose truth tables give the spatial workload its points/polygons
SPATIAL_PAGES = 300
# The PIP join takes every 4th closed way, in id order, until the points
# inside them add up to PIP_HITS. Without the cap a seed's hit count moves
# by +-25% (the share of pages in the densest city sets both the polygons'
# count there and their point density); with it every seed asks for about
# the same work.
POLYGON_EVERY = 4
PIP_HITS = 4000
N_KNN_QUERIES = 300


def _source_hash() -> str:
    """Hash of the files that decide what the inputs are."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for path in (
        os.path.join(os.path.dirname(here), "gosmonaut_spark", "fixtures", "pages.py"),
        os.path.abspath(__file__),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _cached(dir_: str, build) -> str:
    """Run ``build(tmp_dir)`` once; later calls find the finished dir."""
    dir_ = f"{dir_}-{_source_hash()}"
    if os.path.exists(os.path.join(dir_, "_DONE")):
        return dir_
    tmp = f"{dir_}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(dir_, ignore_errors=True)
    os.replace(tmp, dir_)
    return dir_


def ingest_inputs(cache: str, seed: int) -> str:
    from gosmonaut_spark.fixtures.pages import write_pages_parquet, write_truth_parquet

    def build(d: str) -> None:
        write_pages_parquet(os.path.join(d, "pages.parquet"), INGEST_PAGES, seed)
        write_truth_parquet(os.path.join(d, "truth"), INGEST_PAGES, seed)

    return _cached(os.path.join(cache, f"ingest-s{seed}-n{INGEST_PAGES}"), build)


def pnpoly(plat, plon, lats, lons) -> np.ndarray:
    """Even-odd ray cast, the same IEEE operation order as the engine."""
    inside = np.zeros(plat.shape, dtype=bool)
    for i in range(len(lats) - 1):
        y1, y2, x1, x2 = lats[i], lats[i + 1], lons[i], lons[i + 1]
        cond = (y1 > plat) != (y2 > plat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = (x2 - x1) * (plat - y1) / (y2 - y1) + x1
        inside ^= cond & (plon < xcross)
    return inside


def _polygons(truth_dir: str) -> pa.Table:
    """Every POLYGON_EVERY-th closed truth way (first ref == last ref, >= 4
    refs) as a vertex ring, until they hold PIP_HITS points."""
    nodes = pq.read_table(os.path.join(truth_dir, "nodes.parquet")).to_pandas()
    refs = pq.read_table(os.path.join(truth_dir, "way_refs.parquet")).to_pandas()
    refs = refs.sort_values(["way_id", "pos"])
    pos = nodes.set_index("id")
    plat, plon = nodes["lat"].to_numpy(), nodes["lon"].to_numpy()
    ids, lats, lons = [], [], []
    n_closed = hits = 0
    for wid, grp in refs.groupby("way_id", sort=True):
        r = grp["ref"].to_numpy()
        if len(r) < 4 or r[0] != r[-1] or not np.isin(r, pos.index).all():
            continue
        n_closed += 1
        if n_closed % POLYGON_EVERY:
            continue
        ids.append(int(wid))
        lats.append(pos.loc[r, "lat"].to_numpy())
        lons.append(pos.loc[r, "lon"].to_numpy())
        hits += int(pnpoly(plat, plon, lats[-1], lons[-1]).sum())
        if hits >= PIP_HITS:
            break
    return pa.table(
        {
            "polygon_id": pa.array(ids, pa.int64()),
            "lats": pa.array([a.tolist() for a in lats], pa.list_(pa.float64())),
            "lons": pa.array([a.tolist() for a in lons], pa.list_(pa.float64())),
        }
    )


def spatial_inputs(cache: str, seed: int) -> str:
    from gosmonaut_spark.fixtures.pages import write_truth_parquet

    def build(d: str) -> None:
        truth = os.path.join(d, "truth")
        write_truth_parquet(truth, SPATIAL_PAGES, seed)
        points = pq.read_table(os.path.join(truth, "nodes.parquet")).select(["id", "lat", "lon"])
        pq.write_table(points, os.path.join(d, "points.parquet"))
        pq.write_table(_polygons(truth), os.path.join(d, "polygons.parquet"))

        rng = np.random.default_rng((seed, 1))
        # the seed picks the kNN queries
        pick = np.sort(rng.choice(points.num_rows, N_KNN_QUERIES, replace=False))
        pq.write_table(
            points.take(pick).rename_columns(["query_id", "lat", "lon"]),
            os.path.join(d, "knn_queries.parquet"),
        )

    return _cached(os.path.join(cache, f"spatial-s{seed}-n{SPATIAL_PAGES}"), build)
