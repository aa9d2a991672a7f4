"""The two benchmark workloads: one pass each, plus the checks on its output.

``ingest`` runs the paper's pipeline both ways it is offered over one seeded
pages table: the checkpointed five-pass ingest (decode once, snapshot after
every pass) and then a closed loop of selective type-mask + tag-predicate
queries through the in-memory ``run_pipeline`` (one client; the next query
is sent when the previous one has returned).

``spatial`` runs the spatial operators over points and polygons built from
the generator's truth tables: PIP join, tile pyramid and adaptive kNN. It
never decodes a page.

Each pass returns its output-row count and a list of checked operations.
Every check compares against an oracle computed from the truth tables or
by numpy brute force, never against the engine itself.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gosmonaut_spark.functions.caching import release_cached
from gosmonaut_spark.functions.geo import EARTH_RADIUS_M
from gosmonaut_spark.operators import predicates as P
from gosmonaut_spark.operators.assembly import SKIP_MISSING
from gosmonaut_spark.operators.knn import knn_join_adaptive
from gosmonaut_spark.operators.pip import point_in_polygon_join
from gosmonaut_spark.operators.tiling import tile_pyramid
from gosmonaut_spark.plans.checkpoint import run_pipeline_checkpointed
from gosmonaut_spark.plans.pipeline import run_pipeline
from gosmonaut_spark.sources.pages import read_pages

from inputs import pnpoly
from spans import EQUI_JOINS, PAIR_JOINS, join_rows, scan_stages

PIP_RES = 13
TILE_RES = (5, 12)
KNN_K = 5
KNN_RES = 13
FORMAT_SAMPLE = 200  # page blobs decoded by the one-core format probe


@dataclass
class PassResult:
    rows: int = 0
    # what the pass produced, for the checks and probes after the clock stops
    out: dict = field(default_factory=dict)
    # (operation, passed, detail) for every checked operation of the pass
    checks: list[tuple[str, bool, str]] = field(default_factory=list)

    def check(self, op: str, ok: bool, detail: str = "") -> None:
        self.checks.append((op, bool(ok), detail))


def _tags(s: str) -> dict[str, str]:
    return dict(kv.split("=", 1) for kv in s.split(";")) if s else {}


# ---------------------------------------------------------------------------
# ingest: checkpointed pipeline + selective queries
# ---------------------------------------------------------------------------

# entity type -> the (tag key, value) predicates a seed picks from; a value
# of None means "has the key". Every node predicate selects about 3% of the
# nodes, so each seed asks for about the same work: "has name" (7%) added 4%
# to the rows of a pass for the seeds that drew it.
_QUERY_MENU = {
    P.NODE: [("amenity", v) for v in ("cafe", "bank", "school", "pharmacy", "library", "fuel")],
    P.RELATION: [("type", v) for v in ("multipolygon", "restriction", "route", "boundary")]
    + [("addr:housenumber", None)],
}
# next checkpoint pass -> the layer that builds it
_NEXT_LAYER = {"entities": "assembly.ways", "assembled_ways": "assembly.relations"}


class Ingest:
    def __init__(self, spark, inputs_dir: str, seed: int, snap_parent: str):
        self.spark = spark
        self.pages_path = os.path.join(inputs_dir, "pages.parquet")
        self.snap_parent = snap_parent
        truth = os.path.join(inputs_dir, "truth")

        def read(name: str) -> pd.DataFrame:
            return pq.read_table(os.path.join(truth, f"{name}.parquet")).to_pandas()

        nodes, ways, rels = read("nodes"), read("ways"), read("rels")
        refs, members = read("way_refs"), read("rel_members")
        self.n_pages = pq.ParquetFile(self.pages_path).metadata.num_rows
        self.expect_rows = {
            "entities": len(nodes) + len(ways) + len(rels),
            "assembled_ways": len(ways),
            "relations": len(rels),
        }
        node_ids = set(nodes["id"].tolist())
        way_ids = set(ways["way_id"].tolist())
        rng = np.random.default_rng((seed, 2))

        # skip_missing: a dangling ref is dropped, the way's order kept
        live = refs[refs["ref"].isin(node_ids)].sort_values(["way_id", "pos"])
        ref_lists = live.groupby("way_id")["ref"].apply(list)
        sample = rng.choice(ways["way_id"].to_numpy(), 40, replace=False)
        self.sample_refs = {int(w): ref_lists.get(w, []) for w in sample}

        # members that resolve: nodes and ways that exist (sub-relations
        # and dangling members are dropped)
        ok = ((members["mtype"] == "node") & members["ref"].isin(node_ids)) | (
            (members["mtype"] == "way") & members["ref"].isin(way_ids)
        )
        n_members = members[ok].groupby("rel_id").size()
        tag_tables = {
            P.NODE: (nodes["id"], nodes["tags_sorted"]),
            P.RELATION: (rels["rel_id"], rels["tags_sorted"]),
        }

        # a node query (decode only) and a relation query (every pass) each
        # time, so each seed asks for the same kind of work; the seed picks
        # each query's predicate. Checked per entity: node -> its tag count,
        # relation -> its resolved member count.
        self.queries = []
        for etype, menu in _QUERY_MENU.items():
            key, value = menu[int(rng.integers(len(menu)))]
            ids, tags = tag_tables[etype]
            want = {}
            for i, t in zip(ids.tolist(), tags.tolist()):
                d = _tags(t)
                if key in d and (value is None or d[key] == value):
                    want[i] = len(d) if etype == P.NODE else int(n_members.get(i, 0))
            pred = P.has_tag(key) if value is None else P.tag_equals(key, value)
            label = f"{etype}[{key}{'' if value is None else '=' + value}]"
            self.queries.append((label, etype, pred, want))

    def run_pass(self, tracer) -> PassResult:
        res = PassResult()

        def post_pass(name: str) -> None:
            tracer.end()
            if name in _NEXT_LAYER:
                tracer.begin(_NEXT_LAYER[name])

        ck_dir = tempfile.mkdtemp(prefix="ck-", dir=self.snap_parent)
        res.out["ck_dir"] = ck_dir
        with tracer.span("checkpoint"):
            tracer.begin("sources")
            pages = read_pages(self.spark, self.pages_path)
            ck, dfs = run_pipeline_checkpointed(
                self.spark, pages, ck_dir, mode=SKIP_MISSING, post_pass=post_pass
            )
        res.out["lineage"] = {e["pass"]: e for e in ck.lineage()}
        res.out["dfs"] = dfs
        res.rows += res.out["lineage"]["entities"]["rows_out"]

        res.out["queries"] = []
        for label, etype, pred, _want in self.queries:
            with tracer.span("pipeline"):
                out = run_pipeline(
                    read_pages(self.spark, self.pages_path),
                    types={etype},
                    predicate=pred,
                    mode=SKIP_MISSING,
                )
                # one action per query; the size column forces the full
                # decode of every node and assembly of every relation
                if etype == P.NODE:
                    rows = out.nodes.select("id", F.size("tags").alias("n")).collect()
                else:
                    rows = out.relations.select("id", F.size("members").alias("n")).collect()
            res.rows += len(rows)
            res.out["queries"].append(rows)
        return res

    def check(self, res: PassResult) -> None:
        lineage = res.out["lineage"]
        for name, want in self.expect_rows.items():
            got = lineage[name]["rows_out"]
            res.check(f"ingest.{name}.rows", got == want, f"{got} rows, truth {want}")
        got = {
            r["id"]: r["refs"]
            for r in res.out["dfs"]["assembled_ways"]
            .filter(F.col("id").isin(list(self.sample_refs)))
            .select("id", F.col("nodes.id").alias("refs"))
            .collect()
        }
        bad = [w for w, refs in self.sample_refs.items() if got.get(w) != refs]
        res.check("ingest.way_refs_sample", not bad, f"ways with wrong refs: {bad[:5]}")
        for (label, _etype, _pred, want), rows in zip(self.queries, res.out["queries"]):
            got = {r["id"]: r["n"] for r in rows}
            res.check(
                f"selective.{label}",
                got == want and len(rows) == len(got),
                f"{len(rows)} rows, truth {len(want)}",
            )

    def probe(self, res: PassResult, tracer) -> dict:
        """Per-layer counts read from outside the traced pass."""
        from gosmonaut_spark.format.gpb_numpy import decode_page_np
        from gosmonaut_spark.operators.assembly import assemble_relations
        from gosmonaut_spark.sources.pages import rel_members

        lineage, dfs = res.out["lineage"], res.out["dfs"]
        facts: dict[str, float] = {}
        total_bytes = total_rows = 0
        for name, e in lineage.items():
            nbytes = _dir_bytes(os.path.join(res.out["ck_dir"], name))
            facts[f"checkpoint.{name}.wall_s"] = e["wall_ms"] / 1000.0
            facts[f"checkpoint.{name}.bytes_written"] = nbytes
            total_bytes += nbytes
            total_rows += e["rows_out"]
        facts["checkpoint.bytes_per_row"] = total_bytes / max(total_rows, 1)
        facts["sources.rows_out"] = lineage["entities"]["rows_out"]

        # jobs the relation-assembly builder starts before any action
        def build() -> None:
            rels = dfs["relations_raw"]
            out = assemble_relations(
                rels, rel_members(rels), dfs["assembled_ways"], dfs["nodes"],
                order="verify", materialize_members=True,
            )
            release_cached(out)

        facts["assembly.relations.build_jobs"] = tracer.count_jobs(
            "assembly.relations.build", build
        )

        # the numpy page decoder alone, on one core, over a fixed blob sample;
        # the fastest of three rounds
        blobs = pq.read_table(self.pages_path, columns=["html"]).column("html").to_pylist()
        blobs = blobs[:FORMAT_SAMPLE]
        rounds = []
        for _ in range(3):
            t0 = time.perf_counter()
            for b in blobs:
                decode_page_np(b, want=("nodes", "ways", "rels"))
            rounds.append(time.perf_counter() - t0)
        dt = min(rounds)
        facts["format.decode_s"] = dt
        facts["format.mb_per_s"] = sum(len(b) for b in blobs) / dt / 1e6
        return facts

    def log_counts(self, log: dict, known: dict) -> dict:
        """Per-layer counts derived from the traced pass's event log."""
        return {
            "sources.cpu_per_page_ms": 1000.0 * known["sources.task_cpu_s"] / self.n_pages,
            "pipeline.decode_scans": scan_stages(log, "pipeline") / len(self.queries),
        }

    def cleanup(self, res: PassResult) -> None:
        shutil.rmtree(res.out["ck_dir"], ignore_errors=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------------------
# spatial: PIP join, tile pyramid, adaptive kNN
# ---------------------------------------------------------------------------

def haversine_np(lat1, lon1, lat2, lon2) -> np.ndarray:
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat, dlon = np.radians(lat2 - lat1), np.radians(lon2 - lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


class Spatial:
    def __init__(self, spark, inputs_dir: str, seed: int):
        self.spark = spark
        self.paths = {
            t: os.path.join(inputs_dir, f"{t}.parquet")
            for t in ("points", "polygons", "knn_queries")
        }
        read = lambda t: pq.read_table(self.paths[t]).to_pandas()  # noqa: E731
        self.points, self.polys, self.knn_q = read("points"), read("polygons"), read("knn_queries")
        self.n_points = len(self.points)
        rng = np.random.default_rng((seed, 3))

        # PIP oracle: a seeded polygon sample, brute force over every point;
        # a polygon's hits are compared as (count, sum of point ids)
        plat, plon = self.points["lat"].to_numpy(), self.points["lon"].to_numpy()
        pid = self.points["id"].to_numpy()
        self.pip_expect = {}
        for i in rng.choice(len(self.polys), min(30, len(self.polys)), replace=False):
            row = self.polys.iloc[int(i)]
            hit = pid[pnpoly(plat, plon, np.asarray(row["lats"]), np.asarray(row["lons"]))]
            self.pip_expect[int(row["polygon_id"])] = (len(hit), int(hit.sum()))

        # kNN oracle: brute force for a sample of the queries
        self.knn_expect = {}
        for i in rng.choice(len(self.knn_q), min(40, len(self.knn_q)), replace=False):
            q = self.knn_q.iloc[int(i)]
            d = haversine_np(q["lat"], q["lon"], plat, plon)
            self.knn_expect[int(q["query_id"])] = pid[np.lexsort((pid, d))[:KNN_K]].tolist()

        # an empty oracle would pass any output
        if not (self.pip_expect and any(n for n, _ in self.pip_expect.values())
                and self.knn_expect):
            raise ValueError(f"degenerate spatial inputs in {inputs_dir}")

    def run_pass(self, tracer) -> PassResult:
        res = PassResult()
        s = self.spark
        pts = s.read.parquet(self.paths["points"])

        with tracer.span("pip"):
            polys = s.read.parquet(self.paths["polygons"])
            out = point_in_polygon_join(pts, polys, res=PIP_RES, engine="edges")
            res.out["pip"] = (
                out.groupBy("polygon_id")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
                .collect()
            )
        res.out["pip.hits"] = sum(r["n"] for r in res.out["pip"])

        with tracer.span("tiling"):
            before = tracer.jobs_started("tiling")
            tiles = tile_pyramid(pts, *TILE_RES)
            res.out["tiling.build_jobs"] = tracer.jobs_started("tiling") - before
            res.out["tiles"] = (
                tiles.groupBy("res")
                .agg(F.count(F.lit(1)).alias("tiles"), F.sum("n_points").alias("pts"))
                .collect()
            )
            release_cached(tiles)
        res.out["tiling.tiles_out"] = sum(r["tiles"] for r in res.out["tiles"])

        with tracer.span("knn"):
            q = s.read.parquet(self.paths["knn_queries"])
            t = pts.select(F.col("id").alias("target_id"), "lat", "lon")
            res.out["knn"] = knn_join_adaptive(q, t, k=KNN_K, res=KNN_RES).collect()

        res.rows = res.out["pip.hits"] + res.out["tiling.tiles_out"] + len(res.out["knn"])
        return res

    def check(self, res: PassResult) -> None:
        got = {r["polygon_id"]: (r["n"], r["s"]) for r in res.out["pip"]}
        bad = [p for p, e in self.pip_expect.items() if got.get(p, (0, 0)) != e]
        res.check("pip.pairs_vs_pnpoly", not bad, f"polygons differing: {bad[:5]}")

        sums = {r["res"]: r["pts"] for r in res.out["tiles"]}
        want = {r: self.n_points for r in range(TILE_RES[0], TILE_RES[1] + 1)}
        res.check("tiling.counts_sum_to_points", sums == want, f"{sums}")

        knn: dict[int, list[tuple[float, int]]] = {}
        for r in res.out["knn"]:
            knn.setdefault(r["query_id"], []).append((r["dist_m"], r["target_id"]))
        bad = [
            q for q, want in self.knn_expect.items()
            if [t for _, t in sorted(knn.get(q, []))] != want
        ]
        res.check("knn.vs_brute", not bad, f"queries differing: {bad[:5]}")
        n = len(res.out["knn"])
        res.check("knn.k_per_query", n == KNN_K * len(self.knn_q), f"{n} rows")

    def cleanup(self, res: PassResult) -> None:
        pass

    def probe(self, res: PassResult, tracer) -> dict:
        """Per-layer counts of the traced pass that its event log does not
        give: what the pass returned, and the PIP cover counted with the
        operator's public ``polygon_cover_cells``."""
        from gosmonaut_spark.operators.pip import polygon_cover_cells

        facts = {
            k: res.out[k]
            for k in ("pip.hits", "tiling.tiles_out", "tiling.build_jobs")
        }
        # the edges engine covers each polygon at resolutions res-8 .. res
        polys = self.spark.read.parquet(self.paths["polygons"])
        facts["pip.cover_cells"] = polygon_cover_cells(
            polys, PIP_RES, res_min=PIP_RES - 8
        ).count()
        return facts

    def log_counts(self, log: dict, known: dict) -> dict:
        """Candidate volumes read from the rows the traced pass's join
        nodes put out: PIP cell-join candidates (after the bbox test), kNN
        ring-join candidates per query over every round and every
        recomputation, and the kNN queries left to the brute-force round
        (its cross-join rows over the target count)."""
        pip = join_rows(log, "pip", EQUI_JOINS, key="cell")
        return {
            "pip.candidates": pip,
            "pip.hit_ratio": known["pip.hits"] / max(pip, 1),
            "knn.candidates_per_query":
                join_rows(log, "knn", EQUI_JOINS, key="cell") / len(self.knn_q),
            "knn.brute_queries": join_rows(log, "knn", PAIR_JOINS) / self.n_points,
        }
