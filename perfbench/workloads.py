"""The three workloads: inputs, oracles, the timed job and its checks.

Each workload generates its inputs from the seed, computes the oracles
once, then runs whole rounds of the same operations. A round's timed
job calls only the program's public functions; everything that collects
outputs and compares them with the oracles runs after the job's clock
stops.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from neo4j_graph_algorithms_spark.graph import id_map
from neo4j_graph_algorithms_spark.operators.labelprop import label_propagation
from neo4j_graph_algorithms_spark.operators.pagerank import pagerank
from neo4j_graph_algorithms_spark.operators.triangles import triangle_count
from neo4j_graph_algorithms_spark.operators.wcc import connected_components
from neo4j_graph_algorithms_spark.sources.extraction import extract_edges
from neo4j_graph_algorithms_spark.sources.iceberg import read_table, write_table
from neo4j_graph_algorithms_spark.streaming.graph_maintenance import (
    run_component_maintenance,
    run_pagerank_maintenance,
)

from perfbench import checks, gen, oracles

TOL = 1e-6
DAMPING = oracles.DAMPING
LPA_ITERATIONS = 10          # the reference default, forced (see README)
# run_pagerank_maintenance's default cap of 100 supersteps stops the cold
# base fold before tol=1e-6 is met, and on some seeds the warm delta fold
# too, without a sign (CHANGES.md, FOUND). A failure that depends on the
# seed cannot be counted the same way in every run, so the benchmark
# raises the cap and checks that every fold stopped below it.
MAINTENANCE_MAX_ITERATIONS = 200


def _diffs(walls: list[float]) -> list[float]:
    return [b - a for a, b in zip(walls, walls[1:])]


def _position(values: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Index of each value in the sorted array ``verts``, -1 if absent."""
    pos = np.minimum(np.searchsorted(verts, values), len(verts) - 1)
    return np.where(verts[pos] == values, pos, -1)


class Workload:
    name = ""

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")

    def generate(self) -> None:
        raise NotImplementedError

    def compute_oracles(self) -> None:
        raise NotImplementedError

    def run_round(self, ctx, r: int) -> dict[str, float]:
        """Run one round; return its figures (``job_s`` at least)."""
        raise NotImplementedError


class CrawlRank(Workload):
    """read_table -> extract_edges -> id_map -> pagerank -> write_table."""

    name = "crawl-rank"
    N_PAGES = 4000

    def generate(self) -> None:
        self.pages = gen.crawl_pages(self.seed, self.N_PAGES)
        self.pages_path = os.path.join(self.inputs, "pages")
        gen.write_pages(self.pages, os.path.join(self.pages_path, "part-0.parquet"),
                        self.seed)

    def compute_oracles(self) -> None:
        p = self.pages
        self.links = p.distinct_links()
        pairs = np.unique(np.stack([p.raw_src, p.raw_dst], axis=1), axis=0)
        verts = np.unique(pairs)      # pages that are edge endpoints
        self.url_index = {p.urls[v]: i for i, v in enumerate(verts.tolist())}
        self.names = set(self.url_index)
        self.ranks = oracles.pagerank(len(verts), _position(pairs[:, 0], verts),
                                      _position(pairs[:, 1], verts))

    def run_round(self, ctx, r: int) -> dict[str, float]:
        spark, tr = ctx.spark, ctx.tracer
        out_path = os.path.join(self.work, f"ranks-{r}")
        t0 = time.perf_counter()
        with ctx.op("read_table", "sources.iceberg"):
            pages = read_table(spark, self.pages_path)
        with ctx.op("extract_edges", "sources.extraction") as sp_ex:
            edges = extract_edges(pages)
            tr.note_cache_left(sp_ex, edges)
            edges = edges.persist()
            n_edges = edges.count()
        with ctx.op("id_map", "graph") as sp_id:
            mapping = id_map(edges.select(F.col("src_url").alias("src"),
                                          F.col("dst_url").alias("dst")))
            tr.note_cache_left(sp_id, mapping)
            mapping = mapping.persist()
            n_nodes = mapping.count()
        ids = mapping.select(F.col("name"), F.col("id"))
        id_edges = (
            edges.join(ids.withColumnRenamed("name", "src_url")
                       .withColumnRenamed("id", "src"), "src_url")
            .join(ids.withColumnRenamed("name", "dst_url")
                  .withColumnRenamed("id", "dst"), "dst_url")
            .select("src", "dst").persist())
        id_edges.count()
        etl_s = time.perf_counter() - t0
        with ctx.op("pagerank", "operators.pagerank") as sp_pr:
            res = pagerank(mapping.select("id"), id_edges, damping=DAMPING,
                           tol=TOL, max_iterations=300)
            tr.note_cache_left(sp_pr, res.ranks)
        with ctx.op("write_table", "sources.iceberg") as sp_wr:
            write_table(res.ranks.join(mapping, "id")
                        .select(F.col("name").alias("url"), "rank"), out_path)
        job_s = time.perf_counter() - t0

        # -- checks (untimed) ------------------------------------------
        ctx.expect(checks.check_edges(edges.toPandas(), self.links))
        ctx.expect(checks.check_id_map(mapping.toPandas(), self.names))
        written = pq.read_table(out_path).to_pandas()
        written["id"] = written["url"].map(self.url_index).fillna(-1).astype(np.int64)
        ctx.expect(checks.check_pagerank(written, self.ranks, tol=TOL,
                                         converged=res.converged))
        for df in (id_edges, mapping, edges):
            df.unpersist()
        shutil.rmtree(out_path, ignore_errors=True)

        loop_s = res.metrics[-1]["wall_s"] if res.metrics else 0.0
        raw = int(self.pages.raw_src.size)
        return {
            "job_s": job_s,
            "etl_s": etl_s,
            "pagerank_s": sp_pr.wall_s,
            "edge_steps_per_s": n_edges * res.iterations / sp_pr.wall_s,
            "extract.links_per_s": raw / sp_ex.wall_s,
            "extract.dedup_ratio": n_edges / raw,
            "idmap.s": sp_id.wall_s,
            "idmap.nodes": n_nodes,
            "pagerank.supersteps": res.iterations,
            "pagerank.prep_s": sp_pr.wall_s - loop_s,
            "pagerank.superstep_s": loop_s / max(1, res.iterations),
            "sink.write_s": sp_wr.wall_s,
        }


class SiteCommunities(Workload):
    """connected_components -> label_propagation (10) -> triangle_count."""

    name = "site-communities"
    N_PAGES = 5000

    def generate(self) -> None:
        self.g = gen.site_graph(self.seed, self.N_PAGES)
        self.edges_path = os.path.join(self.inputs, "edges")
        self.vertices_path = os.path.join(self.inputs, "vertices")
        gen.write_edges(self.g.src, self.g.dst,
                        os.path.join(self.edges_path, "part-0.parquet"))
        gen.write_vertices(self.g.n, os.path.join(self.vertices_path,
                                                  "part-0.parquet"))

    def compute_oracles(self) -> None:
        g = self.g
        self.components = oracles.components(g.n, g.src, g.dst)
        self.labels = oracles.label_propagation(g.n, g.src, g.dst,
                                                iterations=LPA_ITERATIONS)
        self.triangles = oracles.triangles(g.n, g.src, g.dst)
        self.wedges = oracles.oriented_wedges(g.src, g.dst)

    def run_round(self, ctx, r: int) -> dict[str, float]:
        spark, tr = ctx.spark, ctx.tracer
        with tr.span("read_table", "sources.iceberg"):
            edges = read_table(spark, self.edges_path)
            vertices = read_table(spark, self.vertices_path)
        t0 = time.perf_counter()
        with ctx.op("connected_components", "operators.wcc") as sp_w:
            wcc = connected_components(vertices, edges)
            tr.note_cache_left(sp_w, wcc.components)
        with ctx.op("label_propagation", "operators.labelprop") as sp_l:
            lpa = label_propagation(vertices, edges,
                                    max_iterations=LPA_ITERATIONS,
                                    min_iterations=LPA_ITERATIONS)
            tr.note_cache_left(sp_l, lpa.labels)
        with ctx.op("triangle_count", "operators.triangles") as sp_t:
            tri = triangle_count(vertices, edges)
            tr.note_cache_left(sp_t, tri.node_counts)
        job_s = time.perf_counter() - t0

        ctx.expect(checks.check_components(wcc.components.toPandas(),
                                           self.components))
        ctx.expect(checks.check_labels(lpa.labels.toPandas(), self.labels))
        ctx.expect(checks.check_triangles(tri.node_counts.toPandas(),
                                          tri.triangle_count, self.triangles))
        tri.node_counts.unpersist()

        w_walls = [m["wall_s"] for m in wcc.metrics]
        l_iters = _diffs([0.0] + [m["wall_s"] for m in lpa.metrics])
        return {
            "job_s": job_s,
            "wcc_s": sp_w.wall_s,
            "labelprop_s": sp_l.wall_s,
            "triangles_s": sp_t.wall_s,
            "wcc.prep_s": sp_w.wall_s - (w_walls[-1] if w_walls else 0.0),
            "wcc.rounds": wcc.iterations,
            "wcc.round_s": (w_walls[-1] / len(w_walls)) if w_walls else 0.0,
            "labelprop.iter_s": statistics.median(l_iters),
            "labelprop.last_iter_s": l_iters[-1],
            "triangles.wedges": self.wedges,
            "triangles.closure_ratio": tri.triangle_count / max(1, self.wedges),
        }


class CrawlDeltas(Workload):
    """run_component_maintenance, then run_pagerank_maintenance, over a
    base crawl drop and a small edge-delta drop. Each maintainer folds one
    drop per micro-batch; each fold is one operation."""

    name = "crawl-deltas"
    N_BASE = 400

    def generate(self) -> None:
        self.drops = gen.crawl_drops(self.seed, self.N_BASE)
        self.drops_dir = os.path.join(self.inputs, "drops")
        gen.write_drops(self.drops, self.drops_dir)

    def compute_oracles(self) -> None:
        src, dst = self.drops.union()
        self.verts = np.unique(np.concatenate([src, dst]))
        s, d = _position(src, self.verts), _position(dst, self.verts)
        # positions keep id order, so min member position = min member id
        self.components = self.verts[oracles.components(len(self.verts), s, d)]
        self.ranks = oracles.pagerank(len(self.verts), s, d)
        self.new_edges = self.drops.new_distinct()

    def _keyed(self, df: pd.DataFrame) -> pd.DataFrame:
        """Re-key a program output from vertex ids to oracle positions."""
        return df.assign(id=_position(df["id"].to_numpy(), self.verts))

    def run_round(self, ctx, r: int) -> dict[str, float]:
        spark, tr = ctx.spark, ctx.tracer
        state = os.path.join(self.work, f"state-{r}")
        folds = len(self.drops.drops)
        t0 = time.perf_counter()
        with ctx.op("run_component_maintenance",
                     "streaming.graph_maintenance", folds) as sp_w:
            comps = run_component_maintenance(spark, self.drops_dir,
                                              os.path.join(state, "wcc"))
            tr.note_cache_left(sp_w, comps)
        with ctx.op("run_pagerank_maintenance",
                     "streaming.graph_maintenance", folds) as sp_p:
            ranks = run_pagerank_maintenance(
                spark, self.drops_dir, os.path.join(state, "pr"), tol=TOL,
                max_iterations=MAINTENANCE_MAX_ITERATIONS)
            tr.note_cache_left(sp_p, ranks)
        job_s = time.perf_counter() - t0

        w_rows = _metrics_rows(os.path.join(state, "wcc", "wcc_state"))
        p_rows = _metrics_rows(os.path.join(state, "pr", "rank_state"))
        got_c = self._keyed(comps.toPandas())
        ctx.expect(checks.check_components(got_c, self.components))
        for rows, what in ((w_rows, "wcc"), (p_rows, "pagerank")):
            if len(rows) != folds:
                ctx.expect([f"{what}: {len(rows)} committed folds for "
                            f"{folds} drops"])
            # the maintainers count the delta's distinct edges, re-sent
            # ones included (CHANGES.md, FOUND): the delta fold fails
            ctx.fail(checks.check_delta_counts(rows, self.new_edges,
                                               f"{what} fold"))
        steps = [row.get("supersteps", 0) for row in p_rows]
        ctx.expect(checks.check_pagerank(
            self._keyed(ranks.toPandas()), self.ranks, tol=TOL,
            converged=bool(steps) and all(
                0 < k < MAINTENANCE_MAX_ITERATIONS for k in steps)))
        state_mb = [_dir_bytes(row["checkpoint"]) / 1e6
                    for row in w_rows + p_rows if row.get("checkpoint")]
        shutil.rmtree(state, ignore_errors=True)

        warm = steps[1:]
        return {
            "job_s": job_s,
            "wcc_fold_s": statistics.median(_diffs([x["wall_s"] for x in w_rows])),
            "pagerank_fold_s": statistics.median(
                _diffs([x["wall_s"] for x in p_rows])),
            "fold.state_mb": statistics.median(state_mb) if state_mb else 0.0,
            "fold.pagerank_supersteps": statistics.median(warm) if warm else 0.0,
            "fold.base_pagerank_supersteps": steps[0] if steps else 0,
        }


def _metrics_rows(state_dir: str) -> list[dict]:
    path = os.path.join(state_dir, "metrics.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return sorted(rows, key=lambda row: row["iteration"])


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (CrawlRank, SiteCommunities, CrawlDeltas)}
