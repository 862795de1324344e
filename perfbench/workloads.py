"""The two workloads, ``build`` and ``rank``.

Each workload owns its inputs (generated from the seed and cached per seed
with their oracle answers), its untimed warm-up, one timed run, the check
of that run's output against the oracles, and the per-layer metrics read
from a traced run. ``run`` is what a timed run executes; every call into a
layer's public function sits in a span named after the layer.

- build: html link-extraction UDF, dense-id dictionary, url joins, dedup
  and a parquet write; no iterative loop, so loop or checkpoint changes
  should leave it flat.
- rank: PageRank to 1e-6 with a durable checkpoint every 5 iterations;
  per-iteration fixed cost and the rank-vector shuffle dominate and there
  is no string work, so build changes should leave it flat. Its traced run
  also stops and resumes a run from a checkpoint, and runs connected
  components, label propagation and the triangle count on the same edge
  table, each checked against its oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

import gen
import oracles
from spans import MB, EventLog, Tracer

from amanogawa_spark.checkpoint import CheckpointManager
from amanogawa_spark.graph.build import build_edges, build_vertices
from amanogawa_spark.graph.components import connected_components
from amanogawa_spark.graph.lpa import label_propagation
from amanogawa_spark.graph.pagerank import pagerank
from amanogawa_spark.graph.triangles import triangle_count
from amanogawa_spark.sources.writers import write_parquet

# input sizes: build reads more pages than rank's graph has vertices; both
# are small enough that a build process (four warm-up builds, five timed)
# and a rank process (three timed PageRanks) each take about a minute
BUILD_PAGES = 20_000
GRAPH_VERTICES = 15_000
BUILD_WARMUPS = 4
PR_TOL = 1e-6
PR_MAX_ITER = 100
PR_CHECKPOINT_EVERY = 5
LPA_ROUNDS = 5
RESUME_STOP_AT = 10  # the resume check stops the run at this checkpoint


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def clear_caches(spark) -> None:
    """Drop every cached DataFrame and RDD, so each run starts from the same storage."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def _cached(path: str, make) -> str:
    """Run ``make(tmp_dir)`` once per path; a marker file makes the cache entry valid."""
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


class StopRun(Exception):
    """Raised from a checkpoint save to stop a PageRank run part-way."""


class TimedCheckpoint(CheckpointManager):
    """CheckpointManager whose save and load are spans; can stop a run at a save."""

    def __init__(self, spark, root: str, tracer: Tracer, stop_at: int | None = None):
        super().__init__(spark, root)
        self.tracer = tracer
        self.stop_at = stop_at
        self.saves: list[tuple[float, int]] = []  # (seconds, bytes written)

    def save(self, df, iteration: int):
        with self.tracer.span("checkpoint.save") as s:
            out = super().save(df, iteration)
        self.saves.append((s.seconds, dir_bytes(self._iter_dir(iteration))))
        if self.stop_at is not None and iteration >= self.stop_at:
            raise StopRun(iteration)
        return out

    def load(self, iteration: int | None = None):
        with self.tracer.span("checkpoint.load"):
            return super().load(iteration)


def _span_stats(tr: Tracer, log: EventLog, span) -> dict:
    tot = log.totals(tr.subtree(span.id))
    return {
        "s": span.seconds,
        "idle_s": span.seconds - log.busy_seconds(span.start, span.end),
        "shuffle_mb": tot["shuffle_mb"],
        "spill_mb": tot["spill_mb"],
        "retained_mb": (span.cached_after - span.cached_before) / MB,
        "jobs": tot["jobs"],
    }


class Workload:
    name = ""
    # a run's length on a 4-core host; sets how many runs fit in --seconds
    nominal_run_s = 1.0

    def __init__(self, spark, scratch: str):
        self.spark = spark
        self.scratch = scratch
        self.n_runs = 0

    def out_dir(self) -> str:
        self.n_runs += 1
        return os.path.join(self.scratch, f"{self.name}-{self.n_runs}")


class Build(Workload):
    name = "build"
    nominal_run_s = 6.0

    @staticmethod
    def prepare(seed: int, cache: str) -> dict:
        def make(d):
            gen.write_pages(os.path.join(d, "pages"), gen.make_pages(seed, BUILD_PAGES))
            info = oracles.build_expected(os.path.join(d, "pages", "*.parquet"), d)
            with open(os.path.join(d, "expected.json"), "w") as f:
                json.dump(info, f)

        path = _cached(os.path.join(cache, f"pages-v{gen.VERSION}-{BUILD_PAGES}-s{seed}"), make)
        with open(os.path.join(path, "expected.json")) as f:
            return {"dir": path, **json.load(f)}

    def register(self, inputs: dict) -> None:
        self.inputs = inputs
        self.pages = self.spark.read.parquet(os.path.join(inputs["dir"], "pages"))
        self.pages.createOrReplaceTempView("pages")

    def warmup(self, tr: Tracer) -> None:
        # the first builds of a process keep getting faster (17-19 s cold,
        # then 4.2, 3.9, 3.4, 2.9 s, then ~2.7 s): with fewer warm-up builds
        # the timed runs' median sat on that slope and moved with how fast
        # the JIT caught up
        for _ in range(BUILD_WARMUPS):
            self.finish(self.run(tr))

    def run(self, tr: Tracer) -> dict:
        pages = self.pages
        out = self.out_dir()
        with tr.span("graph.build.vertices") as v:
            vertices = build_vertices(pages)
        with tr.span("graph.build.edges") as e:
            edges = build_edges(pages, vertices).persist()
            n_edges = edges.count()
        with tr.span("sources.write") as w:
            write_parquet(vertices, os.path.join(out, "vertices"))
            write_parquet(edges, os.path.join(out, "edges"))
        edges.unpersist()
        vertices.unpersist()
        return {"out": out, "edges": n_edges, "phases": [v.seconds, e.seconds, w.seconds]}

    def work(self, result: dict | None) -> float:
        return float(BUILD_PAGES)

    def steps(self, result: dict | None) -> list[float]:
        """The build's phases: dense-id dictionary, edge join + dedup, write."""
        return result["phases"] if result else []

    def check(self, result: dict) -> list[str]:
        out = result["out"]
        return oracles.check_build(
            self.inputs["dir"], os.path.join(out, "vertices"), os.path.join(out, "edges")
        )

    def finish(self, result: dict | None) -> None:
        if result:
            shutil.rmtree(result["out"], ignore_errors=True)

    def traced_extra(self, tr: Tracer) -> dict:
        """Extraction alone, so the UDF's share of the build can be told apart."""
        from pyspark.sql import functions as F

        from amanogawa_spark.functions.html import extract_links

        tr.run = "extract"
        with tr.span("functions.html"):
            links = self.pages.select(F.sum(F.size(extract_links("html")))).collect()[0][0]
        problems = []
        if links != self.inputs["links"]:
            problems.append(f"links: {links} extracted, {self.inputs['links']} expected")
        return {"links": int(links), "problems": problems}

    def layers(self, tr: Tracer, log: EventLog, result: dict, extra: dict) -> dict:
        run = "traced"
        v, e, w = (tr.named(n, run)[0] for n in ("graph.build.vertices", "graph.build.edges", "sources.write"))
        shuffle = log.totals(tr.subtree(v.id) | tr.subtree(e.id))["shuffle_mb"]
        written = dir_bytes(result["out"])
        return {
            "graph.build.extract_s": tr.named("functions.html")[0].seconds,
            "graph.build.links": extra["links"],
            "graph.build.vertices_s": v.seconds,
            "graph.build.edges_s": e.seconds,
            "graph.build.shuffle_mb": shuffle,
            "graph.build.edges_kept_frac": result["edges"] / extra["links"],
            "sources.write_s": w.seconds,
            "sources.written_mb": written / MB,
        }


class Rank(Workload):
    name = "rank"
    nominal_run_s = 10.0

    @staticmethod
    def prepare_graph(seed: int, cache: str) -> str:
        def make(d):
            n, src, dst = gen.make_graph(seed, GRAPH_VERTICES)
            gen.write_graph(os.path.join(d, "vertices.parquet"), os.path.join(d, "edges.parquet"), n, src, dst)
            np.savez(os.path.join(d, "graph.npz"), n=n, src=src, dst=dst)

        return _cached(os.path.join(cache, f"graph-v{gen.VERSION}-{GRAPH_VERTICES}-s{seed}"), make)

    @staticmethod
    def load_graph(path: str):
        g = np.load(os.path.join(path, "graph.npz"))
        return int(g["n"]), g["src"], g["dst"]

    def register(self, inputs: dict) -> None:
        self.inputs = inputs
        self.vertices = self.spark.read.parquet(os.path.join(inputs["dir"], "vertices.parquet"))
        self.edges = self.spark.read.parquet(os.path.join(inputs["dir"], "edges.parquet"))
        self.vertices.createOrReplaceTempView("vertices")
        self.edges.createOrReplaceTempView("edges")

    @classmethod
    def prepare(cls, seed: int, cache: str) -> dict:
        path = cls.prepare_graph(seed, cache)
        n, src, dst = cls.load_graph(path)

        def make(d):
            ranks, _, _ = oracles.pagerank(n, src, dst, tol=1e-15)
            np.save(os.path.join(d, "ranks.npy"), ranks)
            np.save(os.path.join(d, "cc.npy"), oracles.components(n, src, dst))
            np.save(os.path.join(d, "lpa.npy"), oracles.label_propagation(n, src, dst, LPA_ROUNDS))
            with open(os.path.join(d, "triangles.json"), "w") as f:
                json.dump(oracles.triangles(n, src, dst), f)

        want = _cached(os.path.join(path, "oracles"), make)
        # the single-threaded baseline, converged to the program's tolerance
        _, iters, secs = oracles.pagerank(n, src, dst, tol=PR_TOL)
        with open(os.path.join(want, "triangles.json")) as f:
            tri = json.load(f)
        return {
            "dir": path,
            "n": n,
            "m": int(src.size),
            "ranks": np.load(os.path.join(want, "ranks.npy")),
            "cc": np.load(os.path.join(want, "cc.npy")),
            "lpa": np.load(os.path.join(want, "lpa.npy")),
            "triangles": tri,
            "numpy_iters": iters,
            "numpy_pagerank_s": secs,
        }

    def _pagerank(self, tr: Tracer, ckpt: TimedCheckpoint, max_iter: int = PR_MAX_ITER):
        with tr.span("graph.pagerank"):
            return pagerank(
                self.vertices,
                self.edges,
                tol=PR_TOL,
                max_iter=max_iter,
                checkpoint=ckpt,
                checkpoint_every=PR_CHECKPOINT_EVERY,
            )

    def warmup(self, tr: Tracer) -> None:
        # every code path of a run (prelude, loop, one durable save) on the
        # same input; later iterations repeat the same plans
        out = self.out_dir()
        self._pagerank(tr, TimedCheckpoint(self.spark, out, tr), max_iter=PR_CHECKPOINT_EVERY)
        shutil.rmtree(out, ignore_errors=True)

    def run(self, tr: Tracer) -> dict:
        out = self.out_dir()
        ckpt = TimedCheckpoint(self.spark, out, tr)
        return {"out": out, "pr": self._pagerank(tr, ckpt), "ckpt": ckpt}

    def work(self, result: dict | None) -> float:
        iters = result["pr"].iterations if result else self.inputs["numpy_iters"]
        return float(self.inputs["m"] * iters)

    def steps(self, result: dict | None) -> list[float]:
        return [h["seconds"] for h in result["pr"].history] if result else []

    def check(self, result: dict) -> list[str]:
        df = result["pr"].ranks.toPandas()
        return oracles.check_ranks(df["id"].to_numpy(), df["rank"].to_numpy(), self.inputs["ranks"])

    def finish(self, result: dict | None) -> None:
        if result:
            shutil.rmtree(result["out"], ignore_errors=True)

    def traced_extra(self, tr: Tracer) -> dict:
        """Stop a run at a checkpoint, restart it with the same manager, check it."""
        out = self.out_dir()
        tr.run = "resume"
        ckpt = TimedCheckpoint(self.spark, out, tr, stop_at=RESUME_STOP_AT)
        with tr.span("rank.resume"):
            try:
                self._pagerank(tr, ckpt)
                stopped = False
            except StopRun:
                stopped = True
            # a killed driver loses its caches; the restart must not reuse them
            clear_caches(self.spark)
            ckpt.stop_at = None
            t0 = time.time()
            res = self._pagerank(tr, ckpt)
            resume_s = time.time() - t0
        problems = [] if stopped else [f"resume: run was not stopped at {RESUME_STOP_AT}"]
        problems += [f"resume: {p}" for p in self.check({"pr": res})]
        shutil.rmtree(out, ignore_errors=True)
        clear_caches(self.spark)
        tr.run = "structure"
        structure = self.structure(tr)
        problems += self.check_structure(structure)
        return {"resume_s": resume_s, "structure": structure, "problems": problems}

    def structure(self, tr: Tracer) -> dict:
        """Connected components, label propagation and triangles on the same
        edge table: union/distinct rounds under AQE and a wedge self-join use
        the session and shuffle layers unlike PageRank does."""
        with tr.span("graph.components"):
            cc = connected_components(self.vertices, self.edges)
        with tr.span("graph.lpa"):
            lpa = label_propagation(self.vertices, self.edges, max_rounds=LPA_ROUNDS)
        with tr.span("graph.triangles"):
            tri = triangle_count(self.edges)
        return {"cc": cc, "lpa": lpa, "triangles": tri.total}

    def check_structure(self, result: dict) -> list[str]:
        cc = result["cc"].toPandas()
        lpa = result["lpa"].toPandas()
        problems = oracles.check_labels(
            "components", cc["id"].to_numpy(), cc["component"].to_numpy(), self.inputs["cc"]
        )
        problems += oracles.check_labels(
            "labels", lpa["id"].to_numpy(), lpa["label"].to_numpy(), self.inputs["lpa"]
        )
        if result["triangles"] != self.inputs["triangles"]:
            problems.append(f"triangles: {result['triangles']} != {self.inputs['triangles']}")
        return problems

    def layers(self, tr: Tracer, log: EventLog, result: dict, extra: dict) -> dict:
        span = tr.named("graph.pagerank", "traced")[0]
        pr = result["pr"]
        it = max(pr.iterations, 1)
        tot = log.totals(tr.subtree(span.id))
        busy = log.busy_seconds(span.start, span.end)
        saves = result["ckpt"].saves
        return {
            "graph.pagerank.prelude_s": span.seconds - sum(h["seconds"] for h in pr.history),
            "graph.pagerank.iterations": pr.iterations,
            "graph.pagerank.busy_s": busy,
            "graph.pagerank.cpu_frac": tot["cpu_frac"],
            "graph.pagerank.idle_s": span.seconds - busy,
            "graph.pagerank.jobs_per_iter": tot["jobs"] / it,
            "graph.pagerank.tasks_per_iter": tot["tasks"] / it,
            "graph.pagerank.shuffle_mb_per_iter": tot["shuffle_mb"] / it,
            "graph.pagerank.retained_mb": (span.cached_after - span.cached_before) / MB,
            "checkpoint.saves": len(saves),
            "checkpoint.save_s": sum(s for s, _ in saves),
            "checkpoint.written_mb": sum(b for _, b in saves) / MB,
            "checkpoint.resume_s": extra["resume_s"],
            "graph.triangles.total": extra["structure"]["triangles"],
            **{
                f"{layer}.{k}": v
                for layer in ("graph.components", "graph.lpa", "graph.triangles")
                for k, v in _span_stats(tr, log, tr.named(layer, "structure")[0]).items()
            },
        }


WORKLOADS = {w.name: w for w in (Build, Rank)}
