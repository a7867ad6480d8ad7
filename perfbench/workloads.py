"""The workloads: inputs, one build of the graph, and the viewer's reads.

Each workload drives the program through its public entry points only:
``pipeline.run_pipeline`` (fused) or ``pipeline.run_pipeline_checkpointed``,
then ``sinks.graph_tables.write_graph_tables``, then the read queries of
``sinks.graph_tables``, ``operators.graphq`` and ``operators.components``
on the written tables.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np

import check
import gen

# Sizes chosen so one build takes a few seconds on a 4-core host; "smoke"
# is a tiny version of each for a quick end-to-end check of the benchmark.
# Full-size prose pages all have the same paragraph count, so the triples a
# refresh extracts from its few new pages vary little from seed to seed.
SIZES = {
    "dup_tiles": {"full": {"docs": 250, "tiles": 12}, "smoke": {"docs": 40, "tiles": 4}},
    "refresh_resume": {
        "full": {"pages": 24, "pool": 200_000, "paragraphs": (38, 38)},
        "smoke": {"pages": 8, "pool": 2_000, "paragraphs": (3, 6)},
    },
}
TOP_K = 10
BFS_HOPS = 3
BFS_ROOTS = 1  # BFS queries per read round, each from its own root
KHOP_K = 2
PATH_ROOTS = 3
PATH_HOPS = 3


class Workload:
    def __init__(self, name: str, spark, work: str, seed: int, smoke: bool, n_files: int):
        self.name = name
        self.spark = spark
        self.work = work
        self.size = SIZES[name]["smoke" if smoke else "full"]
        self.n_files = n_files
        self.rng = np.random.default_rng(seed)
        self.model = "vocab" if name == "dup_tiles" else "prose"
        self.pages_path = os.path.join(work, "pages")
        self.gt_path = os.path.join(work, "graph")
        self.ck_path = os.path.join(work, "ck")
        self.ck_base = os.path.join(work, "ck_base")

    # ---------------------------------------------------------------- set-up

    def setup(self) -> dict:
        """Write the pages table and build the oracle; returns timings."""
        t0 = time.monotonic()
        if self.name == "dup_tiles":
            docs = gen.vocab_docs(self.rng, self.size["docs"])
            idx, urls = gen.tiled_urls(len(docs), self.size["tiles"])
            table = gen.pages_table([docs[i] for i in idx], urls, self.rng)
            oracle_urls, oracle_html = urls[: len(docs)], [gen.wrap_html(d) for d in docs]
            scale = self.size["tiles"]
        else:
            s = self.size
            n = s["pages"] + s["pages"] // 8
            docs = gen.prose_docs(self.rng, n, s["pool"], 1.0, s["paragraphs"])
            urls = [f"https://bench.test/{self.name}/{i}" for i in range(len(docs))]
            table = gen.pages_table(docs, urls, self.rng)
            oracle_urls, oracle_html = urls, table.column("html").to_pylist()
            scale = 1
        gen.write_pages(table, self.pages_path, self.n_files)
        self.html_bytes = sum(len(h) for h in table.column("html").to_pylist())
        t1 = time.monotonic()
        types_of = None
        if self.model == "vocab":
            from text_to_graph_spark.kit.extract import ENTITY_CATEGORIES

            types_of = ENTITY_CATEGORIES.get
        self.expected = check.Expected(
            oracle_urls, oracle_html, self.model, scale=scale, types_of=types_of
        )
        t2 = time.monotonic()
        self.triples_extracted = self.expected.n_triples
        if self.name == "refresh_resume":
            # a refresh extracts only the pages its checkpoint has not seen
            new = oracle_urls[self.size["pages"]:]
            self.triples_extracted = int(
                self.expected.triples_of_url.reindex(new, fill_value=0).sum())
            self._build_base(table)
        self._choose_read_keys()
        return {"gen_s": t1 - t0, "oracle_s": t2 - t1, "base_s": time.monotonic() - t2}

    def _build_base(self, table) -> None:
        """The checkpoint workdir of a first build over the first N pages;
        every refresh resumes from a fresh copy of it."""
        from text_to_graph_spark.pipeline import run_pipeline_checkpointed

        base_pages = os.path.join(self.work, "pages_base")
        gen.write_pages(table.slice(0, self.size["pages"]), base_pages, self.n_files)
        pages = self.spark.read.parquet(base_pages)
        run_pipeline_checkpointed(self.spark, pages, self.ck_base, self.config())

    def _choose_read_keys(self) -> None:
        """Seeded, Zipf-weighted picks over subjects ranked by out-degree."""
        g = self.expected.graph
        ranked = sorted(g.out_d, key=lambda k: (-g.out_d[k], k))

        def pick(keys, n):
            w = 1.0 / np.arange(1, len(keys) + 1)
            return [keys[i] for i in self.rng.choice(len(keys), size=n, p=w / w.sum())]

        self.lookup_keys = pick(ranked, 64)
        self.roots = pick(ranked, 64)
        # BFS roots: those whose search runs the most hops before its frontier
        # empties and reaches at least half as many nodes as the widest such
        # search, so every BFS query runs the same Spark jobs over similar
        # frontiers whatever the seed
        shape = {}
        for k in ranked:
            d = g.bfs([k], BFS_HOPS)
            shape[k] = (min(max(d.values()) + 1, BFS_HOPS), len(d))
        most = max(h for h, _ in shape.values())
        wide = max(n for h, n in shape.values() if h == most)
        self.bfs_roots = pick([k for k in ranked if shape[k][0] == most and 2 * shape[k][1] >= wide], 64)

    def config(self):
        from text_to_graph_spark.pipeline import PipelineConfig

        if self.name == "refresh_resume":
            return PipelineConfig(model=self.model)
        return PipelineConfig(model=self.model, impl="fused")

    # ---------------------------------------------------------------- build

    def prepare(self) -> None:
        """Leave nothing from the last build: outputs, cached data, and (for
        the refresh) the checkpoint workdir, restored from its base copy."""
        self.spark.catalog.clearCache()
        shutil.rmtree(self.gt_path, ignore_errors=True)
        if self.name == "refresh_resume":
            shutil.rmtree(self.ck_path, ignore_errors=True)
            shutil.copytree(self.ck_base, self.ck_path)

    def build(self, tracer=None, materialize=None) -> None:
        """Pages table -> written graph tables, through the public API."""
        from text_to_graph_spark import pipeline
        from text_to_graph_spark.sinks import graph_tables

        span = tracer.span if tracer else nospan
        with span("pages.scan"):
            pages = self.spark.read.parquet(self.pages_path)
            if materialize:
                pages = materialize(tracer, pages)
        with span("pipeline"):
            if self.name == "refresh_resume":
                stages = pipeline.run_pipeline_checkpointed(
                    self.spark, pages, self.ck_path, self.config()
                )
            else:
                stages = pipeline.run_pipeline(self.spark, pages, self.config())
        with span("sink.write"):
            graph_tables.write_graph_tables(stages["nodes"], stages["edges"], self.gt_path)

    def check_build(self) -> int:
        bad = check.graph_mismatches(self.expected, self.gt_path)
        if self.name == "refresh_resume":
            bad += check.stage_duplicates(self.ck_path)
        return bad

    def staged_breakdown(self, tracer, materialize) -> None:
        """Decode, pack and model as separate materialized stages over the
        same pages (the fused UDF runs all three in one Python call)."""
        from text_to_graph_spark.operators.chunking import chunk_pages
        from text_to_graph_spark.operators.extraction import extract_text, extract_triples

        pages = materialize(tracer, self.spark.read.parquet(self.pages_path))
        with tracer.span("extraction.decode"):
            text = materialize(tracer, extract_text(pages))
        with tracer.span("chunking.pack"):
            chunks = materialize(tracer, chunk_pages(text))
        with tracer.span("extraction.model"):
            materialize(tracer, extract_triples(chunks, self.model))

    # ---------------------------------------------------------------- reads

    def read_round(self, i: int, n_lookups: int, kinds, span, lat: dict) -> int:
        """One viewer session on the written tables: ``n_lookups`` point
        lookups, then the queries in ``kinds``. Appends latencies (ms) per
        query kind to ``lat`` and returns the number of wrong answers."""
        from text_to_graph_spark.operators import components, graphq
        from text_to_graph_spark.sinks import graph_tables

        g = self.expected.graph
        bad = 0
        sp = self.spark
        for j in range(n_lookups):
            key = self.lookup_keys[(i * n_lookups + j) % len(self.lookup_keys)]
            with span("graph_tables.lookup"):
                t = time.perf_counter()
                rows = graph_tables.edges_of_subject(sp, self.gt_path, key).collect()
                lat["lookup"].append((time.perf_counter() - t) * 1e3)
            bad += {(r.subj_key, r.pred_key, r.obj_key) for r in rows} != g.out_edges[key]
        roots = [self.roots[(i * PATH_ROOTS + j) % len(self.roots)] for j in range(PATH_ROOTS)]
        root_df = lambda rs: sp.createDataFrame([(r,) for r in rs], "node string")
        if "degree" in kinds:
            with span("graphq.degree"):
                t = time.perf_counter()
                edges = graph_tables.read_edges(sp, self.gt_path)
                rows = graphq.top_k_by_count(graphq.node_degrees(edges), "degree", TOP_K).collect()
                lat["degree"].append((time.perf_counter() - t) * 1e3)
            bad += [tuple(r[c] for c in ("key", "out_degree", "in_degree", "degree")) for r in rows] != g.top_degrees(TOP_K)
        if "bfs" in kinds:
            for j in range(BFS_ROOTS):
                root = self.bfs_roots[(i * BFS_ROOTS + j) % len(self.bfs_roots)]
                with span("components.bfs"):
                    t = time.perf_counter()
                    edges = graph_tables.read_edges(sp, self.gt_path)
                    rows = components.bfs_distances(
                        edges, root_df([root]), "subj_key", "obj_key", max_hops=BFS_HOPS
                    ).collect()
                    lat["traversal"].append((time.perf_counter() - t) * 1e3)
                bad += {(r.node, r.distance) for r in rows} != set(g.bfs([root], BFS_HOPS).items())
        if "khop" in kinds:
            with span("components.khop"):
                t = time.perf_counter()
                edges = graph_tables.read_edges(sp, self.gt_path)
                nodes, sub = components.k_hop_subgraph(
                    edges, root_df(roots[1:2]), KHOP_K, "subj_key", "obj_key"
                )
                got_n = {(r.node, r.distance) for r in nodes.collect()}
                got_e = {(r.subj_key, r.pred_key, r.obj_key) for r in
                         sub.select("subj_key", "pred_key", "obj_key").collect()}
                lat["traversal"].append((time.perf_counter() - t) * 1e3)
            dist, sub_e = g.k_hop(roots[1:2], KHOP_K)
            bad += got_n != set(dist.items()) or got_e != sub_e
        if "paths" in kinds:
            with span("components.paths"):
                t = time.perf_counter()
                edges = graph_tables.read_edges(sp, self.gt_path)
                rows = components.pairwise_shortest_paths(
                    edges, root_df(roots), "subj_key", "obj_key", max_hops=PATH_HOPS
                ).collect()
                lat["traversal"].append((time.perf_counter() - t) * 1e3)
            got = {(r.src_root, r.dst_root, r.distance, r.path) for r in rows}
            bad += got != g.shortest_paths(roots, PATH_HOPS)
        return bad



def nospan(name: str):
    """Stand-in for ``Tracer.span`` when nothing is traced."""
    return contextlib.nullcontext()
