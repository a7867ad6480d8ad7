"""Expected outputs and the comparisons every workload's results go through.

The expected graph is ``tests/oracle.py``'s single-process composition of
the program's pure ``kit`` functions (decode -> pack -> model -> pandas
canonical merges). Graph reads are checked against plain-Python BFS,
k-hop, shortest-path and degree code over the expected edge list.
"""

from __future__ import annotations

import time
from collections import defaultdict

import pandas as pd
import pyarrow.dataset as ds

EDGE_KEY = ["subj_key", "pred_key", "obj_key"]
EDGE_COLS = EDGE_KEY + ["subj_label", "pred_label", "obj_label", "n_docs", "n_occurrences"]
NODE_COLS = ["key", "label", "n_docs", "types"]


class Expected:
    """Oracle graph for one set of pages, with the per-core ``kit`` times
    measured while building it."""

    def __init__(self, urls, htmls, model: str, chunk_size: int = 1000,
                 scale: int = 1, types_of=None):
        from tests import oracle

        pages = pd.DataFrame({"url": urls, "html": htmls})
        t0 = time.process_time()
        extracted = oracle.oracle_extract(pages)
        t1 = time.process_time()
        chunks = oracle.oracle_chunks(extracted, chunk_size)
        t2 = time.process_time()
        triples = oracle.oracle_triples(chunks, model)
        t3 = time.process_time()
        edges = oracle.oracle_canonical_edges(triples)
        nodes = oracle.oracle_canonical_nodes(triples)
        self.kit = {"decode_core_s": t1 - t0, "pack_core_s": t2 - t1, "model_core_s": t3 - t2}
        self.decode_null_rows = int(extracted["text"].isna().sum())
        self.n_pages = len(pages) * scale
        self.n_chunks = len(chunks) * scale
        self.n_triples = len(triples) * scale
        self.triples_of_url = triples.groupby("url").size()
        edges["n_docs"] *= scale
        edges["n_occurrences"] *= scale
        nodes["n_docs"] *= scale
        nodes["types"] = nodes["key"].map(types_of) if types_of else "entity"
        self.edges = edges[EDGE_COLS]
        self.nodes = nodes[NODE_COLS]
        self.edge_rows = set(self.edges.itertuples(index=False, name=None))
        self.node_rows = set(self.nodes.itertuples(index=False, name=None))
        self.graph = Graph(edges["subj_key"], edges["pred_key"], edges["obj_key"])


def read_table(path: str) -> pd.DataFrame:
    """A parquet table directory (hive partitions included) as pandas."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def graph_mismatches(exp: Expected, gt_path: str) -> int:
    """Rows of the written graph tables that differ from the oracle (either
    side), plus rows whose ``doc_ids`` disagree with ``n_docs``."""
    e = read_table(f"{gt_path}/edges")
    n = read_table(f"{gt_path}/nodes")
    bad = int((e["doc_ids"].map(len) != e["n_docs"]).sum())
    bad += int((n["doc_ids"].map(len) != n["n_docs"]).sum())
    n = n.assign(types=n["types"].map(lambda t: "|".join(t)))
    got_e = set(e[EDGE_COLS].itertuples(index=False, name=None))
    got_n = set(n[NODE_COLS].itertuples(index=False, name=None))
    bad += len(got_e ^ exp.edge_rows) + len(got_n ^ exp.node_rows)
    return bad + abs(len(e) - len(exp.edge_rows)) + abs(len(n) - len(exp.node_rows))


def stage_duplicates(workdir: str) -> int:
    """Duplicate keys in the checkpointed stage tables."""
    keys = {"extracted": ["url"], "chunks": ["url", "chunk_index"],
            "triples": ["url", "chunk_index", "pos"]}
    bad = 0
    for stage, cols in keys.items():
        t = read_table(f"{workdir}/{stage}")
        bad += int(t.duplicated(cols + ["config_id"]).sum())
    return bad


class Graph:
    """Plain-Python reference for the read queries (undirected traversal,
    the program's ``direction="both"`` default)."""

    def __init__(self, subj, pred, obj):
        self.edges = list(zip(subj, pred, obj))
        self.adj: dict[str, set[str]] = defaultdict(set)
        self.out_edges: dict[str, set[tuple]] = defaultdict(set)
        self.out_d: dict[str, int] = defaultdict(int)
        self.in_d: dict[str, int] = defaultdict(int)
        for s, p, o in self.edges:
            self.adj[s].add(o)
            self.adj[o].add(s)
            self.out_edges[s].add((s, p, o))
            self.out_d[s] += 1
            self.in_d[o] += 1

    def bfs(self, roots, max_hops: int) -> dict[str, int]:
        dist = {r: 0 for r in roots}
        frontier = set(roots)
        for hop in range(1, max_hops + 1):
            nxt = {v for u in frontier for v in self.adj.get(u, ()) if v not in dist}
            if not nxt:
                break
            for v in nxt:
                dist[v] = hop
            frontier = nxt
        return dist

    def k_hop(self, roots, k: int) -> tuple[dict[str, int], set[tuple]]:
        dist = self.bfs(roots, k)
        return dist, {e for e in self.edges if e[0] in dist and e[2] in dist}

    def shortest_paths(self, roots, max_hops: int) -> set[tuple]:
        """(src, dst, distance, path) with the lexicographically smallest
        node-sequence path per pair, self-loops ignored."""
        out = set()
        for r in roots:
            best = {r: [r]}
            frontier = {r: [r]}
            for hop in range(1, max_hops + 1):
                cand: dict[str, list[str]] = {}
                for u, path in frontier.items():
                    for v in self.adj.get(u, ()):
                        if v == u or v in best:
                            continue
                        p = path + [v]
                        if v not in cand or p < cand[v]:
                            cand[v] = p
                if not cand:
                    break
                best.update(cand)
                frontier = cand
            for d in roots:
                if d != r and d in best:
                    out.add((r, d, len(best[d]) - 1, ">".join(best[d])))
        return out

    def top_degrees(self, k: int) -> list[tuple]:
        rows = [(n, self.out_d[n], self.in_d[n], self.out_d[n] + self.in_d[n])
                for n in set(self.out_d) | set(self.in_d)]
        rows.sort(key=lambda r: (-r[3], r[0], r[1], r[2]))
        return rows[:k]
