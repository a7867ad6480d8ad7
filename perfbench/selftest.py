"""Self-test of the checker, without Spark: the oracle's own graph written in
the sink's layout passes, and every perturbed copy of it is rejected."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

import numpy as np
import pandas as pd

import check
import gen


def _write(edges: pd.DataFrame, nodes: pd.DataFrame, path: str) -> None:
    """The graph tables' shape: doc_ids arrays, a types array, bucket dirs."""
    e = edges.assign(doc_ids=[[f"u{i}" for i in range(n)] for n in edges["n_docs"]])
    n = nodes.assign(
        doc_ids=[[f"u{i}" for i in range(k)] for k in nodes["n_docs"]],
        types=[t.split("|") for t in nodes["types"]],
    )
    for name, df in (("edges", e), ("nodes", n)):
        d = os.path.join(path, name, "bucket=0")
        os.makedirs(d)
        df.to_parquet(os.path.join(d, "part-0.parquet"), index=False)


def main(scratch: str) -> int:
    """Runs the checks, writing test tables under ``scratch``."""
    from text_to_graph_spark.kit.extract import ENTITY_CATEGORIES

    rng = np.random.default_rng(7)
    docs = gen.vocab_docs(rng, 200)
    exp = check.Expected([f"u{i}" for i in range(len(docs))],
                         [gen.wrap_html(d) for d in docs], "vocab",
                         scale=3, types_of=ENTITY_CATEGORIES.get)
    edges, nodes = exp.edges.copy(), exp.nodes.copy()

    def bump(df, col):
        df = df.copy()
        df.loc[df.index[0], col] += 1
        return df

    def relabel(df, col):
        df = df.copy()
        df.loc[df.index[-1], col] = df.loc[df.index[-1], col].upper()
        return df

    cases = {
        "oracle graph": (edges, nodes, False),
        "edge n_occurrences + 1": (bump(edges, "n_occurrences"), nodes, True),
        "edge n_docs + 1": (bump(edges, "n_docs"), nodes, True),
        "edge dropped": (edges.iloc[1:], nodes, True),
        "edge duplicated": (pd.concat([edges, edges.iloc[:1]]), nodes, True),
        "edge label changed": (relabel(edges, "obj_label"), nodes, True),
        "node n_docs + 1": (edges, bump(nodes, "n_docs"), True),
        "node dropped": (edges, nodes.iloc[1:], True),
        "node type changed": (edges, nodes.assign(types="entity"), True),
    }
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=scratch)
    ok = True
    try:
        for i, (what, (e, n, must_fail)) in enumerate(cases.items()):
            path = os.path.join(tmp, str(i))
            _write(e, n, path)
            bad = check.graph_mismatches(exp, path)
            good = (bad > 0) == must_fail
            ok &= good
            print(f"{'ok ' if good else 'BAD'} {what}: {bad} mismatching rows")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(scratch)  # only if no other run is using it

    # read-query reference on a hand-checked graph
    g = check.Graph(["a", "b", "c", "a"], ["p", "p", "p", "q"], ["b", "c", "d", "c"])
    reads = {
        "bfs": g.bfs(["a"], 3) == {"a": 0, "b": 1, "c": 1, "d": 2},
        "bfs perturbed": g.bfs(["a"], 3) != {"a": 0, "b": 1, "c": 2, "d": 3},
        "k-hop": g.k_hop(["d"], 1) == ({"d": 0, "c": 1}, {("c", "p", "d")}),
        "paths": g.shortest_paths(["a", "d"], 3)
        == {("a", "d", 2, "a>c>d"), ("d", "a", 2, "d>c>a")},
        "degrees": g.top_degrees(1) == [("c", 1, 2, 3)],
    }
    for what, good in reads.items():
        ok &= good
        print(f"{'ok ' if good else 'BAD'} {what}")
    print("self-test passed" if ok else "self-test FAILED")
    return 0 if ok else 1
