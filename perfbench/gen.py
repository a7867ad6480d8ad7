"""Seeded input generators: every workload's pages table comes from here.

The program receives only what these functions write: a multi-file parquet
pages table ``(url, warc_ts, html, text, lang)``. The html wrap is written
here from the format's definition (``<html><body><p>..</p></body></html>``
with ``&``, ``<``, ``>`` escaped), not through the program's own codec.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The closed vocabulary of the documents.parquet fixtures: 19 entity nouns,
# 6 predicate verbs, 6 articles/adjectives, drawn uniformly ("dup" is rare).
VOCAB_ENTITIES = (
    "customer spark query agg table row column key part batch value data "
    "stream vector hash order window line"
).split()
VOCAB_PREDICATES = "join scan merge filter sort group".split()
VOCAB_STOP = "the a fast slow small big".split()
LANGS = ("en", "de", "fr", "es", "zh")
_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def wrap_html(text: str) -> bytes:
    body = "".join(
        "<p>" + p.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;") + "</p>"
        for p in text.split("\n\n")
    )
    return ("<html><body>" + body + "</body></html>").encode("utf-8")


def vocab_docs(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Short lowercase token streams, 10..100 tokens each."""
    words = np.array(VOCAB_ENTITIES + VOCAB_PREDICATES + VOCAB_STOP + ["dup"])
    p = np.full(len(words), 1.0)
    p[-1] = 0.03
    p /= p.sum()
    lengths = rng.integers(10, 101, size=n_docs)
    toks = rng.choice(words, size=int(lengths.sum()), p=p)
    out, at = [], 0
    for n in lengths:
        out.append(" ".join(toks[at : at + n]))
        at += n
    return out


_SYLLABLES = (
    "ka ro mi ta ven dor sel bri lum nox qua zer tal fen gor hul pim "
    "sar tov wen yul bex cad dru fal gim jor kel mor nal pek rin sut "
    "tam vol zan"
).split()
_VERBS = (
    "acquired;partnered with;supplies parts to;competes against;"
    "invested in;sued;licensed technology to;hired staff from;"
    "audited;merged with;outsourced work to;criticized"
).split(";")
_FILLER = (
    "results were mixed across several regions this quarter.",
    "analysts expect further changes over the coming months.",
    "details of the arrangement were not disclosed.",
    "the figures remain preliminary and may be revised.",
    "observers noted a steady rise in overall activity.",
)


def entity_pool(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct two-word capitalized names; no two differ by case only."""
    n_words = int(np.ceil(np.sqrt(n))) + 1
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 4))
        w = "".join(rng.choice(_SYLLABLES, size=k)).capitalize()
        if w.lower() not in seen:
            seen.add(w.lower())
            words.append(w)
    firsts = rng.permutation(n_words)
    seconds = rng.permutation(n_words)
    return [f"{words[firsts[i // n_words]]} {words[seconds[i % n_words]]}" for i in range(n)]


def prose_docs(
    rng: np.random.Generator,
    n_docs: int,
    pool: int,
    zipf_s: float,
    paragraphs: tuple[int, int],
) -> list[str]:
    """Multi-paragraph prose; entity names Zipf-drawn from a ``pool``."""
    names = entity_pool(rng, pool)
    w = 1.0 / np.arange(1, pool + 1) ** zipf_s
    cdf = np.cumsum(w / w.sum())
    docs = []
    for _ in range(n_docs):
        paras = []
        for _ in range(int(rng.integers(paragraphs[0], paragraphs[1] + 1))):
            sents = []
            for _ in range(int(rng.integers(4, 9))):
                if rng.random() < 0.2:
                    sents.append(_FILLER[int(rng.integers(len(_FILLER)))].capitalize())
                    continue
                e = np.searchsorted(cdf, rng.random(3))
                v = rng.integers(len(_VERBS), size=2)
                s = f"{names[e[0]]} {_VERBS[v[0]]} {names[e[1]]}"
                if rng.random() < 0.5:
                    s += f" and {_VERBS[v[1]]} {names[e[2]]}"
                sents.append(s + ".")
            paras.append(" ".join(sents))
        docs.append("\n\n".join(paras))
    return docs


def pages_table(texts: list[str], urls: list[str], rng: np.random.Generator) -> pa.Table:
    return pa.Table.from_pydict(
        {
            "url": urls,
            "warc_ts": [_EPOCH + timedelta(seconds=i) for i in range(len(urls))],
            "html": [wrap_html(t) for t in texts],
            "text": texts,
            "lang": list(rng.choice(LANGS, size=len(urls))),
        },
        schema=PAGES_SCHEMA,
    )


def write_pages(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files of equal row counts, so
    the scan gives each core a partition with a similar share of the work."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(n_files):
        part = table.slice(i * n // n_files, (i + 1) * n // n_files - i * n // n_files)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def tiled_urls(n_docs: int, tiles: int) -> tuple[list[int], list[str]]:
    """Doc index and url of every page when each doc is tiled ``tiles``x
    under distinct urls; copies are interleaved so each file holds all docs."""
    idx = [d for _ in range(tiles) for d in range(n_docs)]
    urls = [f"https://bench.test/d{d}/c{c}" for c in range(tiles) for d in range(n_docs)]
    return idx, urls
