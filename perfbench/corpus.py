"""The corpus workload's inputs: seeded samples of the ``sf0.1`` slice
in ``data/sf0.1-slice`` (cut by ``data/make_slice.py``).

A sample keeps the shape of the whole ``sf0.1`` documents table, as
``make_slice.py`` measures it: the same share of documents in
near-duplicate groups (477 of 5,000) and the same source mix (an equal
number per source). Groups are taken whole, so every near-duplicate
pair of a sampled document comes along. Rows are verbatim; only the
embeddings are re-numbered, so that the ANN entries' fixed query set
(``vec_id < 40``) has the same size on every seed.
"""

from __future__ import annotations

import collections
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SLICE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1-slice")
# sf0.1: 477 of its 5,000 documents have a trigram-Jaccard >= 0.5 partner
NEAR_DUP_SHARE = 477 / 5000


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(SLICE, f"{name}.parquet"))


def documents(seed: int, n_corpus: int, n_new: int) -> tuple[list[dict], list[dict]]:
    """``(corpus, new)``: ``n_corpus`` documents with sf0.1's near-dup
    share and an equal count per source, and ``n_new`` further
    documents, also an equal count per source, with no near-duplicate
    anywhere in sf0.1. Deterministic in ``seed``."""
    docs = _read("documents").to_pylist()
    by_id = {d["doc_id"]: d for d in docs}
    with open(os.path.join(SLICE, "groups.json")) as fh:
        groups = json.load(fh)["near_dup_groups"]
    sources = sorted({d["source"] for d in docs})
    if n_corpus % len(sources) or n_new % len(sources):
        raise ValueError(f"sizes must be multiples of the {len(sources)} sources")
    rng = random.Random(seed)
    rng.shuffle(groups)
    corpus: list[dict] = []
    for g in groups:
        if len(corpus) + len(g) > round(NEAR_DUP_SHARE * n_corpus):
            continue
        corpus.extend(by_id[i] for i in g)
    grouped = {i for g in groups for i in g}
    singles: dict[str, list[dict]] = collections.defaultdict(list)
    for d in docs:
        if d["doc_id"] not in grouped:
            singles[d["source"]].append(d)
    have = collections.Counter(d["source"] for d in corpus)
    new: list[dict] = []
    for s in sources:
        picked = rng.sample(singles[s], n_corpus // len(sources) - have[s] + n_new // len(sources))
        corpus.extend(picked[: n_corpus // len(sources) - have[s]])
        new.extend(picked[n_corpus // len(sources) - have[s]:])
    corpus.sort(key=lambda d: d["doc_id"])
    new.sort(key=lambda d: d["doc_id"])
    return corpus, new


def embeddings(seed: int, n: int) -> list[dict]:
    """``n`` embedding rows sampled from the slice, re-numbered
    ``0..n-1`` in sample order."""
    rows = _read("embeddings").to_pylist()
    picked = random.Random(seed).sample(rows, n)
    return [dict(r, vec_id=i) for i, r in enumerate(picked)]


def write_parquet(rows: list[dict], name: str, path: str) -> int:
    """Writes ``rows`` with the slice's schema of table ``name``; returns
    the file's size in bytes."""
    schema = pq.read_schema(os.path.join(SLICE, f"{name}.parquet")).remove_metadata()
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return os.path.getsize(path)
