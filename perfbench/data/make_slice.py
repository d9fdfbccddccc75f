"""Cuts the benchmark's corpus slice out of an ``sf0.1`` test-data
directory and prints the shape of both.

    python3 perfbench/data/make_slice.py <sf0.1 dir> perfbench/data/sf0.1-slice

The slice holds verbatim rows of the ``documents`` and ``embeddings``
tables:

- documents: every near-duplicate group whose smallest ``doc_id`` is
  below ``DOC_IDS``, so a group is never split. A group is a connected
  component of the exact trigram-Jaccard >= 0.5 pair relation that the
  registry's ``dedup_minhash_lsh`` oracle SQL defines; a document with
  no such partner is its own group;
- embeddings: the rows with ``vec_id`` below ``VEC_IDS``.

``groups.json`` lists the groups of more than one document, so that a
run can sample whole groups without recomputing them.
"""

from __future__ import annotations

import collections
import json
import os
import statistics
import sys
from pathlib import Path

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from topn_clashroyal_etl_sql_snapshot_spark.plans import testdata_queries  # noqa: E402

DOC_IDS = 2000
VEC_IDS = 600


def near_dup_groups(con) -> list[list[int]]:
    """Connected components of the exact pair relation, largest first."""
    pairs = con.execute(testdata_queries.oracle_sql()["dedup_minhash_lsh"]).fetchall()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = collections.defaultdict(list)
    for x in {x for a, b, _ in pairs for x in (a, b)}:
        comps[find(x)].append(x)
    return sorted((sorted(c) for c in comps.values()), key=lambda c: (-len(c), c))


def shape(docs: list[dict], groups: list[list[int]]) -> dict:
    """The figures that steer the corpus operators' plans."""
    ids = {d["doc_id"] for d in docs}
    in_groups = [g for g in groups if set(g) <= ids]
    words = [len(d["text"].split()) for d in docs]
    per_source = collections.Counter(d["source"] for d in docs)
    return {
        "documents": len(docs),
        "vocabulary": len({w for d in docs for w in d["text"].split()}),
        "words_min_max": [min(words), max(words)],
        "words_deciles": [round(x) for x in statistics.quantiles(words, n=10)],
        "near_dup_groups": len(in_groups),
        "docs_in_near_dup_groups": sum(len(g) for g in in_groups),
        "sources": len(per_source),
        "docs_per_source_min_max": [min(per_source.values()), max(per_source.values())],
        "langs": dict(sorted(collections.Counter(d["lang"] for d in docs).items())),
    }


def main(src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}/documents.parquet')")
    groups = near_dup_groups(con)
    con.close()

    docs = pq.read_table(f"{src}/documents.parquet")
    first = {x: g[0] for g in groups for x in g}
    keep = [first.get(i, i) < DOC_IDS for i in docs.column("doc_id").to_pylist()]
    sliced = docs.filter(keep)
    pq.write_table(sliced, f"{dst}/documents.parquet")
    emb = pq.read_table(f"{src}/embeddings.parquet")
    pq.write_table(emb.filter(pc.less(emb.column("vec_id"), VEC_IDS)),
                   f"{dst}/embeddings.parquet")
    kept = [g for g in groups if g[0] < DOC_IDS]
    with open(f"{dst}/groups.json", "w") as fh:
        json.dump({"near_dup_groups": kept}, fh, separators=(",", ":"))
        fh.write("\n")
    print(json.dumps({"sf0.1": shape(docs.to_pylist(), groups),
                      "slice": shape(sliced.to_pylist(), kept)}, indent=1))


if __name__ == "__main__":
    main(*sys.argv[1:3])
