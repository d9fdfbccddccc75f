"""Self-tests of the benchmark's generator and measurement helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE.parent), str(HERE)]

import corpus  # noqa: E402
from battlegen import BATTLELOG_PAGE, generate  # noqa: E402
from harness import MIN_BEYOND, Span, percentile, self_time  # noqa: E402

from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import (  # noqa: E402
    oracle_etl,
    py_normalize_tag,
)


def test_generator_is_deterministic_per_seed():
    assert generate(7, 200, 50) == generate(7, 200, 50)
    assert generate(7, 200, 50) != generate(8, 200, 50)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_generator_output_passes_g5_topn_meta_bound(seed):
    top_n = 120
    leaderboard, battles = generate(seed, 1000, top_n)
    assert len(battles) == top_n * BATTLELOG_PAGE and len(leaderboard) == 1000
    top = {py_normalize_tag(p["tag"]) for p in leaderboard[:top_n]}
    assert all(py_normalize_tag(b["team"][0]["tag"]) in top for b in battles)
    o = oracle_etl(leaderboard, battles, [], top_n)
    topn = sum(uses for uses, _ in o["player_decks"].values())
    meta = sum(uses for uses, _ in o["meta_deck_types"].values())
    assert 0 < topn <= meta <= 2 * topn
    # decks come from the whole catalog, not a handful of templates
    assert len(o["decks"]) > 500


def test_percentile_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 201)]  # 200 samples
    assert percentile(values, 0.95) == 190.0  # 10 beyond
    with pytest.raises(ValueError):
        percentile(values, 0.96)  # 8 beyond
    with pytest.raises(ValueError):
        percentile(values[:MIN_BEYOND], 0.5)


def test_corpus_sample_keeps_the_sf01_shape():
    docs, new = corpus.documents(7, 800, 100)
    assert (docs, new) == corpus.documents(7, 800, 100)
    assert docs != corpus.documents(8, 800, 100)[0]
    ids = [d["doc_id"] for d in docs + new]
    assert len(set(ids)) == 900
    # an equal count per source, as in sf0.1
    for rows, per_source in ((docs, 40), (new, 5)):
        counts = {}
        for d in rows:
            counts[d["source"]] = counts.get(d["source"], 0) + 1
        assert set(counts.values()) == {per_source} and len(counts) == 20
    # whole near-dup groups, about sf0.1's share of grouped documents;
    # the new documents belong to none
    with open(os.path.join(corpus.SLICE, "groups.json")) as fh:
        groups = json.load(fh)["near_dup_groups"]
    grouped = {i for g in groups for i in g}
    taken = [g for g in groups if grouped & set(g) & set(ids)]
    assert all(set(g) <= set(ids) for g in taken)
    n_grouped = sum(d["doc_id"] in grouped for d in docs)
    assert abs(n_grouped - corpus.NEAR_DUP_SHARE * 800) <= 6
    assert not any(d["doc_id"] in grouped for d in new)


def _span(i, start, end, parent=None, bookkeeping=0.0):
    return Span(i, f"s{i}", "plans", 1, parent, start, end,
                outer_start=start - bookkeeping, outer_end=end + bookkeeping)


def test_self_time_is_duration_minus_child_coverage():
    root = _span(1, 0.0, 10.0)
    spans = [
        root,
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 4.0, parent=1),   # overlaps span 2: covered once
        _span(4, 6.0, 7.0, parent=1, bookkeeping=0.5),  # covers 5.5..7.5
        _span(5, 6.2, 6.8, parent=4),   # grandchild: not the root's child
        _span(6, 9.5, 12.0, parent=1),  # clipped to the root's end
    ]
    assert self_time(root, spans) == pytest.approx(10.0 - 3.0 - 2.0 - 0.5)
    assert self_time(spans[3], spans) == pytest.approx(1.0 - 0.6)
    assert self_time(spans[1], spans) == pytest.approx(2.0)
