"""End-to-end pipeline test: Spark snapshot ETL vs the pure-Python oracle,
table-for-table, plus the G1-G6 invariant suite."""

from __future__ import annotations

import pytest

from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline, validate
from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import (
    BATTLE_SCHEMA,
    CARD_METADATA_SCHEMA,
    LEADERBOARD_SCHEMA,
    OVERRIDES_SCHEMA,
)

from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import CATALOG_ROWS, generate_fixture, oracle_etl

TOP_N = 5


@pytest.fixture(scope="module")
def snapshot(spark):
    leaderboard, battles, overrides = generate_fixture()
    result = pipeline.build_snapshot(
        spark,
        battles=spark.createDataFrame(battles, BATTLE_SCHEMA),
        leaderboard=spark.createDataFrame(leaderboard, LEADERBOARD_SCHEMA),
        catalog=spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA),
        overrides=spark.createDataFrame(overrides, OVERRIDES_SCHEMA),
        top_n=TOP_N,
    )
    oracle = oracle_etl(leaderboard, battles, overrides, TOP_N)
    yield result, oracle
    result.unpersist()


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_counters(snapshot):
    result, oracle = snapshot
    assert result.counters == {
        "scanned_entries": oracle["counters"]["scanned_entries"],
        "deduped_matches": oracle["counters"]["deduped_matches"],
    }


def test_build_snapshot_scans_landing_once(spark):
    """The E7 counters are observed inside the participant checkpoint
    job, so a build reads every landing record exactly once: the input
    records of all its stages sum to the battle lines + the leaderboard
    rows (its size guard) + the catalog and overrides rows (driver
    maps, broadcast join)."""
    from topn_clashroyal_etl_sql_snapshot_spark.sources import readers

    def lines(path):
        with open(path) as fh:
            return sum(1 for ln in fh if ln.strip())

    n_battles = lines("fixtures/battles.jsonl")
    n_leaderboard = lines("fixtures/leaderboard.jsonl")
    catalog = readers.read_card_catalog(spark, "fixtures/card_catalog.json")
    overrides = readers.read_overrides(spark, "fixtures/overrides.parquet")
    n_catalog, n_overrides = catalog.count(), overrides.count()
    sc = spark.sparkContext
    group = "test-build-snapshot-scan"
    sc.setJobGroup(group, "build_snapshot")
    try:
        res = pipeline.build_snapshot(
            spark,
            battles=readers.read_battles_json(spark, "fixtures/battles.jsonl"),
            leaderboard=readers.read_leaderboard_json(
                spark, "fixtures/leaderboard.jsonl"
            ),
            catalog=catalog,
            overrides=overrides,
            top_n=8,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    res.unpersist()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = {
        sid for j in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(j).stageIds
    }
    read = sum(store.lastStageAttempt(sid).inputRecords() for sid in stages)
    assert res.counters["scanned_entries"] == n_battles
    assert read == n_battles + n_leaderboard + n_catalog + n_overrides


def test_player_dim(snapshot):
    result, oracle = snapshot
    got = _rows(result.tables["player"], ["player_tag", "player_name", "trophies", "rank_global"])
    want = sorted(
        (p["player_tag"], p["player_name"], p["trophies"], p["rank_global"])
        for p in oracle["player"]
    )
    assert got == want


def test_deck_types_dim(snapshot):
    result, oracle = snapshot
    got = sorted(r[0] for r in result.tables["deck_types"].collect())
    assert got == oracle["deck_types"]


def test_cards_dim(snapshot):
    result, oracle = snapshot
    got = _rows(result.tables["cards"], ["card_id", "card_name"])
    assert got == sorted(oracle["cards"].items())


def test_decks_dim(snapshot):
    result, oracle = snapshot
    got = _rows(result.tables["decks"], ["deck_hash", "deck_type"])
    assert got == sorted(oracle["decks"].items())


def test_deck_cards(snapshot):
    result, oracle = snapshot
    got = _rows(result.tables["deck_cards"], ["deck_hash", "card_id", "card_variant", "slot"])
    want = sorted(
        (dh, cid, var, slot)
        for dh, obs in oracle["deck_cards"].items()
        for (cid, _, var, slot) in obs
    )
    assert got == want


def test_overrides_beat_classifier(snapshot):
    result, oracle = snapshot
    types = dict(_rows(result.tables["decks"], ["deck_hash", "deck_type"]))
    assert "OverriddenSiege" in types.values()


@pytest.mark.parametrize(
    "table,keys",
    [
        ("player_decks", ("player_tag", "deck_hash")),
        ("meta_deck_types", ("deck_type",)),
        ("meta_type_deck_ids", ("deck_type", "deck_hash")),
        ("meta_type_cards", ("deck_type", "card_id", "card_variant")),
        ("player_type_cards", ("player_tag", "deck_type", "card_id", "card_variant")),
        ("meta_type_matchups", ("deck_type", "opp_deck_type")),
    ],
)
def test_rollups_match_oracle(snapshot, table, keys):
    result, oracle = snapshot
    cols = list(keys) + ["uses", "wins"]
    got = _rows(result.tables[table], cols)
    want = sorted(
        (k if isinstance(k, tuple) else (k,)) + (u, w)
        for k, (u, w) in oracle[table].items()
    )
    assert got == want, f"{table}: {len(got)} vs {len(want)} rows"


def test_top_players_edge_semantics(spark):
    """Reference edge behavior (scripts:203-216): the positional top_n
    cut applies to RAW rows before tag validation (a bad row inside the
    cut shrinks the dim, not pulls a replacement), and rank 0 is falsy
    (→ positional fallback, like Python's ``rank or i``)."""
    rows = [
        ("#A", "a", 0, None, 10),   # rank 0 → rank_global = position 1
        ("", "b", 2, None, 9),      # empty tag INSIDE the cut → dropped
        ("#C", "c", 3, None, 8),
        ("#D", "d", 4, None, 7),    # outside top_n=3 → cut
    ]
    df = spark.createDataFrame(rows, LEADERBOARD_SCHEMA)
    got = pipeline.top_players_df(df, top_n=3).orderBy("rank_global").collect()
    assert [(r.player_tag, r.rank_global) for r in got] == [("#A", 1), ("#C", 3)]


def test_top_players_rejects_table_scale_input(spark):
    """The single-partition ranking window is sized for one API page;
    anything larger must be refused, not silently serialized."""
    import pytest

    big = spark.range(20).selectExpr(
        "concat('#P', id) AS tag",
        "'n' AS name",
        "CAST(id AS INT) AS rank",
        "CAST(NULL AS INT) AS eloRating",
        "CAST(1000 - id AS INT) AS trophies",
    )
    with pytest.raises(ValueError, match="single-partition window"):
        pipeline.top_players_df(big, top_n=5, max_rows=10)


def test_player_battles_fact(snapshot):
    """Boolean-grain fact matches the oracle row-for-row, and
    player_decks is exactly its groupBy(count, sum(win)) rollup."""
    from pyspark.sql import functions as F

    result, oracle = snapshot
    cols = ["match_hash", "battle_time", "side", "player_tag", "deck_hash", "win"]
    got = _rows(result.tables["player_battles"], cols)
    want = sorted(tuple(r[c] for c in cols) for r in oracle["player_battles"])
    assert got == want

    rolled = (
        result.tables["player_battles"]
        .groupBy("player_tag", "deck_hash")
        .agg(
            F.count(F.lit(1)).alias("uses"),
            F.sum(F.col("win").cast("long")).alias("wins"),
        )
    )
    assert _rows(rolled, ["player_tag", "deck_hash", "uses", "wins"]) == _rows(
        result.tables["player_decks"], ["player_tag", "deck_hash", "uses", "wins"]
    )


def test_matchup_double_insert_invariant(snapshot):
    # SUM(matchups.uses) == 2 × battles surviving extraction (FIXTURES.md §2)
    result, oracle = snapshot
    total = sum(u for (u, _) in oracle["meta_type_matchups"].values())
    got = result.tables["meta_type_matchups"].groupBy().sum("uses").first()[0]
    assert got == total
    assert got % 2 == 0


def test_validation_suite_green(snapshot):
    result, _ = snapshot
    checks = validate.run_all(result.tables, expected_top_n=TOP_N)
    failures = [c for c in checks if not c.passed]
    assert not failures, failures


def _corrupt_warehouse(spark, empty_topn=False):
    """A small warehouse with seeded corruption: a 7-card deck, wins >
    uses (and wins < 0), FK orphans (a player_decks deck_hash and a
    decks deck_type), an 'unknown' share of 60%, 2 players for an
    expected 3. ``empty_topn`` zeroes the player facts' uses (G5's
    topn = 0 case)."""

    def df(rows, ddl):
        return spark.createDataFrame(rows, ddl)

    ids = list(range(26000001, 26000009))
    deck_cards = [("d1", c, "normal", i) for i, c in enumerate(ids)]
    deck_cards += [("d2", c, "normal", i) for i, c in enumerate(ids[:7])]
    player_decks = (
        [("#P1", "d1", 0, 0), ("#P2", "d2", 0, 0)]
        if empty_topn
        else [("#P1", "d1", 5, 3), ("#P2", "d2", 2, 3), ("#P2", "d9", 1, 0)]
    )
    stats = "uses long, wins long"
    return {
        "deck_types": df([("Bait",), ("Cycle",)], "deck_type string"),
        "player": df(
            [("#P1", "a", 7000, 1), ("#P2", "b", 6900, 2)],
            "player_tag string, player_name string, trophies long, rank_global int",
        ),
        "decks": df(
            [("d1", "Bait"), ("d2", "unknown")], "deck_hash string, deck_type string"
        ),
        "deck_cards": df(
            deck_cards,
            "deck_hash string, card_id long, card_variant string, slot int",
        ),
        "player_decks": df(
            player_decks, f"player_tag string, deck_hash string, {stats}"
        ),
        "meta_deck_types": df(
            [("Bait", 4, 2), ("unknown", 6, 3)], f"deck_type string, {stats}"
        ),
        "meta_type_deck_ids": df(
            [("Bait", "d1", 4, 2), ("unknown", "d2", 6, 7)],
            f"deck_type string, deck_hash string, {stats}",
        ),
        "meta_type_cards": df(
            [("Bait", ids[0], "normal", 4, 2)],
            f"deck_type string, card_id long, card_variant string, {stats}",
        ),
        "player_type_cards": df(
            [("#P1", "Bait", ids[0], "normal", 5, -1)],
            "player_tag string, deck_type string, card_id long, "
            f"card_variant string, {stats}",
        ),
        "meta_type_matchups": df(
            [("Bait", "unknown", 4, 2), ("unknown", "Bait", 6, 2)],
            f"deck_type string, opp_deck_type string, {stats}",
        ),
    }


# run_all's (name, passed, detail) list on _corrupt_warehouse(), as the
# one-action-per-check suite returned it; with empty_topn, three checks
# change (the bad player_decks row is gone, topn = 0).
_RUN_ALL = [
    ("deck_cards_8_rows", False, "1 decks with != 8 cards"),
    ("wins_uses_sanity:player_decks", False, "1 violating rows"),
    ("wins_uses_sanity:meta_deck_types", True, "0 violating rows"),
    ("wins_uses_sanity:meta_type_deck_ids", False, "1 violating rows"),
    ("wins_uses_sanity:meta_type_cards", True, "0 violating rows"),
    ("wins_uses_sanity:player_type_cards", False, "1 violating rows"),
    ("wins_uses_sanity:meta_type_matchups", True, "0 violating rows"),
    ("non_empty_meta", True, "2 rows"),
    ("unknown_ratio", False, "ratio=0.600 (max 0.3)"),
    ("topn_meta_bound", True, "topn=8 meta=10"),
    ("player_count", False, "got 2, expected 3"),
    ("fk:deck_cards.deck_hash->decks.deck_hash", True, "0 orphans"),
    ("fk:player_decks.deck_hash->decks.deck_hash", False, "1 orphans"),
    ("fk:player_decks.player_tag->player.player_tag", True, "0 orphans"),
    ("fk:decks.deck_type->deck_types.deck_type", False, "1 orphans"),
    ("fk:meta_type_deck_ids.deck_hash->decks.deck_hash", True, "0 orphans"),
]
_RUN_ALL_EMPTY_TOPN = {
    "wins_uses_sanity:player_decks": (True, "0 violating rows"),
    "topn_meta_bound": (True, "topn=0 meta=10"),
    "fk:player_decks.deck_hash->decks.deck_hash": (True, "0 orphans"),
}
# validation_report's violations per check; every other check has 0.
# With empty_topn, G5 FAILS in the report while run_all passes it.
_REPORT = {
    "deck_cards_8_rows": 1,
    "wins_uses_sanity:player_decks": 1,
    "wins_uses_sanity:meta_type_deck_ids": 1,
    "wins_uses_sanity:player_type_cards": 1,
    "unknown_ratio": 1,
    "player_count": 1,
    "fk:player_decks.deck_hash->decks.deck_hash": 1,
    "fk:decks.deck_type->deck_types.deck_type": 1,
}
_REPORT_EMPTY_TOPN = {
    "wins_uses_sanity:player_decks": 0,
    "fk:player_decks.deck_hash->decks.deck_hash": 0,
    "topn_meta_bound": 1,
}


@pytest.mark.parametrize("empty_topn", [False, True], ids=["topn", "topn0"])
def test_validation_parity_on_seeded_corruption(spark, empty_topn):
    """run_all and validation_report read one shared plan; on seeded
    corruption both return exactly what the per-check suite did,
    including their one known difference (G5 with an empty TopN total:
    run_all passes, the report fails)."""
    tables = _corrupt_warehouse(spark, empty_topn)
    changed = _RUN_ALL_EMPTY_TOPN if empty_topn else {}
    want = [(n, *changed.get(n, (p, d))) for n, p, d in _RUN_ALL]
    got = [
        (c.name, c.passed, c.detail)
        for c in validate.run_all(tables, expected_top_n=3)
    ]
    assert got == want

    violations = {n: _REPORT.get(n, 0) for n, _, _ in _RUN_ALL}
    violations.update(_REPORT_EMPTY_TOPN if empty_topn else {})
    report = validate.validation_report(tables, expected_top_n=3)
    assert report.dtypes == [
        ("check_name", "string"), ("violations", "bigint"), ("passed", "boolean")
    ]
    assert sorted(tuple(r) for r in report.collect()) == sorted(
        (n, v, v == 0) for n, v in violations.items()
    )


def test_catalog_smoke(spark):
    from topn_clashroyal_etl_sql_snapshot_spark.plans.validate import check_catalog_smoke

    c = check_catalog_smoke(spark)
    assert c.passed, c
