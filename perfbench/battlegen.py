"""Reference-shaped battle landing zone for the snapshot workload.

The reference refresh fetches one leaderboard page and then the
battlelog of each of the ``top_n`` best players (SURVEY.md, EP1 step 3).
The generator follows that shape: every entry sits in a TopN player's
battlelog, so it has a TopN player on its team side, and each battlelog
holds one API page of entries. A match between two TopN players appears
in both of their battlelogs, which is the copy the reference's match
dedup exists to drop (``scripts/etl_snapshot_topn.py:257-261``); the
generator writes that copy into the opponent's log instead of drawing
duplicates at a rate of its own. Decks are 8 distinct cards from the
full synthetic catalog, so the number of distinct decks grows with the
input size instead of saturating at a handful of templates.

``cr_synthetic.generate_fixture`` pairs random players instead, which
at 1,000 players with a small ``top_n`` produces battles with no TopN
side and breaks validate's G5 ``topn_meta_bound``.

Where a figure comes from is noted at its definition. No sample of the
reference's live API data exists here, so the rates the reference does
not fix are chosen: each exercises one branch that FIXTURES.md §1.2
requires the generator to cover, and each is small, so that ranked 1v1
battles dominate as they do in a ranked-ladder scan.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta

from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import (
    CATALOG,
    RANKED_MODES,
)

# Entries per battlelog: one API page (SURVEY.md, "Battles per
# battlelog", from scripts/etl_snapshot_topn.py:249).
BATTLELOG_PAGE = 25
# Chosen rates (see the module docstring), each with the FIXTURES.md
# §1.2 branch it covers:
OUTSIDER_SHARE = 0.3    # opponent off the leaderboard page: one TopN side
OFF_MODE_SHARE = 0.02   # non-whitelisted gameMode.id: dropped
TWO_V_TWO_SHARE = 0.01  # team/opponent length 2: dropped
MALFORMED_SHARE = 0.01  # short deck or duplicated card: battle dropped
NAMELESS_SHARE = 0.01   # card without a name: resolved from the catalog
EVO_SHARE = 0.2         # first card evolved: variant evo
DECK_POOL = (1, 4)      # decks a player rotates between
# Crowns are uniform over 0..3, so a quarter of the battles are draws.

_CARDS = [(cid, name) for cid, name, *_ in CATALOG]
_T0 = datetime(2026, 1, 1)


def _deck(rng: random.Random) -> list[dict]:
    picked = rng.sample(_CARDS, 8)
    return [
        {"id": cid, "name": "" if rng.random() < NAMELESS_SHARE else name,
         "evolutionLevel": 1 if slot == 0 and rng.random() < EVO_SHARE else 0}
        for slot, (cid, name) in enumerate(picked)
    ]


def _malformed(rng: random.Random, deck: list[dict]) -> list[dict]:
    if rng.random() < 0.5:
        return deck[:7]
    return [deck[0], dict(deck[0])] + deck[2:]


def _side(tag: str, crowns: int, deck: list[dict]) -> dict:
    return {"tag": tag, "crowns": crowns, "cards": deck}


def _leaderboard(n_players: int) -> list[dict]:
    """One page in rank order. As in ``cr_synthetic.generate_fixture``
    (FIXTURES.md §1.1), every third tag arrives lower-case without its
    ``#``, and one row in eight reports ``trophies`` instead of
    ``eloRating`` and one in eight neither."""
    rows = []
    for i in range(1, n_players + 1):
        row = {"tag": f"p{i}" if i % 3 == 0 else f"#P{i}", "name": f"Player {i}", "rank": i}
        if i % 8 == 5:
            row["trophies"] = 9000 - i
        elif i % 8 != 7:
            row["eloRating"] = 3000 - i
        rows.append(row)
    return rows


def generate(seed: int, n_players: int = 1000, top_n: int = 240):
    """Returns ``(leaderboard_rows, battle_rows)``: a page of
    ``n_players`` leaderboard rows and the battlelogs of its ``top_n``
    best players, ``BATTLELOG_PAGE`` raw entries each, concatenated in
    rank order. Deterministic in ``seed``."""
    if not 0 < top_n <= n_players:
        raise ValueError("need 0 < top_n <= n_players")
    rng = random.Random(seed)
    tags = [f"#P{i}" for i in range(1, n_players + 1)]
    logs: dict[str, list[dict]] = {t: [] for t in tags[:top_n]}
    pools: dict[str, list[list[dict]]] = {}

    def deck_of(tag: str) -> list[dict]:
        if tag not in pools:
            pools[tag] = [_deck(rng) for _ in range(rng.randint(*DECK_POOL))]
        return json.loads(json.dumps(rng.choice(pools[tag])))

    b = 0
    for team in tags[:top_n]:
        while len(logs[team]) < BATTLELOG_PAGE:
            b += 1
            if rng.random() < OUTSIDER_SHARE:
                opp, opp_deck = f"#OUT{b}", _deck(rng)
            else:
                opp = tags[rng.randrange(n_players)]
                if opp == team:
                    continue
                opp_deck = deck_of(opp)
            team_deck = deck_of(team)
            if rng.random() < MALFORMED_SHARE:
                team_deck = _malformed(rng, team_deck)
            tc, oc = rng.randint(0, 3), rng.randint(0, 3)
            mode = 99999999 if rng.random() < OFF_MODE_SHARE else RANKED_MODES[b % 2]
            battle = {
                "battleTime": (_T0 + timedelta(seconds=37 * b)).strftime("%Y%m%dT%H%M%S.000Z"),
                "type": "pathOfLegend" if mode in RANKED_MODES else "challenge",
                "gameMode": {"id": mode, "name": "Ranked1v1" if mode == 72000464 else "Ladder"},
                "team": [_side(team, tc, team_deck)],
                "opponent": [_side(opp, oc, opp_deck)],
            }
            if rng.random() < TWO_V_TWO_SHARE:
                battle["type"] = "2v2"
                battle["team"].append(_side(f"#OUT{b}A", tc, _deck(rng)))
                battle["opponent"].append(_side(f"#OUT{b}B", oc, _deck(rng)))
            logs[team].append(battle)
            if opp in logs and len(logs[opp]) < BATTLELOG_PAGE:
                logs[opp].append(json.loads(json.dumps(battle)))
    return _leaderboard(n_players), [e for t in tags[:top_n] for e in logs[t]]


def write_jsonl(rows: list[dict], path: str) -> int:
    """One JSON object per line; returns the bytes written."""
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)
