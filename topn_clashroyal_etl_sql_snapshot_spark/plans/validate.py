"""Validation suite: the reference's post-load invariant checks as
DataFrame queries (G1-G6, ``/root/reference/scripts/validate_snapshot.py``).

Spark has no FK/CHECK DDL — integrity is enforced by *validation queries*,
which is exactly how the reference's own validator works. Every check
is declared once, in :func:`_checks`, as the rows it counts or sums;
:func:`run_all` (CLI pass/fail + detail) and :func:`validation_report`
(the relational twin) both read ONE plan built from those declarations,
so the whole suite is one collect instead of one action per check.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STATS_TABLES = (
    "player_decks",
    "meta_deck_types",
    "meta_type_deck_ids",
    "meta_type_cards",
    "player_type_cards",
    "meta_type_matchups",
)

MAX_UNKNOWN_RATIO = 0.30

FK_EDGES = [
    ("deck_cards", "deck_hash", "decks", "deck_hash"),
    ("player_decks", "deck_hash", "decks", "deck_hash"),
    ("player_decks", "player_tag", "player", "player_tag"),
    ("decks", "deck_type", "deck_types", "deck_type"),
    ("meta_type_deck_ids", "deck_hash", "decks", "deck_hash"),
]


@dataclass
class CheckResult:
    name: str
    passed: bool
    detail: str


@dataclass(frozen=True)
class _Check:
    """One check: ``rows`` yields (a, b) contributions that the suite
    sums per check; ``violations`` is the report's verdict over the
    sums (columns ``a``, ``b``) and ``result`` is run_all's
    ``(passed, detail)`` over the same sums."""

    name: str
    rows: DataFrame
    violations: Column
    result: Callable[[int, int], tuple[bool, str]]


def _flag(df: DataFrame) -> DataFrame:
    """Each row of ``df`` counts one (a = 1)."""
    return df.select(F.lit(1).alias("a"), F.lit(0).alias("b"))


def _counted(name: str, df: DataFrame, what: str) -> _Check:
    """A check that passes when ``df`` is empty."""
    return _Check(name, _flag(df), F.col("a"), lambda a, _: (a == 0, f"{a} {what}"))


def _unless(ok: Column) -> Column:
    return F.when(ok, F.lit(0)).otherwise(F.lit(1))


def _unknown_ratio(unknown: int, total: int) -> tuple[bool, str]:
    ratio = (unknown / total) if total else 0.0
    return (
        ratio <= MAX_UNKNOWN_RATIO,
        f"ratio={ratio:.3f} (max {MAX_UNKNOWN_RATIO})",
    )


def _checks(
    tables: dict[str, DataFrame], expected_top_n: int | None
) -> list[_Check]:
    """G1-G6 + FK integrity, in run_all's order."""
    a, b = F.col("a"), F.col("b")
    mdt = tables["meta_deck_types"]
    uses = F.coalesce(F.col("uses"), F.lit(0))
    # G1: every deck_hash has exactly 8 rows (validate_snapshot.py:49-68)
    out = [
        _counted(
            "deck_cards_8_rows",
            tables["deck_cards"]
            .groupBy("deck_hash")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") != 8),
            "decks with != 8 cards",
        )
    ]
    # G2: 0 ≤ wins ≤ uses on every stats table (validate_snapshot.py:71-102)
    for name in STATS_TABLES:
        df = tables.get(name)
        if df is None:
            continue
        out.append(
            _counted(
                f"wins_uses_sanity:{name}",
                df.filter(
                    (F.col("wins") > F.col("uses"))
                    | (F.col("wins") < 0)
                    | (F.col("uses") < 0)
                ),
                "violating rows",
            )
        )
    # G3: meta_deck_types non-empty (validate_snapshot.py:105-113)
    out.append(
        _Check(
            "non_empty_meta",
            _flag(mdt),
            _unless(a > 0),
            lambda n, _: (n > 0, f"{n} rows"),
        )
    )
    # G4: uses attributed to 'unknown'-labelled types ≤ 30%
    # (validate_snapshot.py:116-145; ILIKE → lower() equality). The
    # report compares in integer arithmetic (unknown×10 ≤ 3×total), so
    # it is exact on any engine.
    out.append(
        _Check(
            "unknown_ratio",
            mdt.select(
                F.when(F.lower(F.col("deck_type")) == "unknown", uses)
                .otherwise(F.lit(0))
                .alias("a"),
                uses.alias("b"),
            ),
            _unless(a * 10 <= b * 3),
            _unknown_ratio,
        )
    )
    # G5: topn_obs ≤ meta_obs ≤ 2×topn_obs (validate_snapshot.py:148-192).
    # Meta counts both sides of every match; player facts only TopN
    # tags — so the meta total is between 1× and 2× the TopN total
    # (equality at 2× when every participant is TopN). run_all passes
    # an empty TopN total; the report does not.
    out.append(
        _Check(
            "topn_meta_bound",
            tables["player_decks"]
            .select(uses.alias("a"), F.lit(0).alias("b"))
            .unionAll(mdt.select(F.lit(0).alias("a"), uses.alias("b"))),
            _unless((a <= b) & (b <= 2 * a)),
            lambda t, m: (
                t <= m <= 2 * t if t else m >= 0,
                f"topn={t} meta={m}",
            ),
        )
    )
    # G6: player row count == --top-n (validate_snapshot.py:195-206)
    if expected_top_n is not None:
        out.append(
            _Check(
                "player_count",
                _flag(tables["player"]),
                _unless(a == expected_top_n),
                lambda n, _: (
                    n == expected_top_n,
                    f"got {n}, expected {expected_top_n}",
                ),
            )
        )
    # FK integrity as anti-joins (schema.sql FKs). No DDL in Spark → an
    # orphan count per FK edge.
    for child, ck, parent, pk in FK_EDGES:
        c, p = tables.get(child), tables.get(parent)
        if c is None or p is None:
            continue
        out.append(
            _counted(
                f"fk:{child}.{ck}->{parent}.{pk}",
                c.join(p.select(F.col(pk).alias(ck)).distinct(), ck, "left_anti"),
                "orphans",
            )
        )
    return out


def _sums(checks: list[_Check]) -> DataFrame:
    """(check_name, a, b): every check's contributions summed, as ONE
    plan — the union of all contribution rows under one aggregate, so
    the suite costs one collect and one final shuffle. A zero seed row
    per check keeps checks with no contributing rows in the result."""
    spark = checks[0].rows.sparkSession
    seeds = spark.createDataFrame(
        [(c.name, 0, 0) for c in checks], "check_name string, a long, b long"
    )
    union = seeds
    for c in checks:
        union = union.unionAll(
            c.rows.select(
                F.lit(c.name).alias("check_name"),
                F.col("a").cast("long"),
                F.col("b").cast("long"),
            )
        )
    return union.groupBy("check_name").agg(
        F.sum("a").alias("a"), F.sum("b").alias("b")
    )


def check_catalog_smoke(spark) -> CheckResult:
    """G7 (scripts/test_sql.py:39-77): engine answers SELECT 1 and the
    session catalog is reachable — the Spark twin of the reference's
    information_schema smoke test."""
    one = spark.sql("SELECT 1 AS one").first()["one"]
    dbs = spark.catalog.listDatabases()
    return CheckResult("catalog_smoke", one == 1 and len(dbs) > 0, f"{len(dbs)} database(s)")


def validation_report(
    tables: dict[str, DataFrame], expected_top_n: int | None = None
) -> DataFrame:
    """The G1-G6 suite as ONE relational result set:
    (check_name, violations, passed) — the driver-checkable twin of
    :func:`run_all`, read from the same per-check sums with no
    driver-side logic."""
    checks = _checks(tables, expected_top_n)
    violations = F.coalesce(
        *(F.when(F.col("check_name") == c.name, c.violations) for c in checks)
    )
    return (
        _sums(checks)
        .select("check_name", violations.cast("long").alias("violations"))
        .withColumn("passed", F.col("violations") == 0)
    )


def run_all(
    tables: dict[str, DataFrame], expected_top_n: int | None = None
) -> list[CheckResult]:
    """Every check's pass/fail and CLI detail, from one collect."""
    checks = _checks(tables, expected_top_n)
    sums = {r["check_name"]: (r["a"], r["b"]) for r in _sums(checks).collect()}
    return [CheckResult(c.name, *c.result(*sums[c.name])) for c in checks]
