#!/usr/bin/env python
"""r17 A/B (r16 verdict #3): shared-grain rollups vs the per-rollup
fan-out in build_snapshot, timed with the bench's exact cr_pipeline
methodology (sf-proportional synthetic battles, one union-of-counts
action over all 12 tables), interleaved
alternating-order in ONE session so both variants sample the same box
minutes apart.

Usage: git show <old-rev>:<pipeline.py> > /tmp/pipeline_old_r17.py
       python tools/ab_pipeline_r17.py
"""

from __future__ import annotations

import importlib.util
import statistics
import sys
import time
from functools import reduce
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from pyspark.sql import functions as F  # noqa: E402


def _load_old():
    spec = importlib.util.spec_from_file_location(
        "topn_clashroyal_etl_sql_snapshot_spark.plans.pipeline_old_r17",
        "/tmp/pipeline_old_r17.py",
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline as new_pl
    from topn_clashroyal_etl_sql_snapshot_spark.session import get_spark
    from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import (
        BATTLE_SCHEMA,
        CARD_METADATA_SCHEMA,
        LEADERBOARD_SCHEMA,
        OVERRIDES_SCHEMA,
    )
    from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import (
        CATALOG_ROWS,
        generate_fixture,
    )

    old_pl = _load_old()
    spark = get_spark(app_name="ab_pipeline_r17")

    leaderboard, battles, overrides = generate_fixture(
        seed=42, n_players=100, n_battles=40_000
    )
    bdf = spark.createDataFrame(battles, BATTLE_SCHEMA)
    ldf = spark.createDataFrame(leaderboard, LEADERBOARD_SCHEMA)
    cdf = spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA)
    odf = spark.createDataFrame(overrides, OVERRIDES_SCHEMA)

    def run(pl) -> float:
        t0 = time.perf_counter()
        result = pl.build_snapshot(
            spark, bdf, ldf, cdf, odf, top_n=50
        )
        counts = [
            df.agg(F.count(F.lit(1)).alias("n"))
            for df in result.tables.values()
        ]
        reduce(lambda a, b: a.unionAll(b), counts).collect()
        dt = time.perf_counter() - t0
        result.unpersist()
        return dt

    # parity: every table equal row-for-row (sorted tuples)
    ra = old_pl.build_snapshot(spark, bdf, ldf, cdf, odf, top_n=50)
    rb = new_pl.build_snapshot(spark, bdf, ldf, cdf, odf, top_n=50)
    for name in ra.tables:
        ta = sorted(map(tuple, ra.tables[name].collect()))
        tb = sorted(map(tuple, rb.tables[name].collect()))
        assert ta == tb, f"table {name} differs"
        assert ra.tables[name].columns == rb.tables[name].columns, name
    ra.unpersist()
    rb.unpersist()
    print("table parity at 40k battles: OK (12/12)", flush=True)

    run(old_pl)  # warm both code paths
    run(new_pl)

    import gc

    old_t, new_t = [], []
    for r in range(8):
        order = (
            [("old", old_pl, old_t), ("new", new_pl, new_t)]
            if r % 2 == 0
            else [("new", new_pl, new_t), ("old", old_pl, old_t)]
        )
        for _, pl, acc in order:
            gc.collect()
            spark.catalog.clearCache()
            acc.append(run(pl))
    print("old", [round(x, 3) for x in old_t])
    print("new", [round(x, 3) for x in new_t])
    print(
        "medians: old",
        round(statistics.median(old_t), 3),
        "new",
        round(statistics.median(new_t), 3),
    )
    spark.stop()


if __name__ == "__main__":
    main()
