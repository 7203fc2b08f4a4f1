"""Build the database the ``maintain`` workload starts from.

    python3 perfbench/prebuild.py <database dir> <cache dir> <markets>

Writes the seed-independent base corpus into ``<database dir>``, indexes it,
creates the built-in and the named rollup, and saves the engine's state
(index, rollups, manifests) under ``<cache dir>``. ``run.py`` starts this in
a process of its own the first time a checkout needs it, so that every
measured run starts from an equally cold process; set the environment up as
``run.py`` does before calling it directly.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import run
import workloads
from oracle import SPEC_ROLLUP


def main(argv: list[str]) -> int:
    db_dir, cache, n_markets = Path(argv[0]), Path(argv[1]), int(argv[2])
    workloads.base_corpus(db_dir, n_markets)
    from betfair_database_spark import BetfairDatabase
    from betfair_database_spark.session import get_spark

    spark = get_spark("perfbench-prebuild")
    try:
        db = BetfairDatabase(db_dir, spark=spark)
        n = db.index()
        if n != n_markets:
            raise SystemExit(f"prebuild: index holds {n} markets, expected {n_markets}")
        db.create_rollup()
        name, dims, aggs = SPEC_ROLLUP
        db.create_rollup(name, dims=dims, aggs=aggs)
    finally:
        run.stop_spark(spark)
    tmp = cache.with_name(cache.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    workloads.copy_engine_state(db_dir, tmp)
    tmp.rename(cache)  # complete or absent, whenever the build stops
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
