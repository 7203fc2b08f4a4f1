"""The traced benchmark (``perfbench/tracing.py``) wraps engine entry points
by name. Installing its wrappers fails here, in seconds, when one of those
names is renamed or removed."""

from __future__ import annotations


def test_benchmark_tracer_installs_and_uninstalls(spark):
    from perfbench import tracing

    from betfair_database_spark import database, rollup

    originals = (rollup.route_select, database.BetfairDatabase.select_df)
    tracer = tracing.Tracer(spark)
    try:
        tracing.install(tracer)
        assert rollup.route_select is not originals[0]
        assert database.BetfairDatabase.select_df is not originals[1]
    finally:
        tracer.uninstall()
    assert (rollup.route_select, database.BetfairDatabase.select_df) == originals
