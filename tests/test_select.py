"""select() query-surface tests (operator set pinned by reference
tests/test_integration.py:250-393)."""

from __future__ import annotations

from pathlib import Path

from tests.corpus import EXPECTED


def test_projection_order_preserved(indexed_db):
    rows = indexed_db.select(["marketType", "marketId"], limit=1)
    assert list(rows[0].keys()) == ["marketType", "marketId"]


def test_eq_and(indexed_db):
    rows = indexed_db.select(
        ["marketId"], where="eventTypeId = '4339' AND marketType = 'WIN'"
    )
    assert {r["marketId"] for r in rows} == {"1.222000002", "1.222000006"}


def test_or_in(indexed_db):
    rows = indexed_db.select(
        ["marketId"], where="eventTypeId IN ('7','4339') AND marketType='WIN'"
    )
    assert len(rows) == 5


def test_between_lexicographic(indexed_db):
    rows = indexed_db.select(
        ["marketId"],
        where="marketStartTime BETWEEN '2023-08-01' AND '2023-08-03'",
    )
    assert {r["marketId"] for r in rows} == {
        "1.222000002",
        "1.222000003",
        "1.222000004",
        "1.222000005",
        "1.222000006",
    }


def test_not(indexed_db):
    rows = indexed_db.select(["marketId"], where="NOT eventTypeId = '4339'")
    assert len(rows) == 6


def test_is_null(indexed_db):
    rows = indexed_db.select(["marketId"], where="eventVenue IS NULL")
    assert {r["marketId"] for r in rows} == {"1.222000001", "1.222000011"}
    rows = indexed_db.select(["marketId"], where="eventVenue IS NOT NULL")
    assert len(rows) == 7


def test_bool_true_literal(indexed_db):
    rows = indexed_db.select(["marketId"], where="bspMarket = true")
    assert len(rows) == 5


def test_time_and_strftime(indexed_db):
    rows = indexed_db.select(
        ["marketId"], where="time(marketStartTime) = '14:30:00'"
    )
    assert {r["marketId"] for r in rows} == {"1.222000002", "1.222000003"}
    rows = indexed_db.select(
        ["marketId"], where="strftime('%m', marketStartTime) = '12'"
    )
    assert {r["marketId"] for r in rows} == {"1.222000014"}


def test_limit(indexed_db):
    assert len(indexed_db.select(limit=3)) == 3
    assert len(indexed_db.select(limit=100)) == 9


def test_return_shapes(indexed_db):
    dicts = indexed_db.select(["marketId"], limit=1)
    tuples = indexed_db.select(["marketId"], limit=1, return_dict=False)
    assert isinstance(dicts[0], dict)
    assert isinstance(tuples[0], tuple)


def test_combined_query(indexed_db):
    rows = indexed_db.select(
        ["marketId", "raceDistanceFurlongs"],
        where="eventTypeId IN ('7','4339') AND raceDistanceMeters > 400 AND bspMarket = true",
    )
    assert {r["marketId"] for r in rows} == {
        "1.222000004",
        "1.222000005",
        "1.222000006",
        "1.222000012",  # bulk definition: 5f ≈ 1005.84 m, bspMarket=1
    }


def test_select_partition_prunes_on_event_type(indexed_db):
    """An eventTypeId predicate must reach the scan as a PARTITION filter
    (the index is hive-partitioned on it): the physical plan lists the
    pruned partition filter and the scan reads only that directory."""
    df = indexed_db.select_df(
        ["marketId", "eventTypeId"], where="eventTypeId = '7'"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the filter is ON the partition column, with the literal pushed down
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "eventTypeId" in m.group(1) and "7" in m.group(1), plan[:2000]


def test_select_binds_its_own_database_index(indexed_db, fresh_corpus, monkeypatch):
    """Two databases in one session: a select on the second database
    that runs while the first select is being planned (injected into
    the first call's dialect-function registration) must not rebind the
    first select's index relation — the relation is bound per call,
    not through a session-global view."""
    from betfair_database_spark import database
    from betfair_database_spark.database import BetfairDatabase

    other = BetfairDatabase(fresh_corpus, spark=indexed_db.spark)
    other.index()
    register = database.register_sqlite_functions
    calls = []

    def register_then_select_other(spark):
        register(spark)
        calls.append(spark)
        if len(calls) == 1:
            other.select_df(["marketId"])

    monkeypatch.setattr(
        database, "register_sqlite_functions", register_then_select_other
    )
    rows = indexed_db.select(["marketMetadataFilePath"])
    assert len(calls) == 2  # the interleaved select ran inside the first
    assert len(rows) == EXPECTED["rows"]
    base = f"{Path(indexed_db.database_dir).resolve()}/"
    assert all(r["marketMetadataFilePath"].startswith(base) for r in rows)


def test_brace_literal_in_where(indexed_db):
    """User text reaches a keyword-formatted spark.sql: braces in it are
    literal SQL, never format fields."""
    rows = indexed_db.select(
        ["marketId"], where="marketId <> '{x}' AND '{x}' = concat('{', 'x}')"
    )
    assert len(rows) == EXPECTED["rows"]
