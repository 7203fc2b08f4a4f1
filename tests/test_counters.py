"""Import and insert counters (reference processor.py:35-79) on small
sources, one market kind at a time, and per duplicate policy."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from tests.corpus import LONDON_SUMMER_START, _cat, _defn, _mcm_line, _snapshot_line


def _write(root: Path, name: str, text: str) -> None:
    path = root / name
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")


def _empty(root: Path) -> None:
    pass


def _corrupt_only(root: Path) -> None:
    # a corrupt metadata file with its data file, and a data file whose only
    # definition line is corrupt
    _write(root, "1.500000001.json", "{not valid json")
    _write(root, "1.500000001", _snapshot_line("1.500000001", 1))
    _write(
        root,
        "1.500000002",
        '{"op":"mcm","pt":1,"mc":[{"id":"1.500000002","marketDefinition":{broken',
    )


def _data_with_definition(root: Path) -> None:
    defn = _defn(None, "1m Hcp", "2023-08-02T15:10:00.000Z", venue="Ascot")
    _write(root, "1.500000003", _mcm_line("1.500000003", 1690988000000, defn))


def _data_without_definition(root: Path) -> None:
    _write(root, "1.500000004", _snapshot_line("1.500000004", 1))


def _metadata_only(root: Path) -> None:
    cat = _cat("1.500000005", "No Data", LONDON_SUMMER_START)
    _write(root, "1.500000005.json", json.dumps(cat))


def _bulk_only(root: Path) -> None:
    # a catalogue entry and a definition entry with data files, and an entry
    # without one
    entries = [
        _cat("1.500000006", "Match Odds", LONDON_SUMMER_START),
        _defn("1.500000007", "5f Nov Stks", "2023-08-03T14:00:00.000Z"),
        _cat("1.500000008", "Ghost Market", LONDON_SUMMER_START),
    ]
    _write(root, "bulk/metadata.json", json.dumps(entries))
    _write(root, "bulk/1.500000006", _snapshot_line("1.500000006", 1))
    _write(root, "bulk/1.500000007", _mcm_line("1.500000007", 1691000000000, entries[1]))


SOURCES = {
    "empty": (_empty, {}),
    "corrupt_only": (_corrupt_only, {"total_markets": 2, "corrupt_files": 2}),
    "data_with_definition": (
        _data_with_definition,
        {"total_markets": 1, "rows_inserted": 1},
    ),
    "data_without_definition": (
        _data_without_definition,
        {"total_markets": 1, "markets_without_metadata": 1},
    ),
    "metadata_only": (_metadata_only, {"total_markets": 1, "markets_without_data": 1}),
    "bulk_only": (_bulk_only, {"total_markets": 2, "rows_inserted": 2}),
}

ZERO = {
    "total_markets": 0,
    "markets_without_data": 0,
    "markets_without_metadata": 0,
    "corrupt_files": 0,
    "rows_inserted": 0,
    "markets_updated": 0,
    "markets_skipped": 0,
}


@pytest.mark.parametrize("kind", list(SOURCES))
def test_index_counters(spark, tmp_path, kind):
    from betfair_database_spark.database import BetfairDatabase

    build, expected = SOURCES[kind]
    build(tmp_path)
    db = BetfairDatabase(tmp_path, spark=spark)
    want = {**ZERO, **expected}
    assert db.index() == want["rows_inserted"]
    assert vars(db.last_counters) == want
    assert db.last_counters.validate()
    assert db.size() == want["rows_inserted"]


def test_insert_from_empty_source(spark, tmp_path):
    from betfair_database_spark.database import BetfairDatabase

    target, src = tmp_path / "db", tmp_path / "src"
    target.mkdir()
    src.mkdir()
    db = BetfairDatabase(target, spark=spark)
    assert db.insert(src, copy=True) == 0
    assert vars(db.last_counters) == ZERO
    assert db.last_counters.validate()


def _market(root: Path, market_id: str, name: str) -> None:
    cat = _cat(market_id, name, LONDON_SUMMER_START)
    _write(root, f"{market_id}.json", json.dumps(cat))
    _write(root, market_id, _snapshot_line(market_id, 1))


# policy -> (rows_inserted, markets_updated, markets_skipped, markets_added)
# for a batch of one new, one unchanged and one changed market
POLICIES = {
    "update": (2, 1, 1, 1),
    "replace": (3, 2, 0, 1),
    "skip": (1, 0, 2, 1),
}


@pytest.mark.parametrize("policy", list(POLICIES))
def test_insert_counters_per_duplicate_policy(spark, tmp_path, policy):
    from betfair_database_spark.database import BetfairDatabase

    target, base, batch = tmp_path / "db", tmp_path / "base", tmp_path / "batch"
    target.mkdir()
    _market(base, "1.500000010", "Unchanged")
    _market(base, "1.500000011", "Changed")
    db = BetfairDatabase(target, spark=spark)
    assert db.insert(base, copy=True) == 2

    shutil.copytree(base, batch)
    _market(batch, "1.500000011", "Changed Again")
    _market(batch, "1.500000012", "New")
    inserted, updated, skipped, added = POLICIES[policy]
    assert db.insert(batch, copy=True, on_duplicates=policy) == inserted
    c = db.last_counters
    assert (c.rows_inserted, c.markets_updated, c.markets_skipped) == (
        inserted,
        updated,
        skipped,
    )
    assert c.markets_added == added
    assert c.total_markets == 3
    assert c.validate()
    assert db.size() == 3
