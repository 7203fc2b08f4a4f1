"""insert() and clean() learn file facts from a stat of the paths in
question (reference market.py:146-178, database.py:188-230), and insert()
retires exactly the live rows it replaces."""

from __future__ import annotations

import gzip
import json
from pathlib import Path

import pytest

from tests.corpus import EXPECTED, build_corpus


def _inserted_db(spark, root: Path, pattern):
    """A corpus under ``root / "src"`` inserted (copied) into a new
    database at ``root / "db"``."""
    from betfair_database_spark.database import BetfairDatabase

    target = root / "db"
    target.mkdir()
    src = root / "src"
    build_corpus(src)
    db = BetfairDatabase(target, spark=spark)
    assert db.insert(src, copy=True, pattern=pattern) == EXPECTED["rows"]
    return db, src


def _mtimes(root: Path) -> dict[Path, int]:
    return {p: p.stat().st_mtime_ns for p in root.rglob("*") if p.is_file()}


# Spark's file sources skip every path with a component that starts with
# "_" or "."; a stat does not.
HIDDEN = ["_archive", ".archive"]


def _lit(prefix: str):
    from pyspark.sql import functions as F

    return F.lit(prefix)


@pytest.fixture(scope="module", params=HIDDEN)
def hidden_env(request, spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("hidden")
    db, src = _inserted_db(spark, root, _lit(request.param))
    return db, src, request.param


def test_skip_reinsert_under_hidden_dir_moves_nothing(hidden_env):
    db, src, prefix = hidden_env
    before = _mtimes(db.database_dir / prefix)
    assert len(before) >= EXPECTED["rows"]
    assert db.insert(src, copy=True, pattern=_lit(prefix), on_duplicates="skip") == 0
    assert db.last_counters.markets_skipped == EXPECTED["rows"]
    assert _mtimes(db.database_dir / prefix) == before


def test_clean_keeps_rows_under_hidden_dir(hidden_env):
    db, _, _ = hidden_env
    assert db.clean() == 0
    assert db.size() == EXPECTED["rows"]


@pytest.mark.parametrize("prefix", HIDDEN)
def test_clean_removes_deleted_file_under_hidden_dir(spark, tmp_path, prefix):
    db, _ = _inserted_db(spark, tmp_path, _lit(prefix))
    (db.database_dir / prefix / "1.222000001").unlink()
    assert db.clean() == 1
    assert db.size() == EXPECTED["rows"] - 1
    assert db.select(["marketId"], where="marketId = '1.222000001'") == []


def test_update_of_one_bulk_market_keeps_its_siblings(spark, tmp_path):
    """Every market of a bulk metadata.json shares its destination
    metadata path; an UPDATE of one of them retires that market's row
    only."""
    db, src = _inserted_db(spark, tmp_path, "flat")
    bulk = src / "bulk" / "metadata.json"
    entries = json.loads(bulk.read_text())
    # the last entry for a marketId is the one indexed
    last = max(i for i, e in enumerate(entries) if e.get("marketId") == "1.222000011")
    entries[last]["marketName"] = "Renamed Match Odds"
    bulk.write_text(json.dumps(entries))

    assert db.insert(src, copy=True, pattern="flat", on_duplicates="update") == 1
    assert db.size() == EXPECTED["rows"]
    got = db.select(["marketName"], where="marketId = '1.222000011'")
    assert [r["marketName"] for r in got] == ["Renamed Match Odds"]
    assert len(db.select(["marketId"], where="marketId = '1.222000012'")) == 1


def test_update_with_a_new_data_file_name_leaves_one_row(spark, tmp_path):
    """A market re-inserted with a changed definition and its data file
    now compressed has one row, the new one: the live rows at a written
    destination metadata path are retired whatever their data path."""
    db, src = _inserted_db(spark, tmp_path, "flat")
    meta = src / "1.222000001.json"
    doc = json.loads(meta.read_text())
    doc["description"]["marketTime"] = "2023-07-28T13:00:00.000Z"
    meta.write_text(json.dumps(doc))
    plain = src / "1.222000001"
    (src / "1.222000001.gz").write_bytes(gzip.compress(plain.read_bytes()))
    plain.unlink()

    assert db.insert(src, copy=True, pattern="flat", on_duplicates="update") == 1
    assert db.size() == EXPECTED["rows"]
    rows = db.select(
        ["marketDataFilePath", "marketTime"], where="marketId = '1.222000001'"
    )
    assert len(rows) == 1
    assert rows[0]["marketDataFilePath"].endswith("/1.222000001.gz")
    assert rows[0]["marketTime"] == "2023-07-28T13:00:00.000Z"


def test_data_file_size_rule(spark, tmp_path):
    """The data file at an existing destination is replaced under
    ``replace``, never under ``skip``, and under ``update`` only by a
    larger incoming file (reference market.py:170-178)."""
    db, src = _inserted_db(spark, tmp_path, "flat")
    incoming = src / "1.222000001"
    dest = db.database_dir / "1.222000001"
    original = dest.read_bytes()

    def reinsert(content: bytes, policy: str) -> bytes:
        incoming.write_bytes(content)
        db.insert(src, copy=True, pattern="flat", on_duplicates=policy)
        return dest.read_bytes()

    larger = original + b'{"op":"mcm","pt":2}\n'
    smaller = original[: len(original) // 2]
    assert reinsert(larger, "update") == larger
    assert reinsert(smaller, "update") == larger
    assert reinsert(smaller, "replace") == smaller
    assert reinsert(larger, "skip") == smaller


def test_insert_lists_only_its_source(spark, tmp_path, monkeypatch):
    """An insert lists its source directory once, in the ETL, and never
    lists the database: what it needs to know of the database's files is a
    stat of the batch's destination paths."""
    from betfair_database_spark import etl, inserts
    from betfair_database_spark.database import BetfairDatabase
    from betfair_database_spark.sources import discovery

    target = tmp_path / "db"
    target.mkdir()
    src = tmp_path / "src"
    build_corpus(src)
    db = BetfairDatabase(target, spark=spark)
    db.index()

    listed = []
    for module in (etl, discovery, inserts):
        orig = getattr(module, "list_files", None)

        def recording(spark, source_dir, _orig=orig):
            listed.append(Path(source_dir).resolve())
            return _orig(spark, source_dir)

        monkeypatch.setattr(module, "list_files", recording, raising=False)

    assert db.insert(src, copy=True) == EXPECTED["rows"]
    assert target.resolve() not in listed
    assert listed == [src.resolve()]
