"""The lineage cuts (``materialize`` roles) that insert() and clean() take.

A cut costs a Spark job and a copy of its frame, so each one must have a
second consumer, or hold rows whose files the write removes. The lists
below are exact: a cut added on either path fails here by name."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from tests.corpus import build_corpus

INSERT_CUTS = [
    "etl-listing",
    "etl-pairing",
    "etl-meta-content",
    "etl-flat-union",
    "insert-decision-join",
    "insert-live-rows",
    "insert-decided",
    "upsert-replacement",
]
CLEAN_CUTS = ["clean-retired-rows", "upsert-replacement"]


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    """A database with the built-in rollup and a named rollup."""
    from betfair_database_spark.database import BetfairDatabase

    base = tmp_path_factory.mktemp("cuts")
    target = base / "db"
    target.mkdir()
    src = base / "src"
    build_corpus(src)
    db = BetfairDatabase(target, spark=spark)
    db.insert(src, copy=True)
    db.create_rollup()
    db.create_rollup(
        name="bytype", dims=["eventTypeId", "marketType"], aggs=["markets=count()"]
    )
    return db, src


@pytest.fixture()
def roles(monkeypatch):
    """The role of every ``materialize`` call, recorded by wrapping the
    binding of each module that cuts lineage on the write path."""
    from betfair_database_spark import database, etl, inserts, rollup

    seen = []
    for module in (etl, inserts, database, rollup):

        def recording(df, role="intermediate", _orig=module.materialize):
            seen.append(role)
            return _orig(df, role)

        monkeypatch.setattr(module, "materialize", recording)
    return seen


def test_insert_cuts(env, roles, tmp_path):
    db, src = env
    batch = tmp_path / "batch"
    batch.mkdir()
    for mid, template in (("1.333000001", "1.222000001"), ("1.333000002", "1.222000002")):
        meta = json.loads((src / f"{template}.json").read_text())
        meta["marketId"] = mid
        (batch / f"{mid}.json").write_text(json.dumps(meta))
        (batch / mid).write_text('{"op":"mcm"}')
    assert db.insert(batch, copy=True) == 2
    assert roles == INSERT_CUTS


def test_clean_cuts(env, roles):
    db, _ = env
    victim = db.select(["marketDataFilePath"], where="marketId = '1.222000002'")
    Path(victim[0]["marketDataFilePath"]).unlink()
    assert db.clean() == 1
    assert roles == CLEAN_CUTS
