"""The per-handle relation memo behind select(): the index and rollup
relations are built once per committed file list and reused until a
commit changes that list, by this handle or by another one."""

from __future__ import annotations

import json
import os
import threading

import pytest

from tests.corpus import EXPECTED, build_corpus


def _add_markets(root, dest, ids):
    """Write copies of two corpus markets under ``dest`` with new ids:
    a cricket and a greyhound market, each with a data file."""
    for mid, template in zip(ids, ("1.222000001", "1.222000002")):
        meta = json.loads((root / f"{template}.json").read_text())
        meta["marketId"] = mid
        (dest / f"{mid}.json").write_text(json.dumps(meta))
        (dest / mid).write_text('{"op":"mcm"}')


def _sorted(rows):
    return sorted(map(tuple, rows), key=repr)


def _ids(db):
    return {r["marketId"] for r in db.select(["marketId"])}


@pytest.fixture()
def builds(monkeypatch):
    """The ``base`` of every relation build, counted by wrapping the
    builder the memo calls on a miss."""
    from betfair_database_spark import database

    seen = []
    build = database._read_parquet_files

    def counting(spark, paths, schema, base):
        seen.append(base)
        return build(spark, paths, schema, base)

    monkeypatch.setattr(database, "_read_parquet_files", counting)
    return seen


@pytest.fixture()
def db_dir(spark, tmp_path):
    from betfair_database_spark.database import BetfairDatabase

    root = tmp_path / "db"
    build_corpus(root)
    BetfairDatabase(root, spark=spark).index()
    return root


def test_commit_by_another_handle_is_seen(spark, db_dir, tmp_path):
    from betfair_database_spark.database import BetfairDatabase

    a = BetfairDatabase(db_dir, spark=spark)
    b = BetfairDatabase(db_dir, spark=spark)
    assert _ids(a) == EXPECTED["indexed_market_ids"]
    before = a._read_index()
    src = tmp_path / "src"
    src.mkdir()
    new = {"1.333000001", "1.333000002"}
    _add_markets(db_dir, src, sorted(new))
    assert b.insert(src, copy=True) == len(new)
    assert _ids(a) == EXPECTED["indexed_market_ids"] | new
    assert a._read_index() is not before


def test_forced_reindex_cannot_alias_a_memo_entry(spark, db_dir):
    """index(force=True) restarts snapshot numbering: the rebuilt index
    is snapshot 1 again, over new files. A handle that read the old
    snapshot 1 must read the new files, not the deleted ones."""
    from betfair_database_spark.database import (
        BetfairDatabase,
        _manifest_snapshot_no,
    )

    a = BetfairDatabase(db_dir, spark=spark)
    b = BetfairDatabase(db_dir, spark=spark)
    assert _ids(a) == EXPECTED["indexed_market_ids"]
    snap = _manifest_snapshot_no(a._index_path)
    old_files = set(a._read_index().inputFiles())
    new = {"1.333000001", "1.333000002"}
    _add_markets(db_dir, db_dir, sorted(new))
    assert b.index(force=True) == EXPECTED["rows"] + len(new)
    assert _manifest_snapshot_no(a._index_path) == snap  # the premise
    assert _ids(a) == EXPECTED["indexed_market_ids"] | new
    assert not set(a._read_index().inputFiles()) & old_files


def test_rebuilt_rollup_is_read_from_its_new_files(spark, db_dir):
    """create_rollup at the same index snapshot swaps in new part-files:
    a routed select on another handle reads those, not the old ones."""
    from betfair_database_spark.database import BetfairDatabase
    from betfair_database_spark.rollup import spec_rollup_path

    spec = dict(name="byvenue", dims=["eventVenue"], aggs=["n=count()"])
    q = dict(columns=["eventVenue", "count(*) AS n"], group_by=["eventVenue"])
    a = BetfairDatabase(db_dir, spark=spark)
    b = BetfairDatabase(db_dir, spark=spark)
    a.create_rollup(**spec)
    want = _sorted(a.select(return_dict=False, use_rollups=False, **q))
    assert _sorted(a.select(return_dict=False, **q)) == want
    assert a.last_select_route == "rollup:byvenue"
    path = spec_rollup_path(db_dir, "byvenue")
    old = set(os.listdir(path))
    b.create_rollup(**spec)
    assert not {n for n in os.listdir(path) if n.endswith(".parquet")} & old
    routed = a.select_df(**q)
    assert a.last_select_route == "rollup:byvenue"
    assert _sorted(routed.collect()) == want
    live = {str(path / n) for n in os.listdir(path)}
    read = {f.removeprefix("file://") for f in routed.inputFiles()}
    assert read and read <= live


def test_concurrent_selects_on_two_databases(spark, tmp_path):
    """Two databases in one session, two client threads each, querying
    at the same time: every row a thread gets back lives under its own
    database."""
    from betfair_database_spark.database import BetfairDatabase

    dbs = []
    for name in ("one", "two"):
        root = tmp_path / name
        build_corpus(root)
        db = BetfairDatabase(root, spark=spark)
        db.index()
        dbs.append(db)
    clients = [db for db in dbs for _ in range(2)]
    start = threading.Barrier(len(clients), timeout=300)
    errors = []

    def client(db):
        base = str(db.database_dir.resolve()) + os.sep
        try:
            start.wait()
            for i, mid in enumerate(sorted(EXPECTED["indexed_market_ids"])[:4]):
                where = f"marketId = '{mid}'" if i % 2 else None
                rows = db.select(["marketId", "marketMetadataFilePath"], where=where)
                assert rows
                for r in rows:
                    assert r["marketMetadataFilePath"].startswith(base), r
        except Exception as e:  # surfaced in the main thread
            start.abort()
            errors.append(e)

    threads = [threading.Thread(target=client, args=(db,)) for db in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors


def test_selects_without_a_commit_build_the_index_relation_once(
    spark, db_dir, builds
):
    from betfair_database_spark.database import BetfairDatabase

    db = BetfairDatabase(db_dir, spark=spark)
    assert _ids(db) == EXPECTED["indexed_market_ids"]
    assert db.select(["marketId"], where="marketId = '1.222000001'")
    assert builds == [db._index_path]
    assert db._read_index() is db._read_index()
    assert len(builds) == 1


def test_memo_builds_once_under_thread_stress(spark, db_dir, builds):
    """More threads than cores read the index relation of one handle at
    once, with a short switch interval: a miss checked and filled without
    the lock would build it more than once."""
    import sys

    from betfair_database_spark.database import BetfairDatabase

    db = BetfairDatabase(db_dir, spark=spark)
    n = len(os.sched_getaffinity(0)) + 4
    start = threading.Barrier(n, timeout=60)
    got, errors = [], []

    def reader():
        try:
            start.wait()
            for _ in range(5):
                got.append(db._read_index())
        except Exception as e:  # surfaced in the main thread
            start.abort()
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    assert len(got) == 5 * n
    assert len(builds) == 1
    assert all(df is got[0] for df in got)
