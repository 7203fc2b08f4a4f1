"""File discovery walks every directory, as the reference's ``rglob("*")``
does (reference processor.py:165-193), including ``_``- and ``.``-prefixed
ones that Spark's file sources skip; only the engine's own
``.betfairdatabase*`` entries stay out."""

from __future__ import annotations

import pytest

from tests.corpus import EXPECTED, build_corpus


def test_list_files_keeps_hidden_dirs_and_skips_engine_entries(spark, tmp_path):
    from betfair_database_spark.sources.discovery import list_files

    files = {
        "1.1": b"a",
        "_archive/1.2.json": b"bb",
        ".archive/x/1.3.gz": b"ccc",
        ".hidden.json": b"dddd",
    }
    engine = [
        ".betfairdatabaseindex.parquet/eventTypeId=1/part-0.parquet",
        ".betfairdatabaseindex.parquet.lock",
        ".betfairdatabaserollup.parquet/_rollup_meta.json",
    ]
    for rel, data in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(data)
    for rel in engine:
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(b"engine")

    rows = list_files(spark, str(tmp_path)).collect()
    assert list(rows[0].asDict()) == ["path", "length"]
    assert {(r.path, r.length) for r in rows} == {
        (str(tmp_path / rel), len(data)) for rel, data in files.items()
    }


@pytest.mark.parametrize("prefix", ["_archive", ".archive"])
def test_index_finds_markets_under_hidden_dirs(spark, tmp_path, prefix):
    """A database whose markets were inserted under ``_archive/`` or
    ``.archive/`` re-indexes every one of them."""
    from pyspark.sql import functions as F

    from betfair_database_spark.database import BetfairDatabase

    target = tmp_path / "db"
    target.mkdir()
    src = tmp_path / "src"
    build_corpus(src)
    db = BetfairDatabase(target, spark=spark)
    assert db.insert(src, copy=True, pattern=F.lit(prefix)) == EXPECTED["rows"]
    assert db.index(force=True) == EXPECTED["rows"]
    assert db.size() == EXPECTED["rows"]
