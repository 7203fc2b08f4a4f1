"""Every parquet file the engine writes is zstd-compressed, and an index
whose part-files mix codecs (files written before the codec changed stay
as they are until rewritten) reads and maintains like an all-zstd one."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from tests.corpus import EXPECTED, build_corpus

# The partition whose part-file the mixed database rewrites as snappy
# (horse racing: 1.222000004, 1.222000005, and the two bulk markets).
SNAPPY_KEY = "7"


def _engine_parquet_files(root: Path) -> list[Path]:
    return sorted(
        f for d in root.glob(".betfairdatabase*") for f in d.rglob("*.parquet")
    )


def _codecs(f: Path) -> set[str]:
    import pyarrow.parquet as pq

    md = pq.read_metadata(f)
    return {
        md.row_group(i).column(j).compression
        for i in range(md.num_row_groups)
        for j in range(md.num_columns)
    }


def test_every_engine_parquet_file_is_zstd(spark, tmp_path):
    """index(), insert(), clean() and create_rollup() (built-in and named,
    then maintained by the clean) write every column chunk as ZSTD."""
    from betfair_database_spark.database import BetfairDatabase

    indexed_root = tmp_path / "indexed"
    build_corpus(indexed_root)
    indexed = BetfairDatabase(indexed_root, spark=spark)
    assert indexed.index() == EXPECTED["rows"]
    indexed.create_rollup()
    indexed.create_rollup(
        name="bytype", dims=["eventTypeId", "marketType"], aggs=["markets=count()"]
    )
    (indexed_root / "1.222000001").unlink()
    assert indexed.clean() == 1

    target = tmp_path / "inserted"
    target.mkdir()
    src = tmp_path / "src"
    build_corpus(src)
    inserted = BetfairDatabase(target, spark=spark)
    assert inserted.insert(src, copy=True) == EXPECTED["rows"]

    for root in (indexed_root, target):
        files = _engine_parquet_files(root)
        assert files, root
        for f in files:
            assert _codecs(f) == {"ZSTD"}, f
    rollup_dirs = {f.parent.name for f in _engine_parquet_files(indexed_root)}
    assert ".betfairdatabaserollup.parquet" in rollup_dirs
    assert ".betfairdatabaserollup-bytype.parquet" in rollup_dirs


def _live_part_file(db, key: str) -> Path:
    from betfair_database_spark.database import _manifest_read

    index_path = Path(db._index_path)
    (name,) = _manifest_read(index_path)[key]["files"]
    return index_path / f"eventTypeId={key}" / name


def _rewrite_as_snappy(f: Path) -> None:
    """Rewrite one part-file in place with pyarrow, same rows, same name.
    Hadoop's checksum sidecar of the old bytes goes with them."""
    import pyarrow.parquet as pq

    table = pq.ParquetFile(f).read()
    tmp = f.with_name(f.name + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, f)
    f.with_name(f".{f.name}.crc").unlink(missing_ok=True)


@pytest.fixture(scope="module")
def twins(spark, tmp_path_factory):
    """Two databases indexed from the same corpus; in ``mixed`` one
    committed part-file has been rewritten as snappy."""
    from betfair_database_spark.database import BetfairDatabase

    dbs = {}
    for name in ("zstd", "mixed"):
        root = tmp_path_factory.mktemp(name) / "db"
        build_corpus(root)
        db = BetfairDatabase(root, spark=spark)
        assert db.index() == EXPECTED["rows"]
        dbs[name] = db
    snappy = _live_part_file(dbs["mixed"], SNAPPY_KEY)
    _rewrite_as_snappy(snappy)
    assert _codecs(snappy) == {"SNAPPY"}
    assert _codecs(_live_part_file(dbs["zstd"], SNAPPY_KEY)) == {"ZSTD"}
    return dbs["zstd"], dbs["mixed"]


def _rows(db) -> list[tuple]:
    """Every index row, with paths relative to the database directory."""
    base = str(db.database_dir) + "/"
    out = []
    for row in db.select():
        for col in ("marketMetadataFilePath", "marketDataFilePath"):
            assert row[col].startswith(base), row[col]
            row[col] = row[col][len(base) :]
        out.append(tuple(row.items()))
    return sorted(out)


def test_mixed_codec_select_matches(twins):
    zstd, mixed = twins
    rows = _rows(mixed)
    assert len(rows) == EXPECTED["rows"]
    assert rows == _rows(zstd)
    assert mixed.select(
        ["marketId"], where="eventTypeId = '7' AND marketId = '1.222000005'"
    ) == [{"marketId": "1.222000005"}]


def test_mixed_codec_insert_into_another_partition(twins, tmp_path):
    """A cricket market goes into partition 4; the snappy file of
    partition 7 stays live beside the new zstd one."""
    zstd, mixed = twins
    src = tmp_path / "src"
    src.mkdir()
    meta = json.loads((zstd.database_dir / "1.222000001.json").read_text())
    meta["marketId"] = "1.333000001"
    (src / "1.333000001.json").write_text(json.dumps(meta))
    (src / "1.333000001").write_text('{"op":"mcm"}')
    counters = []
    for db in (zstd, mixed):
        assert db.insert(src, copy=True) == 1
        counters.append(vars(db.last_counters))
        assert db.size() == EXPECTED["rows"] + 1
    assert counters[0] == counters[1]
    assert _codecs(_live_part_file(mixed, SNAPPY_KEY)) == {"SNAPPY"}
    assert _rows(mixed) == _rows(zstd)


def test_mixed_codec_clean(twins):
    """Deleting a data file of the snappy partition: clean() retires its
    row and rewrites the partition as zstd."""
    zstd, mixed = twins
    for db in (zstd, mixed):
        (db.database_dir / "1.222000005.gz").unlink()
        assert db.clean() == 1
    assert _codecs(_live_part_file(mixed, SNAPPY_KEY)) == {"ZSTD"}
    assert _rows(mixed) == _rows(zstd)
