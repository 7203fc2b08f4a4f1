"""End-to-end index tests: golden value-count assertions over the fixture
corpus (technique mirrors reference tests/test_integration.py:56-62,152-248)."""

from __future__ import annotations

from collections import Counter

from tests.corpus import EXPECTED


def _counts(db, column, where=None):
    rows = db.select([column], where=where)
    return Counter(r[column] for r in rows)


def test_row_count_and_counters(indexed_db):
    assert indexed_db.size() == EXPECTED["rows"]
    c = indexed_db.last_counters
    assert c.total_markets == EXPECTED["total_markets"]
    assert c.markets_without_data == EXPECTED["markets_without_data"]
    assert c.markets_without_metadata == EXPECTED["markets_without_metadata"]
    assert c.corrupt_files == EXPECTED["corrupt_files"]
    assert c.validate()


def test_indexed_market_ids(indexed_db):
    got = {r["marketId"] for r in indexed_db.select(["marketId"])}
    assert got == EXPECTED["indexed_market_ids"]


def test_column_order_contract(indexed_db):
    from betfair_database_spark.const import SQL_TABLE_COLUMNS

    rows = indexed_db.select(limit=1)
    assert list(rows[0].keys()) == list(SQL_TABLE_COLUMNS)
    assert len(SQL_TABLE_COLUMNS) == 37
    assert SQL_TABLE_COLUMNS[-2:] == ("marketMetadataFilePath", "marketDataFilePath")


def test_boolean_stored_as_int(indexed_db):
    assert _counts(indexed_db, "bspMarket") == Counter({1: 5, 0: 4})


def test_event_type_histogram(indexed_db):
    assert _counts(indexed_db, "eventTypeId") == Counter(
        {"4339": 3, "7": 4, "4": 1, "1": 1}
    )
    # definition-sourced rows (files 05/12 + derived 04/06) carry no eventTypeName
    assert _counts(indexed_db, "eventTypeName")[None] == 4


def test_runner_counts(indexed_db):
    assert _counts(indexed_db, "runners") == Counter(
        {6: 3, 2: 1, 9: 1, 7: 1, 5: 1, 3: 1, 12: 1}
    )


def test_racing_enrichment_and_inheritance(indexed_db):
    rows = {
        r["marketId"]: r
        for r in indexed_db.select(
            ["marketId", "raceId", "raceTypeFromName", "raceDistanceMeters"]
        )
    }
    # PLACE market inherits the WIN market's features (same race)
    assert rows["1.222000003"]["raceId"] == rows["1.222000002"]["raceId"]
    assert rows["1.222000003"]["raceTypeFromName"] == "Mdn"
    assert rows["1.222000003"]["raceDistanceMeters"] == 320.0
    # no WIN market in the race → all four racing columns NULL
    assert rows["1.222000014"]["raceId"] is None
    assert rows["1.222000014"]["raceTypeFromName"] is None
    # non-racing market untouched
    assert rows["1.222000001"]["raceId"] is None


def test_catalogue_settled_time_stays_null(indexed_db):
    rows = indexed_db.select(
        ["marketId", "marketSettledTime"], where="marketId = '1.222000001'"
    )
    assert rows[0]["marketSettledTime"] is None


def test_derived_definition_last_wins(indexed_db):
    rows = indexed_db.select(
        ["runners", "marketSettledTime"], where="marketId = '1.222000004'"
    )
    # the later stream definition had 9 runners and a settled time
    assert rows[0]["runners"] == 9
    assert rows[0]["marketSettledTime"] == "2023-08-02T15:20:00.000Z"


def test_derived_metadata_file_written(indexed_db, corpus_dir):
    assert (corpus_dir / "1.222000004.json").exists()
    assert (corpus_dir / "1.222000006.json").exists()


def test_local_times(indexed_db):
    rows = {
        r["marketId"]: r
        for r in indexed_db.select(
            ["marketId", "localMarketStartTime", "localDayOfWeek"]
        )
    }
    assert rows["1.222000001"]["localMarketStartTime"] == "2023-07-28 13:35:00+01:00"
    assert rows["1.222000001"]["localDayOfWeek"] == "Friday"
    assert rows["1.222000014"]["localMarketStartTime"] == "2023-12-01 12:00:00+00:00"


def test_paths_are_absolute(indexed_db, corpus_dir):
    rows = indexed_db.select(["marketMetadataFilePath", "marketDataFilePath"])
    for r in rows:
        assert r["marketMetadataFilePath"].startswith("/")
        assert r["marketDataFilePath"].startswith("/")


def test_bulk_duplicate_market_id_last_entry_wins(indexed_db):
    # corpus bulk metadata.json lists 1.222000011 twice (stale Tennis entry
    # first, Soccer catalogue last); the LAST entry must be the indexed one,
    # matching the reference's dict-overwrite precedence.
    rows = indexed_db.select(
        ["marketName", "eventTypeId", "eventTypeName"],
        where="marketId = '1.222000011'",
    )
    assert len(rows) == 1
    assert rows[0]["marketName"] == "Match Odds"
    assert rows[0]["eventTypeId"] == "1"
    assert rows[0]["eventTypeName"] == "Soccer"


def test_index_parquet_has_marketid_bloom_filters(indexed_db, fresh_corpus, tmp_path):
    """Round 7: the index writer enables parquet bloom filters on
    marketId — the point-lookup key the sort order (marketStartTime)
    cannot prune. Assert EVERY part-file footer carries a bloom offset,
    for the files index() wrote, the files insert() appends (an insert
    into an empty database writes all of its part-files) and the files
    clean() rewrites. Each filter is sized to its file's own ids (a
    handful of markets gets a 2 KiB filter; one sized for a million ids,
    ~1 MiB, fails the bound) and has no false negatives: every marketId
    of a row group is found in that row group's filter. The same footers pin the manifest invariant: each
    committed partition's count is the sum of its listed files' row
    counts, and the listed files are exactly the part-files on disk."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from betfair_database_spark.database import BetfairDatabase, _manifest_read
    from tests.corpus import build_corpus

    target = tmp_path / "inserted"
    target.mkdir()
    inserted_db = BetfairDatabase(target, spark=indexed_db.spark)
    assert inserted_db.insert(fresh_corpus, copy=True) == EXPECTED["rows"]

    cleaned_root = tmp_path / "cleaned"
    build_corpus(cleaned_root)
    cleaned_db = BetfairDatabase(cleaned_root, spark=indexed_db.spark)
    cleaned_db.index()
    (cleaned_root / "1.222000001").unlink()
    assert cleaned_db.clean() == 1

    spark = indexed_db.spark
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    binary = jvm.org.apache.parquet.io.api.Binary
    for db in (indexed_db, inserted_db, cleaned_db):
        index_path = Path(db._index_path)
        manifest = _manifest_read(index_path)
        listed = {
            index_path / f"eventTypeId={k}" / name
            for k, e in manifest.items()
            for name in e["files"]
        }
        assert listed and listed == set(index_path.glob("eventTypeId=*/*.parquet"))
        for key, entry in manifest.items():
            rows = 0
            for name in entry["files"]:
                f = index_path / f"eventTypeId={key}" / name
                hpath = jvm.org.apache.hadoop.fs.Path(str(f))
                infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    hpath, conf
                )
                reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
                pf = pq.ParquetFile(f)
                found = False
                try:
                    blocks = reader.getFooter().getBlocks()
                    for bi in range(blocks.size()):
                        rows += blocks.get(bi).getRowCount()
                        cols = blocks.get(bi).getColumns()
                        for ci in range(cols.size()):
                            col = cols.get(ci)
                            if (
                                col.getPath().toDotString() == "marketId"
                                and col.getBloomFilterOffset() > 0
                            ):
                                found = True
                                length = col.getBloomFilterLength()
                                assert 0 < length <= 64 * 1024, (f, length)
                                bloom = reader.readBloomFilter(col)
                                ids = pf.read_row_group(
                                    bi, columns=["marketId"]
                                ).column("marketId").to_pylist()
                                assert ids, f
                                for mid in ids:
                                    assert bloom.findHash(
                                        bloom.hash(binary.fromString(mid))
                                    ), (f, mid)
                finally:
                    reader.close()
                assert found, f"no bloom filter offset for marketId in {f}"
            assert entry["count"] == rows, (index_path, key)
    assert cleaned_db.size() == EXPECTED["rows"] - 1


def test_point_lookup_across_index_and_insert_files(spark, tmp_path):
    """A marketId equality select is exact over a database built by
    index() and grown by insert(): an absent id returns no rows, and
    every id, whether its part-file (and bloom filter) came from index()
    or from insert(), returns exactly its own row."""
    import json

    from betfair_database_spark.database import BetfairDatabase
    from tests.corpus import build_corpus

    root = tmp_path / "db"
    build_corpus(root)
    db = BetfairDatabase(root, spark=spark)
    assert db.index() == EXPECTED["rows"]
    src = tmp_path / "src"
    src.mkdir()
    # a cricket and a greyhound market: their partitions are rewritten by
    # insert(), the horse and football partitions keep index()'s files
    inserted = {"1.333000001": "1.222000001", "1.333000002": "1.222000002"}
    for mid, template in inserted.items():
        meta = json.loads((root / f"{template}.json").read_text())
        meta["marketId"] = mid
        (src / f"{mid}.json").write_text(json.dumps(meta))
        (src / mid).write_text('{"op":"mcm"}')
    assert db.insert(src, copy=True) == len(inserted)
    assert db.select(["marketId"], where="marketId = '1.999999999'") == []
    for mid in sorted(EXPECTED["indexed_market_ids"] | inserted.keys()):
        rows = db.select(["marketId"], where=f"marketId = '{mid}'")
        assert rows == [{"marketId": mid}], mid
