"""Schema contract and enums.

The 37-column index schema and its declared order are part of the reference's
observable contract (reference: betfairdatabase/const.py:17-58; order asserted
by reference tests/test_integration.py:133-134). Booleans are stored as 0/1
integers to preserve SQLite-compatible predicate semantics such as
``bspMarket = true`` (reference tests/test_integration.py:205-207, 385-393).
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

INDEX_DIRNAME = ".betfairdatabaseindex.parquet"
SQL_TABLE_NAME = "BetfairDatabaseIndex"
METADATA_FILE_NAME = "metadata.json"
DATA_FILE_SUFFIXES = ("", ".zip", ".gz", ".bz2")

# Codec of every parquet file the engine writes (index part-files and
# rollups), at its default level. Parquet records the codec per column
# chunk, so files written earlier with another codec read unchanged.
PARQUET_COMPRESSION = "zstd"

MARKET_ID = "marketId"
MARKET_METADATA_FILE_PATH = "marketMetadataFilePath"
MARKET_DATA_FILE_PATH = "marketDataFilePath"

RACING_EVENT_TYPE_IDS = ("7", "4339")  # horse racing, greyhound racing

# Column name -> Spark type. Declared order is contractual; the two path
# columns are contractually last (reference const.py:55-57).
_SCHEMA_SPEC: tuple[tuple[str, object], ...] = (
    (MARKET_ID, StringType()),
    ("marketName", StringType()),
    ("marketStartTime", StringType()),  # ISO-8601 'Z' string, lexicographic order
    ("persistenceEnabled", IntegerType()),  # bool as 0/1
    ("bspMarket", IntegerType()),  # bool as 0/1
    ("marketTime", StringType()),
    ("suspendTime", StringType()),
    ("bettingType", StringType()),
    ("turnInPlayEnabled", IntegerType()),  # bool as 0/1
    ("marketType", StringType()),
    ("numberOfWinners", IntegerType()),  # market-definition only
    ("priceLadderDescriptionType", StringType()),
    ("lineRangeInfoMarketUnit", StringType()),
    ("eachWayDivisor", DoubleType()),
    ("raceType", StringType()),
    ("runners", IntegerType()),  # array cardinality, not the array
    ("eventTypeId", StringType()),
    ("eventTypeName", StringType()),
    ("competitionId", StringType()),
    ("competitionName", StringType()),
    ("eventId", StringType()),
    ("eventName", StringType()),
    ("eventCountryCode", StringType()),
    ("eventTimezone", StringType()),
    ("eventVenue", StringType()),
    ("eventOpenDate", StringType()),
    ("marketSettledTime", StringType()),
    # Injected data — local times (reference metadata.py:40-72)
    ("localDayOfWeek", StringType()),
    ("localMarketStartTime", StringType()),
    ("localEventOpenDate", StringType()),
    ("localMarketSettledTime", StringType()),
    # Injected data — racing metadata (reference racing.py:24-113)
    ("raceId", StringType()),
    ("raceTypeFromName", StringType()),
    ("raceDistanceMeters", DoubleType()),
    ("raceDistanceFurlongs", DoubleType()),
    # Contractually last
    (MARKET_METADATA_FILE_PATH, StringType()),
    (MARKET_DATA_FILE_PATH, StringType()),
)

SQL_TABLE_COLUMNS: tuple[str, ...] = tuple(name for name, _ in _SCHEMA_SPEC)

INDEX_SCHEMA = StructType(
    [StructField(name, dtype, True) for name, dtype in _SCHEMA_SPEC]
)

BOOLEAN_COLUMNS = ("persistenceEnabled", "bspMarket", "turnInPlayEnabled")


class DuplicatePolicy(Enum):
    """Duplicate handling on insert (reference const.py:67-81)."""

    SKIP = "skip"
    REPLACE = "replace"
    UPDATE = "update"


class SQLAction(Enum):
    """Per-market index action decided by the insert decision join
    (reference const.py:84-89)."""

    INSERT = "INSERT"
    SKIP = "SKIP"
    UPDATE = "UPDATE"
