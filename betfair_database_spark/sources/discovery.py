"""Recursive file discovery and classification (reference: processor.py:165-193).

The reference walks the tree once with ``rglob("*")`` and classifies by file
name. Here the single walk runs on the driver, as Spark's own file listing
of a single root does, and hands its ``(path, length)`` rows to Spark as a
local relation; classification is a ``when/otherwise`` projection over it.
Unlike a Spark file source, the walk keeps paths under ``_``- or
``.``-prefixed directories, as ``rglob("*")`` does; it skips only the
engine's own ``.betfairdatabase*`` entries.

Classification contract:
  - name starts with "1.": ``.json`` → metadata; ``.zip/.gz/.bz2`` → data;
    a "suffix" longer than 8 chars (i.e. no real extension, just the market
    id digits) → uncompressed data.
  - name == "metadata.json" → bulk metadata file.

The pairing key ("stem") is the absolute path minus the trailing
compression/json suffix — the same key the reference builds with
``file.with_suffix("")`` (processor.py:183-191).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from betfair_database_spark.const import METADATA_FILE_NAME

KIND_METADATA = "metadata"
KIND_DATA = "data"
KIND_BULK = "bulk"

# The engine's index, rollups, their swap directories and its lock file.
_ENGINE_PREFIX = ".betfairdatabase"


def list_files(spark: SparkSession, source_dir: str) -> DataFrame:
    """One walk of every file under source_dir, in path order.

    Returns columns: path (posix, absolute), length (bytes). The frame is
    a local relation: re-reading it never touches the disk again, and
    filters over it fold into its rows without a Spark job.
    """
    import pyarrow as pa

    paths, lengths = [], []
    for root, dirs, files in os.walk(os.path.abspath(source_dir)):
        dirs[:] = sorted(d for d in dirs if not d.startswith(_ENGINE_PREFIX))
        for name in sorted(files):
            if name.startswith(_ENGINE_PREFIX):
                continue
            path = os.path.join(root, name)
            try:
                size = os.stat(path).st_size
            except OSError:  # gone since the walk saw it, or a dangling link
                continue
            paths.append(path)
            lengths.append(size)
    # A pyarrow table, unlike a list of rows, becomes a LocalRelation.
    return spark.createDataFrame(
        pa.table(
            {
                "path": pa.array(paths, pa.string()),
                "length": pa.array(lengths, pa.int64()),
            }
        )
    )


def classify_files(listing: DataFrame) -> DataFrame:
    """Adds kind ∈ {metadata,data,bulk,null} and the pairing key ``stem``."""
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    # last-dot suffix, '' when the name has no dot
    suffix = F.regexp_extract(name, r"(\.[^.]*)$", 1)
    is_market = name.startswith("1.")
    kind = (
        F.when(is_market & (suffix == ".json"), F.lit(KIND_METADATA))
        .when(is_market & suffix.isin(".zip", ".gz", ".bz2"), F.lit(KIND_DATA))
        # uncompressed data files: digits after "1." parse as a long "suffix"
        .when(is_market & (F.length(suffix) > 8), F.lit(KIND_DATA))
        .when(name == METADATA_FILE_NAME, F.lit(KIND_BULK))
    )
    stem = F.when(
        kind == KIND_METADATA,
        F.expr("substring(path, 1, length(path) - 5)"),  # strip '.json'
    ).when(
        kind == KIND_DATA,
        F.when(
            suffix.isin(".zip", ".gz", ".bz2"),
            F.expr("substring(path, 1, length(path) - length(regexp_extract(path, '(\\\\.[^.]*)$', 1)))"),
        ).otherwise(F.col("path")),  # uncompressed: full path is the key
    )
    return listing.select(
        "path", "length", kind.alias("kind"), stem.alias("stem")
    ).where(kind.isNotNull())
